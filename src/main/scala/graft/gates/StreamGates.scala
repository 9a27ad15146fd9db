package graft
package gates

import graft.functions.Metrics
import graft.operators.Sessionize
import graft.streaming.StreamingOps
import graft.sources.FileSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** Streaming gates: windowed aggregation, sessionization and real
  * Structured Streaming queries (dedup, upsert, joins, file sink). */
object StreamGates {

  /** Run a started streaming query to completion and ALWAYS stop it — a
    * throwing processAllAvailable must not leak an active query (state
    * stores + memory sink) into the rest of a multi-gate session. */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Write `part` as the one file `<target>/<name>.parquet`, modified
    * `age` ms ago: FileStreamSource schedules files by modification
    * time, so staggered ages fix the order the micro-batches see. */
  private def stageAged(part: DataFrame, target: String, name: String, age: Long): Unit = {
    val tmp = target + "_" + name
    part.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(target, name + ".parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(src.toPath, dst.toPath)
    dst.setLastModified(System.currentTimeMillis() - age)
    GateFixtures.deleteRecursively(new java.io.File(tmp).toPath)
  }

  /** Per-user 30-min-gap session bounds (gap-inclusive: a new session
    * starts at diff > 1800 s) — the batch, sorted-kernel and streaming
    * session gates all answer it. */
  private val sessionBoundsOracle =
    """WITH e AS (SELECT user_id, event_id,
      |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS tsec FROM events),
      |s AS (SELECT user_id, event_id, tsec,
      |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800
      |       THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
      |g AS (SELECT user_id, tsec,
      |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsec, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM s)
      |SELECT user_id, MIN(tsec) AS session_start, MAX(tsec) + 1800 AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM g GROUP BY user_id, sess""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("stream_sliding_counts", { (s, d) =>
      // sliding event-time windows (1h window, 30m slide): each event
      // lands in two windows
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    }, """WITH e AS (
         |  SELECT event_type,
         |    unnest([time_bucket(INTERVAL '30 minutes', ts),
         |            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start,
         |    ts
         |  FROM events)
         |SELECT window_start, event_type, COUNT(*) AS n
         |FROM e
         |WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
         |GROUP BY window_start, event_type""".stripMargin),
    Gate("sessionize_batch", { (s, d) =>
      val e = Tables.events(s, d).withColumn("tsec", col("ts").cast("long"))
      Sessionize.sessionCounts(e, col("user_id"),
        col("tsec"), struct(col("tsec"), col("event_id")), gapSeconds = 1800L)
    }, """WITH e AS (SELECT user_id, event_id, value,
         |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS tsec FROM events),
         |s AS (SELECT user_id,
         |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800
         |       THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
         |SELECT user_id AS key, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
         |  COUNT(*) AS n_events
         |FROM s GROUP BY user_id""".stripMargin),
    Gate("session_window_agg", { (s, d) =>
      // native session windows (the construct that runs unchanged under
      // Structured Streaming with a watermark — StreamingSpec proves
      // streaming==batch): per-user 30-min-gap sessions with start/end
      // bounds. ts truncated to whole seconds so the gap comparison is
      // mirrored exactly by the second-granularity oracle; the window is
      // GAP-INCLUSIVE (an event exactly `gap` after the previous one
      // still merges — verified against a real 1800 s gap at sf0.1), so
      // the oracle's new-session predicate is diff > gap, not >=.
      Tables.events(s, d)
        .withColumn("tss", timestamp_seconds(col("ts").cast("long")))
        .groupBy(col("user_id"), session_window(col("tss"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("session_start"),
          col("session_window.end").cast("long").as("session_end"), col("n"))
    }, sessionBoundsOracle),
    Gate("sessionize_bounds_sorted", { (s, d) =>
      // the sorted-kernel batch path for session bounds: one narrow
      // (key, ts) exchange + one in-partition sort + a streaming
      // gaps-and-islands pass — identical rows to session_window_agg
      // (SessionizeSpec proves it) without the per-row window structs
      // and MergingSessions machinery. x200: 5.1 → ~2 s (PERF.md r9).
      Sessionize.sessionBoundsSorted(Tables.events(s, d),
        col("user_id"), col("ts").cast("long"), gapSeconds = 1800L)
        .withColumnRenamed("key", "user_id")
    }, sessionBoundsOracle),
    // ---- streaming-shaped windowed aggregation (reference §2.11) -------
    Gate("stream_window_counts", { (s, d) =>
      StreamingOps.windowedCounts(Tables.events(s, d), "1 hour")
    }, """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         |  COUNT(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin),
    // ---- real Structured Streaming through the gate --------------------
    Gate("stream_minhash_dedup", { (s, d) =>
      // streaming content dedup: docs arrive in doc_id order across a
      // micro-batch boundary; a doc is dropped iff any of its LSH band
      // buckets was already claimed by an earlier doc. Two ordered
      // files -> 2 micro-batches (bucket state must carry across).
      val dir = GateFixtures.dir("stream_lsh", d) { target =>
        val docs = Tables.documents(s, d).select("doc_id", "text")
        // arrival order must equal doc_id order: age the first half more
        stageAged(docs.where(col("doc_id") < 250), target, "b0", 120000L)
        stageAged(docs.where(col("doc_id") >= 250), target, "b1", 60000L)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_lsh_dedup_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.lshStreamClaims(s,
            s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir))
          .toDF("doc_id", "preceded")
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      StreamingOps.lshStreamSurvivors(s.table(name))
    },
      // batch mirror of the streaming claim semantics: kept docs = those
      // never preceded in ANY of their band buckets by a smaller doc_id
      s"""WITH ${OracleFragments.shingleCtes(3)},
         |${OracleFragments.minHashSigSql(16)},
         |${OracleFragments.lshCandidateSql(4, 4)},
         |pre AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id)
         |SELECT doc_id FROM sig WHERE doc_id NOT IN (SELECT doc_id FROM pre)""".stripMargin),
    Gate("stream_dedup_ids", { (s, d) =>
      import s.implicits._
      val dir = GateFixtures.dir("stream", d) { target =>
        // exactly 2 files -> 2 micro-batches: state must carry across a
        // batch boundary (the cross-batch SEMANTICS are spec'd with
        // overlapping ids in StreamingSpec); each extra micro-batch costs
        // ~0.6s of spin-up, so the volume gate keeps the minimum that
        // still crosses a boundary
        Tables.events(s, d).select("event_id").repartition(2).write.mode("overwrite").parquet(target)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_dedup_" + math.abs(dir.hashCode)
      // keyed state opens one state store per shuffle partition per
      // micro-batch; narrow the width for this small stateful query
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.statefulDedup(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir).as[Long])
          .toDF("event_id")
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    }, "SELECT DISTINCT event_id FROM events"),
    Gate("stream_upsert_apply", { (s, d) =>
      // streaming CDC apply: two ordered micro-batches of events MERGE
      // into a versioned parquet snapshot (latest-per-key per batch,
      // then Upsert.merge) — the warehouse MERGE-INTO-from-CDC loop.
      // Files split on the order column with staggered mtimes, so the
      // final snapshot is exactly latest-event-per-user (the oracle).
      val dir = GateFixtures.dir("stream_ups", d) { target =>
        val e = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
        val mid = e.agg(max(col("event_id"))).head.getLong(0) / 2
        stageAged(e.filter(col("event_id") <= mid), target, "b0", 120000L)
        stageAged(e.filter(col("event_id") > mid), target, "b1", 60000L)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val snap = java.nio.file.Files.createTempDirectory("graft_snap").toString
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.upsertApply(
            s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
            snap, Seq("user_id"), "event_id")
          .option("checkpointLocation", snap + "_ck")
          .start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      StreamingOps.latestSnapshot(s, snap).get
        .select(col("user_id"), col("event_id"), col("value"))
    }, """SELECT user_id, event_id, value FROM events
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1""".stripMargin),
    Gate("stream_dedup_watermark", { (s, d) =>
      // dropDuplicatesWithinWatermark under a REAL 2-micro-batch stream:
      // per-key state expires with the watermark (bounded state — the
      // production dedup for bounded-lateness duplicates). The delay is
      // set far past the data span so no row is late-dropped and the
      // output is exactly the distinct key set; only the key is emitted,
      // so which duplicate survives (arrival-order-dependent) cannot
      // affect the gate.
      val dir = GateFixtures.dir("stream_wm", d) { target =>
        Tables.events(s, d).select(col("user_id"), col("ts"))
          .repartition(2).write.mode("overwrite").parquet(target)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_wmdedup_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.watermarkDedup(
            s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
            Seq("user_id"), "3650 days")
          .select(col("user_id"))
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    }, "SELECT DISTINCT user_id FROM events"),
    Gate("stream_session_windows", { (s, d) =>
      // native session_window executed under a REAL 2-micro-batch file
      // stream — sessions must merge across the batch boundary through
      // the session state store; oracle = batch gaps-and-islands SQL
      // (same as session_window_agg's, proving streaming==batch==oracle)
      val dir = GateFixtures.dir("stream_sess", d) { target =>
        Tables.events(s, d).select(col("user_id"), col("ts"))
          .repartition(2).write.mode("overwrite").parquet(target)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_sess_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
          .withColumn("tss", timestamp_seconds(col("ts").cast("long")))
          .groupBy(col("user_id"), session_window(col("tss"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            col("session_window.start").cast("long").as("session_start"),
            col("session_window.end").cast("long").as("session_end"), col("n"))
          .writeStream.outputMode("complete").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    }, sessionBoundsOracle),
    Gate("stream_metric_auc", { (s, d) =>
      // the §2.7 thresholded-AUC Aggregator under a REAL 2-micro-batch
      // file stream in complete mode: the 402-long confusion-matrix
      // buffer merges across micro-batches through the streaming state
      // store — the metric-accumulation loop the reference runs inside
      // its training session (metrics/auc.py:38-185), matching the batch
      // oracle bit-for-bit
      val dir = GateFixtures.dir("stream_auc", d) { target =>
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
          .repartition(2).write.mode("overwrite").parquet(target)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_streamauc_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val agg = udaf(new Metrics.ThresholdedAuc(200))
        val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
          .select(
            when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"),
            least(col("value") / 200.0, lit(1.0)).as("p"))
          .agg(round(agg(col("y"), col("p")), 9).as("auc"))
          .writeStream.outputMode("complete").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    },
      // identical accumulation, streamed over 2 micro-batches — the gate
      // proves streaming==batch==oracle for the Aggregator path
      thresholdedAucOracle),
    // ---- stream-stream event-time interval join ------------------------
    Gate("stream_stream_join", { (s, d) =>
      // TRUE two-stream join: views and purchases arrive as independent
      // file streams (2 micro-batches each, cross-batch matches must come
      // from buffered state); a purchase attributes to every view by the
      // same user within the prior 4 hours. The replay-spanning watermark
      // makes the result exactly the batch inequality join.
      val dir = GateFixtures.dir("stream_ssj", d) { target =>
        val ev = Tables.events(s, d)
        ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
          .repartition(2).write.mode("overwrite").parquet(target + "/views")
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .repartition(2).write.mode("overwrite").parquet(target + "/purchases")
      }
      val vSchema = FileSchemas.read(s, Seq(dir + "/views")).schema
      val pSchema = FileSchemas.read(s, Seq(dir + "/purchases")).schema
      val name = "gate_ssj_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.intervalJoin(
            StreamingOps.fileStream(s, dir + "/views", vSchema),
            StreamingOps.fileStream(s, dir + "/purchases", pSchema),
            "user_id", "4 hours", "35 days")
          .select(col("l.event_id").as("view_id"), col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"),
            expr("(unix_micros(r.ts) - unix_micros(l.ts)) div 1000000").as("secs_after"))
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    },
      // batch mirror of the stream-stream interval join (the gate's
      // replay-spanning watermark drops nothing, so equality is exact)
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS secs_after
        |FROM events v JOIN events p ON p.user_id = v.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR""".stripMargin),
    // ---- exactly-once streaming FILE sink ------------------------------
    Gate("stream_file_sink", { (s, d) =>
      // the durable-sink surface (every other streaming gate uses the
      // memory sink): events stream micro-batch-by-micro-batch into a
      // parquet directory with a checkpoint; the _spark_metadata commit
      // log is what makes failed/duplicate attempts invisible to
      // readers (exactly-once). The sink is written ONCE at fixture
      // staging; the gate result is the committed read-back, which must
      // be the identity of the batch table.
      val dir = GateFixtures.dir("stream_sink", d) { target =>
        val srcDir = target + "/src"
        Tables.events(s, d).select("event_id", "user_id", "value")
          .repartition(2).write.mode("overwrite").parquet(srcDir)
        val schema = FileSchemas.read(s, Seq(srcDir)).schema
        val q = StreamingOps.fileStream(s, srcDir, schema)
          .writeStream.format("parquet")
          .option("path", target + "/sink")
          .option("checkpointLocation", target + "/ckpt")
          .outputMode("append").start()
        drain(q)
      }
      FileSchemas.read(s, Seq(dir + "/sink"))
    },
      // the streamed-through-sink rows must be exactly the batch table
      "SELECT event_id, user_id, value FROM events"),
    // ---- stream-static enrichment join (streaming embedding lookup) ----
    Gate("stream_enrich_join", { (s, d) =>
      // real readStream (2 files -> 2 micro-batches) left-joined per
      // batch against the broadcast embeddings dim — the streaming form
      // of lookup_join; result must equal the batch join exactly
      val dir = GateFixtures.dir("stream_enrich", d) { target =>
        Tables.events(s, d).select("event_id", "user_id")
          .repartition(2).write.mode("overwrite").parquet(target)
      }
      val schema = FileSchemas.read(s, Seq(dir)).schema
      val name = "gate_enrich_" + math.abs(dir.hashCode)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val q = StreamingOps.enrich(
          StreamingOps.fileStream(s, dir, schema),
          Tables.embeddings(s, d), "user_id", "vec_id", Seq("label"))
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        drain(q)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table(name)
    }, lookupLabelOracle),
  )
}
