package graft.streaming

import graft.sources.FileSchemas
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface.
  *
  * The reference's "streaming" is a pull-based tf.data pipeline: unbounded
  * epochs, background prefetch, replica-synchronized stop — no event time
  * (reference: hybridbackend/tensorflow/data/prefetch/iterator.py:229-357,
  * data/sync/hook.py:62-152; SURVEY §2.11). Spark subsumes that model and
  * adds true event-time semantics; this module exposes the superset:
  * file-arrival micro-batching, watermarked windowed aggregation, and
  * keyed state (dedup, sessionization) via flatMapGroupsWithState.
  */
object StreamingOps {

  /** File-arrival stream over a parquet directory — the unbounded-epoch
    * analog of the reference's iterator model. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Watermarked tumbling-window aggregation — works identically on a
    * batch or streaming DataFrame (same function, same plan shape). */
  def windowedCounts(events: DataFrame, windowDur: String,
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(w => events.withWatermark("ts", w))
    in.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
  }

  /** Stream–static enrichment join: each micro-batch of the stream is
    * joined against a (small, broadcastable) static dimension — the
    * streaming form of the embedding-lookup left join
    * ([[graft.operators.EmbeddingLookup.lookup]]; reference
    * embedding/sharding.py:168-205). The dimension is re-read per
    * micro-batch by Spark's stream-static join machinery; broadcast
    * keeps it off the shuffle path. */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, payload: Seq[String]): DataFrame = {
    val d = dim.select((dimKey +: payload).map(col): _*)
    stream.join(broadcast(d), stream(streamKey) === d(dimKey), "left")
      .drop(d(dimKey))
  }

  /** Streaming MinHash-LSH content dedup, stage 1: per-(doc, band
    * bucket) precedence verdicts. The crawl-ingest shape: documents
    * stream in (arrival order = doc_id order) and each must be checked
    * against EVERYTHING seen so far without re-reading the corpus.
    *
    * State is one long per occupied bucket (the minimum claimant id) —
    * at 100 TB that is bounded by distinct buckets, not documents, and
    * lives in the checkpointable state store. A document is a duplicate
    * iff ANY of its `bands` buckets was already claimed by a smaller-id
    * document (prior micro-batch via state, same micro-batch via the
    * sorted group); reduce verdicts with [[lshStreamSurvivors]] —
    * batch-local per doc, so it composes in `foreachBatch` or over the
    * collected sink table without a second stateful operator.
    *
    * Same LSH family/layout as [[graft.operators.NearDup.lshCandidates]]
    * (candidate-level recall; the batch pipeline's exact-Jaccard verify
    * has no streaming analog without retaining full shingle state —
    * bucket-grain dedup is the standard streaming trade-off, documented).
    */
  def lshStreamClaims(spark: SparkSession, docs: DataFrame,
      n: Int = 3, k: Int = 16, bands: Int = 4): Dataset[(Long, Boolean)] = {
    import spark.implicits._
    import graft.operators.NearDup
    val sig = NearDup.minHashSignatures(docs, col("doc_id"), col("text"), n, k)
    NearDup.bandTuples(sig, bands, k / bands)
      .select(col("band").cast("int"), col("bh").cast("long"), col("doc_id").cast("long"))
      .as[(Int, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[Long, (Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[Long]) =>
          val ids = rows.map(_._3).toArray.sorted
          val prior = state.getOption.getOrElse(Long.MaxValue)
          state.update(math.min(prior, ids(0)))
          ids.iterator.map(d => (d, d > prior || d > ids(0)))
      }
  }

  /** Stage 2 of [[lshStreamClaims]]: reduce bucket verdicts to the kept
    * document set (docs with no preceded bucket). */
  def lshStreamSurvivors(claims: DataFrame): DataFrame =
    claims.toDF("doc_id", "preceded")
      .groupBy("doc_id").agg(max(col("preceded")).as("dup"))
      .where(!col("dup")).select("doc_id")

  /** Stream–stream event-time interval join: left rows match right rows
    * sharing `key` with `r.ts` in `[l.ts, l.ts + within]` — the
    * attribution shape (view → purchase within the window) as a TRUE
    * two-stream join, where neither side is static and both arrive in
    * micro-batches.
    *
    * Both sides carry the same watermark, and the time-bound join
    * condition is what lets Spark size the state store: a buffered left
    * row is evictable once the watermark passes `l.ts + within`, a right
    * row once it passes `r.ts` — state is bounded by (watermark + within)
    * worth of rows per side, NOT the full history. Results are exactly
    * the batch inequality join as long as no event arrives later than
    * the watermark allows (late rows are dropped — the documented
    * streaming trade; a `watermark` spanning the whole replay makes the
    * equality unconditional, which is how the gate runs it). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      within: String, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
      "inner")
  }

  /** Streaming CDC-apply sink: each micro-batch reduces to its
    * latest-per-key rows (max `orderCol`, exact struct-max argmax — the
    * [[graft.operators.Upsert.merge]] unique-key precondition) and
    * MERGEs into a parquet snapshot. Snapshots are versioned per batch
    * (`$snapshotDir/v$batchId`) so a reader never races a partial
    * overwrite and every batch's state is audit-able; [[latestSnapshot]]
    * resolves the newest version. This is the streaming maintenance
    * loop warehouse formats run under `MERGE INTO` from a CDC feed,
    * expressed over plain parquet.
    *
    * Scale: per batch, one key shuffle of (batch ∪ snapshot) — the
    * snapshot side is the big one, so the merge inherits Upsert.merge's
    * delta-side hash build; state lives in files, not executor memory.
    */
  def upsertApply(stream: DataFrame, snapshotDir: String, keys: Seq[String],
      orderCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cols = batch.columns.toSeq
      // exact latest-per-key: struct-max on (orderCol, rest) — total and
      // deterministic as long as orderCol is unique per key within a batch
      val latest = batch.groupBy(keys.map(col): _*)
        .agg(max(struct((orderCol +: cols.filterNot(c =>
          keys.contains(c) || c == orderCol)).map(col): _*)).as("__m"))
        .select(keys.map(col) ++
          cols.filterNot(keys.contains).map(c => col(s"__m.$c").as(c)): _*)
        .select(cols.map(col): _*)
      // merge against the newest snapshot STRICTLY BELOW this batch: a
      // replayed batch (restart after a failure mid-write of v$batchId)
      // must not merge against its own partial output — that would
      // silently drop every key only present in v$(batchId-1)
      val merged = latestSnapshot(spark, snapshotDir, below = Some(batchId)) match {
        case Some(cur) => graft.operators.Upsert.merge(cur.select(cols.map(col): _*), latest, keys)
        case None => latest
      }
      merged.write.mode("overwrite").parquet(s"$snapshotDir/v$batchId")
      ()
    }
  }

  /** Newest COMMITTED versioned snapshot written by [[upsertApply]], if
    * any — committed = the version directory carries Spark's _SUCCESS
    * marker, so a crash mid-overwrite can never surface as state.
    * Listing goes through the Hadoop FileSystem of the path (java.io
    * would silently return nothing for hdfs://, s3a://, ... and every
    * batch would discard all prior state). `below` excludes versions
    * >= that batch id (the replay guard). */
  def latestSnapshot(spark: SparkSession, snapshotDir: String,
      below: Option[Long] = None): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong)
        .toOption.map(_ -> st.getPath))
      .filter { case (v, p) =>
        below.forall(v < _) &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }
      .sortBy(_._1).lastOption
      .map { case (_, p) => FileSchemas.read(spark, Seq(p.toString)) }
  }

  /** Watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`):
    * exact key dedup whose per-key state EXPIRES with the event-time
    * watermark — bounded state regardless of key cardinality, the
    * production alternative to [[statefulDedup]]'s unbounded keyed state
    * whenever duplicates can only arrive within a bounded lateness
    * window (at-least-once ingestion retries, log replays). `events`
    * must carry an event-time `ts` column. */
  def watermarkDedup(events: DataFrame, keys: Seq[String], watermark: String): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Stateful streaming exact-dedup on a key: emit a row the first time
    * its key is seen, drop re-occurrences across micro-batches — the
    * streaming form of `dropDuplicates` with explicit keyed state. */
  def statefulDedup(spark: SparkSession, ids: Dataset[Long]): Dataset[Long] = {
    import spark.implicits._
    ids.groupByKey(identity)
      .flatMapGroupsWithState[Boolean, Long](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, _: Iterator[Long], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(id) }
      }
  }
}
