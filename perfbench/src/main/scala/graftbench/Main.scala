package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark JVM. run.py builds it, launches it and summarizes the
  * raw result it writes; see perfbench/README.md.
  *
  *   gen <dir>                  write the sf0.1 driver tables
  *   record <dataDir> <out>
  *                              record the output fingerprint of every
  *                              `tail` and `heavy` query
  *   run --workload w --seed n --seconds s --trace 0|1 --data d --work w --out f
  *                              one benchmark run
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") => gen(args(1))
    case Some("record") => record(args(1), args(2))
    case Some("run") => new Run(Opts.parse(args.tail.toSeq)).main()
    case _ => throw new IllegalArgumentException("usage: gen <dir> | record <data> <out> | run ...")
  }

  private def gen(dir: String): Unit = {
    val spark = graft.GraftSession.local("4")
    try DataGen.write(spark, dir)
    finally spark.stop()
  }

  private def record(data: String, out: String): Unit = {
    val spark = graft.GraftSession.local("4")
    val lines = (Workloads.Tail ++ Workloads.Heavy).sorted.map { n =>
      val fp = Fingerprint.of(graft.SparkEntry.queries(n)(spark, data))
      graft.GraftSession.clearSessionState(spark)
      s"$n\t$fp"
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** Query sets of the read workloads. The selection rule and the
  * scaling table behind it are in README.md. */
object Workloads {
  /** Sub-second at 4 cores and no faster with more cores: the cost is
    * table resolution, planning, small jobs and AQE gaps. Two queries
    * keep layers measured that only `heavy` would otherwise reach:
    * pack_sequences (a `localCheckpoint` inside the operator) and
    * stream_metric_auc (a real two-micro-batch stream with state; no
    * faster with more cores, but 0.9 s, over the sub-second rule). */
  val Tail: Seq[String] = Seq(
    "join_orders_customer", "pack_sequences", "q15_top_supplier", "q6_forecast_revenue",
    "sample_split", "scan_zstd_roundtrip", "sketch_kmv_distinct", "stream_metric_auc",
    "stream_window_counts", "window_rank_lag")

  /** Over a second at 4 cores and faster with more cores: executor CPU,
    * shuffle, codegen and the iterative localCheckpoint operators. */
  val Heavy: Seq[String] = Seq(
    "ann_topk_pq", "dedup_cluster_components", "stream_stream_join")
}

object Run {
  /** Set-ups per run. The first is timed from the JVM's start; `setup_s`
    * is the median of the others. */
  val SetUps = 3
  /** Untimed passes over the workload before the timed window. */
  val WarmupPasses = 1
}

/** One benchmark run: set-ups, warm-up and output check, timed window,
  * raw result. */
final class Run(o: Opts) {
  private val data = o.data
  private var spark: SparkSession = _
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queryRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var tracer: Tracer = _
  private var runSpan: Span = _
  private var roundSpan: Span = _
  private var nextQid = 0
  private var windowGc0 = 0L
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  def main(): Unit = {
    val ingest = if (o.workload == "ingest") Some(new Ingest(o, () => spark)) else None
    val queries = o.workload match {
      case "tail" => Workloads.Tail
      case "heavy" => Workloads.Heavy
      case "ingest" => Nil
      // any list of SparkEntry queries, without output check (probetail_check.py)
      case "custom" => o.queries
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    setUp()
    log(f"set-ups ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    ingest.foreach { ing =>
      val t0 = System.nanoTime()
      ing.stage()
      extra("stage_s") = (System.nanoTime() - t0) / 1e9
    }
    val jitSetupNs = Tracer.jitNs()
    if (o.trace) tracer = new Tracer(spark)
    ingest match {
      case Some(ing) => ing.run(this)
      case None => readWorkload(queries)
    }
    log(s"timed window done: ${ops.size} operations")
    extra("peak_heap_bytes") = Tracer.peakHeapBytes()
    extra("window_gc_s") = (Tracer.gcNs() - windowGc0) / 1e9
    hygiene()
    val retained = Tracer.retainedHeapBytes()
    if (o.trace) {
      tracer.close(runSpan)
      tablesApply()
      tracer.linkSchedulerSpans()
    }
    extra ++= ingest.map(_.summary).getOrElse(Map.empty)
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "trace" -> o.trace, "setup_s" -> setupS.toSeq,
      "jit_setup_s" -> jitSetupNs / 1e9,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "retained_heap_bytes" -> retained,
      "ops" -> ops.toSeq, "queries" -> queryRecords.toSeq,
      "spans" -> (if (o.trace) tracer.spans.map(spanJson).toSeq else Nil),
      "extra" -> extra.toMap)
    Files.write(Paths.get(o.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    spark.stop()
  }

  private def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "query" -> s.query, "start" -> s.start, "end" -> s.end,
    "attrs" -> s.attrs)

  /** `Run.SetUps` set-ups, each a fresh SparkSession and the resolution of
    * the ten driver tables. The first one also counts the JVM's own
    * start. */
  private def setUp(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    (1 to Run.SetUps).foreach { k =>
      val t0 = if (k == 1) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.GraftSession.local(o.cores.toString)
      DataGen.tableNames.foreach(t => graft.Tables(spark, data, t).schema)
      setupS += (System.nanoTime() - t0) / 1e9
    }
  }

  /** Counts one correctness check; a failed one is a failed operation. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(what, detail)
  }

  private def fail(what: String, detail: String): Unit = {
    failed += 1
    failures += s"$what: $detail"
    System.err.println(s"[perfbench] failed: $what: $detail")
  }

  def hygiene(): Unit = graft.GraftSession.clearSessionState(spark)

  private def readWorkload(queries: Seq[String]): Unit = {
    val expected = Fingerprint.load(o.fingerprints)
    // A query's answer is consumed by its output fingerprint, checked
    // against the recorded one: every execution, timed or not, is an
    // output check. The `custom` lists write to the noop sink instead,
    // as graft.Bench and graft.ProbeTail do.
    def sink(n: String)(df: DataFrame): Unit =
      if (o.workload == "custom") noop(df)
      else {
        val got = Fingerprint.of(df)
        check(s"output $n", expected.get(n).contains(got),
          s"fingerprint $got, recorded ${expected.getOrElse(n, "none")}")
      }
    // untimed warm-up through the same sink: the first execution of a
    // query stages its fixtures and compiles its plans
    (1 to Run.WarmupPasses).foreach { pass =>
      queries.sorted.foreach { n =>
        val t0 = System.nanoTime()
        try sink(n)(graft.SparkEntry.queries(n)(spark, data))
        catch { case e: Throwable => check(s"warm-up $n", ok = false, e.toString) }
        if (pass == 1) log(f"warm-up $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      hygiene()
    }
    windowStart()
    val rnd = new Random(o.seed)
    var timed = 0.0
    var round = 0
    // at least two rounds, so that every query has two samples
    while (timed < o.seconds || round < 2) {
      round += 1
      openRound()
      rnd.shuffle(queries).zipWithIndex.foreach { case (n, i) =>
        val fn = graft.SparkEntry.queries(n)
        // the traced run runs each query twice in a row, once traced
        // and once not, alternating which goes first: the paired
        // difference is the tracing overhead
        val modes = if (!o.trace) Seq(false)
          else if ((round + i) % 2 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach(traced => timed += op("query", n, round, traced)(fn(spark, data))(sink(n)))
      }
      closeRound()
      // session hygiene between rounds, untimed (graft.Bench does it
      // between queries; per round keeps the untimed share of a run small)
      hygiene()
    }
  }

  /** Marks the start of the timed window: peak heap is measured from here. */
  def windowStart(): Unit = {
    log("warm-up and checks done, timed window starts")
    if (o.trace) runSpan = tracer.open("run", -1, -1)
    Tracer.resetPeakHeap()
    windowGc0 = Tracer.gcNs()
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times one operation: `build` (DataFrame construction, including the
    * eager jobs iterative operators run) then `execute`. A traced op
    * records query/build/execute spans and the listener counters. A
    * failed operation is counted and timed like a successful one.
    * Returns its seconds. */
  def op(kind: String, name: String, round: Int, traced: Boolean)
      (build: => DataFrame)(execute: DataFrame => Unit): Double = {
    val qid = { nextQid += 1; nextQid }
    var error: Option[Throwable] = None
    val dt = if (!traced) {
      val t0 = System.nanoTime()
      try execute(build) catch { case e: Throwable => error = Some(e) }
      (System.nanoTime() - t0) / 1e9
    } else tracedOp(qid, kind, name, round) {
      try {
        val bs = tracer.open("build", tracer.current, qid)
        val df = try build finally tracer.close(bs)
        val es = tracer.open("execute", tracer.current, qid)
        try execute(df) finally tracer.close(es)
      } catch { case e: Throwable => error = Some(e) }
    }
    attempted += 1
    error.foreach(e => fail(s"$kind $name", e.toString))
    ops += Map("qid" -> qid, "kind" -> kind, "name" -> name, "round" -> round,
      "traced" -> traced, "s" -> dt, "ok" -> error.isEmpty)
    dt
  }

  private def tracedOp(qid: Int, kind: String, name: String, round: Int)(body: => Unit): Double = {
    tracer.start()
    val rules0 = Tracer.ruleMeter()
    val cg0 = Tracer.codegenCompiles()
    val parent = if (roundSpan != null) roundSpan.id else runSpan.id
    val q = tracer.inQuery(qid, name) {
      val qs = tracer.open("query", parent, qid)
      tracer.current = qs.id
      body
      val done = tracer.close(qs)
      tracer.drain()
      done
    }
    val cg1 = Tracer.codegenCompiles()
    val rules1 = Tracer.ruleMeter()
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    tracer.stop()
    val delta = rules1.map { case (r, (t, n, e)) =>
      val (t0, n0, e0) = rules0.getOrElse(r, (0L, 0L, 0L))
      r -> (t - t0, n - n0, e - e0)
    }.filter(_._2._2 > 0)
    val graftRules = delta.filter(_._1.startsWith("graft."))
    val c = tracer.countersOf(qid)
    queryRecords += Map(
      "qid" -> qid, "kind" -> kind, "name" -> name, "round" -> round,
      "stages" -> c.stages, "tasks" -> c.tasks, "run_ns" -> c.runNs, "cpu_ns" -> c.cpuNs,
      "deser_ns" -> c.deserNs, "sched_delay_ms" -> c.schedDelayMs,
      "input_rows" -> c.inputRows, "input_bytes" -> c.inputBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spill_bytes" -> c.spillBytes, "peak_mem_bytes" -> c.peakMem,
      "bytes_written" -> c.bytesWritten,
      "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs,
      "stream_batches" -> c.streamBatches, "stream_batch_ms" -> c.streamBatchMs,
      "stream_state_rows" -> c.streamStateRows,
      "rule_ns" -> delta.values.map(_._1).sum,
      "graft_rule_ns" -> graftRules.values.map(_._1).sum,
      "graft_rule_runs" -> graftRules.values.map(_._2).sum,
      "graft_rule_effective" -> graftRules.values.map(_._3).sum,
      "codegen_compiles" -> (cg1 - cg0),
      "checkpoint_bytes" -> storage)
    (q.end - q.start) / 1e9
  }

  /** Direct timing of `Tables.apply` on the ten driver tables, with the
    * jobs it runs (parquet schema inference). */
  private def tablesApply(): Unit = {
    tracer.start()
    val qid = { nextQid += 1; nextQid }
    val s = tracer.inQuery(qid, "tables") {
      val sp = tracer.open("tables", -1, qid)
      DataGen.tableNames.foreach(t => graft.Tables(spark, data, t).schema)
      val done = tracer.close(sp)
      tracer.drain()
      done
    }
    tracer.stop()
    extra("tables_apply_qid") = qid
    extra("tables_apply_s") = (s.end - s.start) / 1e9
  }

  def traced: Boolean = o.trace
  def openRound(): Unit = if (o.trace) roundSpan = tracer.open("round", runSpan.id, -1)
  def closeRound(): Unit = if (o.trace) tracer.close(roundSpan)
}
