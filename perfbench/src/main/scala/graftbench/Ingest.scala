package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{LayoutAdvisor, MaterializedAggs}
import graft.sources.TabularWriter

/** The `ingest` workload: cycles of append, maintain and serve over a
  * benchmark-owned copy of the driver data whose `lineitem.parquet` is
  * a directory of files.
  *
  * Set-up copies the data and stages a sorted bucketed lineitem and the
  * rollups `LayoutAdvisor.adviseAggRollups` advises for the served
  * reads. Each cycle appends a seeded batch as a new file, appends it to
  * the bucketed table, refreshes the rollups, serves the reads and
  * compacts the buckets back to one file each. Each served answer is
  * digested by its fingerprint inside the timed read; after the cycle,
  * outside the timed window, it is compared with the same read
  * recomputed from a fresh file listing with graft's rollup rewrite off,
  * and the row counts with the generator's own tally. */
object Ingest {
  val WarmupCycles = 1
}

final class Ingest(o: Opts, session: () => SparkSession) {
  private val root = Paths.get(o.work, "ingest")
  private val sf = root.resolve("sf")
  private val sfDir = sf.toString
  private val lineitemDir = sf.resolve("lineitem.parquet")
  private def warehouse = Paths.get(o.work, "warehouse")
  private val Bucketed = "ing_lineitem"
  private val Buckets = 8
  private val BatchRows = 20000
  private val RewriteFlag = "spark.graft.materializedAgg.enabled"

  private var metas: Seq[MaterializedAggs.Meta] = Nil
  private var tally = DataGen.LineItems
  private var appendedRows = 0L
  private var cycles = 0
  private var rollupServed = 0
  private var rollupChecked = 0
  private val filesPerBucket = mutable.ArrayBuffer.empty[Double]
  private var filesWritten = 0L
  private var appendedBytes = 0L

  private def cents(c: String) = round(col(c) * 100).cast("long")

  /** The served reads: driver query q18 over the growing directory (its
    * per-order quantity sum is what the staged rollup holds), a per-order
    * aggregate the rollup serves directly, and a per-order aggregate
    * over the bucketed table. */
  private val reads: Seq[(String, SparkSession => DataFrame)] = Seq(
    "q18_large_volume" -> (s => graft.SparkEntry.queries("q18_large_volume")(s, sfDir)),
    "rollup_per_order" -> (s => perOrder(graft.Tables.lineitem(s, sfDir))
      .filter(col("ar_qty_cents") > 5000L)),
    "bucketed_per_order" -> (s => s.table(Bucketed)
      .groupBy(col("l_orderkey").as("bk_orderkey"))
      .agg(sum(cents("l_quantity")).as("bk_qty_cents"))
      .filter(col("bk_qty_cents") > 15000L)))

  /** The reads the staged rollup can serve: both aggregate lineitem's
    * quantity per order. */
  private val RollupReads = Seq("q18_large_volume", "rollup_per_order")

  /** The bucketed layout carries only the columns its read needs. */
  private def bucketedColumns(li: DataFrame): DataFrame = li.select("l_orderkey", "l_quantity")

  private def perOrder(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey").as("ar_orderkey"))
      .agg(sum(cents("l_quantity")).as("ar_qty_cents"), count(lit(1)).as("ar_lines"))

  /** Fixture staging, after the set-ups. */
  def stage(): Unit = {
    val spark = session()
    Files.createDirectories(lineitemDir)
    DataGen.tableNames.foreach { t =>
      val src = Paths.get(o.data, s"$t.parquet")
      if (t == "lineitem") Files.copy(src, lineitemDir.resolve("part-00000-base.parquet"))
      else Files.copy(src, sf.resolve(s"$t.parquet"))
    }
    TabularWriter.toBucketedTable(bucketedColumns(graft.Tables.lineitem(spark, sfDir)), Bucketed,
      "l_orderkey", Buckets, sorted = true)
    val specs = LayoutAdvisor.adviseAggRollups(reads.map(_._2(spark)), minHits = 1)
      .filter(_.fact == "lineitem")
    require(specs.nonEmpty, "ingest: the advisor proposed no lineitem rollup for the reads")
    metas = specs.zipWithIndex.map { case (sp, i) =>
      MaterializedAggs.stageRollup(spark, sp, s"ing_rollup$i")
    }
  }

  private def batch(cycle: Int): Seq[Row] = (0 until BatchRows).map { i =>
    val r = new java.util.SplittableRandom(o.seed * 1000003L + cycle * 7919L + i)
    val row = DataGen.lineitemRow(r, r.nextLong(DataGen.Orders))
    // key-shifted: line numbers past the base range mark each batch
    Row.fromSeq(row.toSeq.updated(3, 7 + cycle))
  }

  def run(r: Run): Unit = {
    val served = mutable.Map.empty[String, String]
    // untimed cycles first: every write and read path warm, and checked
    (1 to Ingest.WarmupCycles).foreach(c => cycle(r, c, timedCycle = false, traced = false, served))
    r.windowStart()
    var timed = 0.0
    var n = 0
    // at least two timed cycles, so that every read has two samples
    while (timed < o.seconds || n < 2) {
      n += 1
      timed += cycle(r, Ingest.WarmupCycles + n, timedCycle = true, traced = r.traced, served)
    }
  }

  /** Cycle `c` (1-based, warm-up cycles included) and its freshness
    * check; returns the seconds of its operations. An untimed cycle runs
    * the same calls without recording them as operations. A traced
    * cycle traces its writes and runs each read twice in a row, once
    * traced and once not, alternating which goes first: the paired
    * difference is the tracing overhead. */
  private def cycle(r: Run, c: Int, timedCycle: Boolean, traced: Boolean,
      served: mutable.Map[String, String]): Double = {
    val spark = session()
    def op(kind: String, name: String, tr: Boolean = traced)
        (build: => DataFrame)(execute: DataFrame => Unit): Double =
      if (timedCycle) r.op(kind, name, c, tr)(build)(execute)
      else { execute(build); 0.0 }
    val rows = batch(c)
    def batchDf = spark.createDataFrame(java.util.Arrays.asList(rows: _*), DataGen.lineitemSchema)
    val before = listing()
    if (timedCycle) cycles += 1
    if (timedCycle) r.openRound()
    var t = 0.0
    t += op("write", "append")(batchDf)(
      _.coalesce(1).write.mode("append").parquet(lineitemDir.toString))
    t += op("write", "bucket_append")(bucketedColumns(batchDf))(
      TabularWriter.appendToBucketedTable(_, Bucketed))
    t += op("write", "refresh")(null)(_ =>
      metas = metas.map(MaterializedAggs.refreshRollup(spark, _)))
    tally += BatchRows
    reads.zipWithIndex.foreach { case ((n, df), i) =>
      val modes = if (!traced) Seq(false)
        else if ((c + i) % 2 == 0) Seq(true, false) else Seq(false, true)
      modes.foreach(m => t += op("query", n, m)(df(spark))(d => served(n) = Fingerprint.of(d)))
    }
    val filesNow = Files2.dataFiles(warehouse.resolve(Bucketed)).size.toDouble / Buckets
    // compaction after the reads, so they see the appended bucket files
    t += op("write", "compact")(null)(_ => TabularWriter.compactBuckets(spark, Bucketed))
    if (timedCycle) r.closeRound()
    if (timedCycle) {
      val after = listing()
      filesWritten += (after.keySet -- before.keySet).size
      val grown = after.filter(_._1.startsWith(lineitemDir.toString)).values.sum -
        before.filter(_._1.startsWith(lineitemDir.toString)).values.sum
      appendedRows += BatchRows
      filesPerBucket += filesNow
      appendedBytes += grown
    }
    r.hygiene()
    verify(r, served, c)
    t
  }

  /** Data files of the fact and its derived layouts, path -> bytes. */
  private def listing(): Map[String, Long] =
    (Files2.dataFiles(lineitemDir) ++ Files2.dataFiles(warehouse))
      .map(p => p.toString -> Files.size(p)).toMap

  /** Freshness check of one cycle, outside the timed window. */
  private def verify(r: Run, served: mutable.Map[String, String], cycle: Int): Unit = {
    val spark = session()
    RollupReads.foreach { n =>
      val df = reads.find(_._1 == n).get._2(spark)
      rollupChecked += 1
      if (metas.exists(m => MaterializedAggs.fired(df, m.catalogTable))) rollupServed += 1
    }
    spark.conf.set(RewriteFlag, "false")
    try reads.foreach { case (n, df) =>
      val ref = Fingerprint.of(df(spark))
      r.check(s"fresh $n cycle $cycle", served.get(n).contains(ref),
        s"served ${served.getOrElse(n, "none")}, fresh listing $ref")
    } finally spark.conf.unset(RewriteFlag)
    val flat = graft.Tables.lineitem(spark, sfDir).count()
    r.check(s"tally lineitem cycle $cycle", flat == tally, s"$flat rows, generator $tally")
    val bucketed = spark.table(Bucketed).count()
    r.check(s"tally bucketed cycle $cycle", bucketed == tally, s"$bucketed rows, generator $tally")
    // served from the rollup when the rewrite fires
    val lines = perOrder(graft.Tables.lineitem(spark, sfDir)).agg(sum("ar_lines")).head().getLong(0)
    r.check(s"tally rollup cycle $cycle", lines == tally, s"$lines lines, generator $tally")
    r.hygiene()
  }

  def summary: Map[String, Any] = {
    val fact = Files2.bytes(lineitemDir)
    val derived = Files2.bytes(warehouse)
    Map("cycles" -> cycles, "appended_rows" -> appendedRows,
      "fact_bytes" -> fact, "derived_bytes" -> derived,
      "rollup_served" -> rollupServed, "rollup_checked" -> rollupChecked,
      "files_per_bucket" -> filesPerBucket.toSeq, "files_written" -> filesWritten,
      "appended_bytes" -> appendedBytes, "rollups" -> metas.map(_.catalogTable))
  }
}
