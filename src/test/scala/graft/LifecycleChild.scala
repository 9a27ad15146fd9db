package graft

import graft.plans.{Freshness, LayoutAdvisor, MaterializedAggs, TableStats}
import graft.sources.{GraftFiles, TabularWriter}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The staged-layout lifecycle with the warehouse and the base data on
  * a [[GraftRootedFs]], one step per child JVM ([[ChildJvm]]): the
  * warehouse is a static conf, and what re-attaches a layout is a JVM
  * that did not stage it. The session is `GraftSession.local` under the
  * caller's SPARK_GRAFT_CONF. `stage` writes the base and stages a
  * bucketed projection and a rollup; `serve` attaches both, appends,
  * refreshes, compacts, and crashes a refresh between its swap's two
  * renames. Each check prints one RESULT line. */
object LifecycleChild {
  import ChildJvm.report

  private val (bucketed, rollup) = ("lc_bucketed", "lc_rollup")

  def main(args: Array[String]): Unit = {
    val Array(step, base) = args
    val spark = GraftSession.local("2")
    try step match {
      case "stage" => stage(spark, base)
      case "serve" => serve(spark, base)
    } finally spark.stop()
  }

  /** `n` rows from id `from`: 300 keys, so the rollup aggregates. */
  private def rows(spark: SparkSession, from: Long, n: Long): DataFrame =
    spark.range(from, from + n, 1, 2).select((col("id") % 300).as("k"), col("id").as("v"))

  private def layoutSpec(base: String) =
    LayoutAdvisor.LayoutSpec(base, "fact", "k", 4, Seq("k", "v"), hits = 1)

  private def perKey(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(base).groupBy("k").agg(sum("v").as("s"))

  private def rollupSpec(spark: SparkSession, base: String) =
    LayoutAdvisor.adviseAggRollups(Seq(perKey(spark, base)), minHits = 1).head

  private def location(spark: SparkSession, table: String): String =
    GraftFiles.locationOf(spark, table).toString

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def stage(spark: SparkSession, base: String): Unit = {
    rows(spark, 0, 3000).write.parquet(base)
    LayoutAdvisor.stage(spark, layoutSpec(base), bucketed)
    MaterializedAggs.stageRollup(spark, rollupSpec(spark, base), rollup)
    val files = for (t <- Seq(bucketed, rollup);
      f <- Seq(Freshness.RecordFile, TabularWriter.BucketSidecar)) yield new Path(location(spark, t), f)
    report("staged", files.filterNot(GraftFiles.exists(spark, _)).mkString(",") match {
      case "" => "ok"
      case missing => s"missing $missing"
    })
  }

  /** "equal" when the rollup serves the per-key read with the rows of
    * the flat read (the rewrite off). */
  private def served(spark: SparkSession, base: String): String =
    if (!MaterializedAggs.fired(perKey(spark, base), rollup)) "not-served"
    else {
      val got = sorted(perKey(spark, base))
      spark.conf.set("spark.graft.materializedAgg.enabled", "false")
      val flat = try sorted(perKey(spark, base))
        finally spark.conf.unset("spark.graft.materializedAgg.enabled")
      if (got == flat) "equal" else "differ"
    }

  private def serve(spark: SparkSession, base: String): Unit = {
    val spec = rollupSpec(spark, base)
    report("stats", if (TableStats.lookup(spark, rollup).isDefined) "read" else "absent")
    LayoutAdvisor.attach(spark, layoutSpec(base), Nil, bucketed, location(spark, bucketed))
    var meta = MaterializedAggs.attachRollup(spark, spec, rollup, location(spark, rollup))
    report("attached", served(spark, base))
    rows(spark, 3000, 500).write.mode("append").parquet(base)
    TabularWriter.appendToBucketedTable(rows(spark, 3000, 500), bucketed)
    meta = MaterializedAggs.refreshRollup(spark, meta)
    TabularWriter.compactBuckets(spark, bucketed)
    report("refreshed", served(spark, base))
    report("bucketed", if (sorted(spark.table(bucketed)) ==
      sorted(spark.read.parquet(base).select("k", "v"))) "equal" else "differ")
    // a crash between the swap's renames leaves nothing at the rollup's
    // location: an attach there refuses; renaming the aside copy back
    // (the swap's runbook) restores the rollup, and it refreshes again
    rows(spark, 3500, 500).write.mode("append").parquet(base)
    TabularWriter.compactCrashHook = () => throw new IllegalStateException("crash")
    val crashed = try { MaterializedAggs.refreshRollup(spark, meta); "no-crash" }
      catch { case _: IllegalStateException => "crashed" }
      finally TabularWriter.compactCrashHook = () => ()
    report("crash", crashed)
    val refusal = try {
      MaterializedAggs.attachRollup(spark, spec, rollup + "_probe", location(spark, rollup))
      "attached"
    } catch { case e: IllegalArgumentException => e.getMessage }
    report("crash-attach", if (refusal.startsWith("no layout record")) "refused" else refusal)
    spark.sql(s"ALTER TABLE `${rollup}__prerefresh` RENAME TO `$rollup`")
    meta = MaterializedAggs.refreshRollup(spark, meta)
    report("recovered", served(spark, base))
  }
}

/** A FileSystem whose paths do not coincide with local paths:
  * `graftrfs:/x` is stored at `<root>/x`, `root` being the local
  * directory in `fs.graftrfs.root`. `RawLocalFileSystem` builds the
  * paths of its statuses from the local file, so they are translated
  * back on the way out. Rename is atomic (a local rename). Top-level
  * class: Hadoop instantiates it by reflection. */
class GraftRootedFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private var root = ""

  override def getScheme: String = GraftRootedFs.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"${GraftRootedFs.Scheme}:///")

  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    root = new java.io.File(conf.get(s"fs.${GraftRootedFs.Scheme}.root")).getAbsolutePath
  }

  override def pathToFile(path: Path): java.io.File =
    new java.io.File(root, makeQualified(path).toUri.getPath)

  private def out(st: FileStatus): FileStatus = {
    val local = st.getPath.toUri.getPath
    if (local == root || local.startsWith(root + "/"))
      st.setPath(makeQualified(new Path("/" + local.drop(root.length).stripPrefix("/"))))
    st
  }

  override def getFileStatus(f: Path): FileStatus = out(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = out(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(out)
}

object GraftRootedFs {
  val Scheme = "graftrfs"
}

/** [[GraftRootedFs]] with an object store's rename: copy, then delete
  * ([[GraftObjectStoreFs.rename]]). */
class GraftRootedObjectStoreFs extends GraftRootedFs {
  override def rename(src: Path, dst: Path): Boolean = GraftObjectStoreFs.rename(this, src, dst)
}
