package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import graft.operators.{DedupClusters, Graph}
import org.apache.spark.SparkContext
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Checks of `operators.Materialize`'s two paths that need a
  * SparkContext of their own: a checkpoint directory, once set, cannot
  * be unset, and a `local-cluster` master is a second context, which a
  * spec JVM cannot start beside the suite's session
  * (`GraftSession.local` is getOrCreate). [[run]] launches [[main]] in a
  * child JVM; each check prints one `RESULT <name> <verdict>` line. */
object MaterializeChild {

  /** Runs `mode` on `master` in a child JVM on this JVM's classpath,
    * in a temporary working directory (where Spark's default warehouse
    * lands) with a temporary checkpoint directory and SPARK_HOME, all
    * deleted afterwards. Returns the RESULT verdicts by name and the
    * child's whole output, for the failure message. */
  def run(mode: String, master: String): (Map[String, String], String) = {
    val tmp = Files.createTempDirectory("graft_materialize")
    // local-cluster workers build the executor classpath from
    // $SPARK_HOME/jars and write their work dir under $SPARK_HOME: a
    // private home that links the jars keeps that work dir temporary
    val home = Files.createDirectories(tmp.resolve("spark_home"))
    val jars = home.resolve("jars")
    try {
      Files.createSymbolicLink(jars, Paths.get(
        classOf[SparkContext].getProtectionDomain.getCodeSource.getLocation.toURI).getParent)
      val log = tmp.resolve("child.log")
      val cp = System.getProperty("java.class.path").split(File.pathSeparator)
        .map(Paths.get(_).toAbsolutePath.toString).mkString(File.pathSeparator)
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        JavaModuleOptions.defaultModuleOptionArray() ++
        Seq("-Xmx1g", "-cp", cp, "graft.MaterializeChild", mode, master,
          tmp.resolve("checkpoints").toString)
      val pb = new ProcessBuilder(cmd: _*).directory(tmp.toFile)
        .redirectErrorStream(true).redirectOutput(log.toFile)
      pb.environment().put("SPARK_HOME", home.toString)
      pb.environment().put("SPARK_SCALA_VERSION", scala.util.Properties.versionNumberString
        .split('.').take(2).mkString("."))
      val p = pb.start()
      if (!p.waitFor(10, TimeUnit.MINUTES)) { p.destroyForcibly(); p.waitFor() }
      val out = Files.readString(log)
      val results = out.linesIterator.map(_.split(" ", 3)).collect {
        case Array("RESULT", name, verdict) => name -> verdict
      }.toMap
      (results, out)
    } finally {
      Files.deleteIfExists(jars) // the link only, never the jars it points to
      GateFixtures.deleteRecursively(tmp)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, master, checkpointDir) = args
    val spark = SparkSession.builder().master(master)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "6")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.log.level", "WARN")
      .getOrCreate()
    try mode match {
      case "durable" => durable(spark, checkpointDir)
      case "loss" => loss(spark, checkpointDir)
    } finally spark.stop()
  }

  private def report(name: String, verdict: String): Unit = println(s"RESULT $name $verdict")

  /** Chains of 50 ids, so the component of `id` is `id - id % 50`. */
  private def components(spark: SparkSession): DataFrame =
    DedupClusters.connectedComponents(
      spark.range(0, 3000, 1, 6).select(col("id").as("a"),
        when((col("id") + 1) % 50 === 0, col("id")).otherwise(col("id") + 1).as("b")),
      col("a"), col("b"))

  /** Six sweeps, so the frontier is cut once (checkpointEvery 5). */
  private def pageRank(spark: SparkSession): DataFrame =
    Graph.pageRankNano(Graph.coOccurrenceEdges(
      spark.range(0, 600, 1, 6).select((col("id") / 3).cast("long").as("basket"),
        (col("id") % 97).as("item")), col("basket"), col("item")), iters = 6)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The RDDs that `df`'s plan reads through a lineage cut. */
  private def cuts(df: DataFrame) =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd }

  /** Same rows with and without a checkpoint directory; with one, every
    * cut the returned plans read is a reliable-checkpoint file. */
  private def durable(spark: SparkSession, dir: String): Unit = {
    val default = Seq(components(spark), pageRank(spark))
    val expected = default.map(rows)
    spark.sparkContext.setCheckpointDir(dir)
    val durable = Seq(components(spark), pageRank(spark))
    report("durable-rows", if (durable.map(rows) == expected) "equal" else "differ")
    def kind(dfs: Seq[DataFrame]) = dfs.map(cuts).map { rdds =>
      if (rdds.isEmpty) "none"
      else if (rdds.forall(_.getCheckpointFile.isDefined)) "reliable" else "local"
    }.distinct.mkString(",")
    report("default-plan", kind(default))
    report("durable-plan", kind(durable))
  }

  /** Kill one executor between connected components' last round and
    * the read of its result, once per path: the default path must fail
    * as `Materialize.truncate` documents, the durable one must return
    * the rows of a run without a kill. */
  private def loss(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    await("3 executors")(sc.getExecutorMemoryStatus.size == 4) // + the driver
    val blocks = new ConcurrentHashMap[String, java.util.Set[Int]]() // executor -> rdd ids
    sc.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.storageLevel.isValid) b.blockId.asRDDId.foreach(id =>
          blocks.computeIfAbsent(b.blockManagerId.executorId,
            _ => ConcurrentHashMap.newKeySet[Int]()).add(id.rddId))
      }
    })
    val expected = rows(components(spark))
    val closedForm = (0L until 3000L).map(i => s"[$i,${i - i % 50}]").sorted
    report("baseline", if (expected == closedForm) "closed-form" else "wrong")

    val cut = components(spark)
    // a lazy cut read only by AQE shuffle stages keeps its lineage; the
    // final edge set, read by the last round's collect, is truncated
    val cutIds = cuts(cut).filter(_.isCheckpointed).map(_.id).toSet
    def holding = blocks.asScala.collectFirst {
      case (exec, ids) if ids.asScala.exists(cutIds) => exec
    }
    await("a cut block on an executor")(holding.isDefined)
    val victim = holding.get
    kill(sc, victim)
    val outcome =
      try { rows(cut); "survived" }
      catch { case e: Exception =>
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        if (causes.exists(c => String.valueOf(c.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")))
          "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"
        else s"failed: $e"
      }
    report("default", outcome)

    sc.setCheckpointDir(dir)
    val durable = components(spark)
    kill(sc, blocks.keySet.asScala.filterNot(_ == victim).head) // never the last executor
    report("durable", if (rows(durable) == expected) "equal" else "differ")
  }

  /** Kills `exec` and waits until its block manager is gone. */
  private def kill(sc: SparkContext, exec: String): Unit = {
    val before = sc.getExecutorMemoryStatus.size
    require(sc.killExecutor(exec), s"kill of executor $exec refused")
    await(s"executor $exec removed")(sc.getExecutorMemoryStatus.size == before - 1)
  }

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (!cond) {
      require(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }
}
