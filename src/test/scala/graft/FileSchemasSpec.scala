package graft

import graft.sources.{FileSchemas, TabularReader}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The listing-validated schema cache behind every parquet/ORC read:
  * a repeat read of unchanged files runs no Spark job, and whatever it
  * returns (schema, rows, errors) is what the uncached read returns. */
class FileSchemasSpec extends GraftSpec {

  /** The suite stops its session once (to prove the cache outlives it),
    * so every test asks for the current one. */
  private def session: SparkSession = GraftSession.local("4")

  private val tableNames = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous: a marker job started afterwards is delivered after
    * every earlier event, so waiting for it drains the count. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val marker = "file-schemas-spec-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          done.countDown()
        else jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      body
      s.sparkContext.setJobGroup(marker, marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      jobs.get()
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Cached and uncached reads agree on schema and rows. */
  private def assertSameAsUncached(cached: DataFrame, uncached: DataFrame): Unit = {
    assert(cached.schema === uncached.schema)
    assert(rows(cached) === rows(uncached))
  }

  private def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(GateFixtures.deleteRecursively(d))
    d.toString
  }

  test("a second build of the ten Tables frames runs no Spark job, also in a fresh session") {
    def build(s: SparkSession): Unit = tableNames.foreach(t => Tables(s, sf, t).schema)
    build(session)
    assert(jobsDuring(session)(build(session)) === 0)
    session.stop()
    val fresh = session
    assert(jobsDuring(fresh)(build(fresh)) === 0)
  }

  test("cached schema and rows equal the uncached read for the ten tables") {
    val s = session
    tableNames.foreach { t =>
      val p = s"$sf/$t.parquet"
      FileSchemas.read(s, Seq(p))
      assertSameAsUncached(FileSchemas.read(s, Seq(p)), s.read.parquet(p))
    }
  }

  test("a Hive-partitioned directory reads with the uncached schema and rows") {
    val s = session
    val dir = tempDir("fs_hive") + "/t"
    Tables.events(s, sf).select(col("event_id"), col("value"), col("event_type"),
        (col("user_id") % 3).as("k"))
      .write.partitionBy("k", "event_type").parquet(dir)
    FileSchemas.read(s, Seq(dir))
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 0)
    assertSameAsUncached(FileSchemas.read(s, Seq(dir)), s.read.parquet(dir))
  }

  test("a TabularReader mergeSchema read over files with different columns") {
    val s = session
    val root = tempDir("fs_merge")
    val e = Tables.events(s, sf)
    e.select("event_id", "user_id").write.parquet(root + "/v1")
    e.select("event_id", "user_id", "value").write.parquet(root + "/v2")
    val paths = Seq(root + "/v1", root + "/v2")
    val opts = TabularReader.Options(mergeSchema = true)
    TabularReader.fromParquet(s, paths, opts)
    assert(jobsDuring(s)(TabularReader.fromParquet(s, paths, opts)) === 0)
    val uncached = s.read.option("mergeSchema", "true").parquet(paths: _*)
    assert(uncached.schema.fieldNames.toSet === Set("event_id", "user_id", "value"))
    assertSameAsUncached(TabularReader.fromParquet(s, paths, opts), uncached)
  }

  test("a path rewritten with a different schema under the same name returns the new schema") {
    val s = session
    import s.implicits._
    val dir = tempDir("fs_rewrite") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(dir)
    assert(FileSchemas.read(s, Seq(dir)).schema.fieldNames.toSeq === Seq("id", "name"))
    Seq((1.5, 2, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(dir)
    assertSameAsUncached(FileSchemas.read(s, Seq(dir)), s.read.parquet(dir))
    assert(FileSchemas.read(s, Seq(dir)).schema.fieldNames.toSeq === Seq("x", "y", "z"))
  }

  test("an appended file costs one inference job, then none") {
    val s = session
    import s.implicits._
    val dir = tempDir("fs_append") + "/t"
    (1L to 50L).map(i => (i, i * 2.0)).toDF("k", "v").coalesce(1).write.parquet(dir)
    FileSchemas.read(s, Seq(dir))
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 0)
    (51L to 60L).map(i => (i, i * 2.0)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 1)
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 0)
    // the qualified path (a staged layout's base identity) is the same entry
    assert(jobsDuring(s)(FileSchemas.read(s, Seq("file:" + dir))) === 0)
    assert(FileSchemas.read(s, Seq(dir)).count() === 60L)
  }

  test("the listing inventory equals the inventory of the FileIndex a read builds") {
    val s = session
    import s.implicits._
    // `.`- and `_`-prefixed ancestors: the hidden-name rule applies only below a root
    val root = tempDir("fs_inventory") + "/.work/_staging/t"
    (1L to 40L).map(i => (i, i * 2.0, i % 2)).toDF("id", "v", "k")
      .write.partitionBy("k").parquet(root)
    Files.write(Paths.get(root, "_graft_layout"), "base\t-\t-\n".getBytes("UTF-8"))
    val walk = Files.walk(Paths.get(root))
    val names = try walk.iterator().asScala.map(_.getFileName.toString).toSet finally walk.close()
    assert(Set("_SUCCESS", "_graft_layout", "k=1").subsetOf(names) &&
      names.exists(_.endsWith(".crc")), names)
    val listed = FileSchemas.list(s, Seq(root))
    val index = FileSchemas.read(s, Seq(root)).queryExecution.analyzed
      .collectFirst { case graft.plans.FileLeaf(_, fs, _) => fs.location }.get
    assert(listed.nonEmpty)
    assert(listed.forall(e => new org.apache.hadoop.fs.Path(e.path).getName.startsWith("part-")),
      listed)
    assert(listed.sortBy(_.line) === FileSchemas.entriesOf(index).sortBy(_.line))
    assert(FileSchemas.fingerprint(listed) === graft.plans.Freshness.ofIndex(index))
  }

  test("a hit read, a compaction and a stale stats check list a partitioned directory once") {
    val s = session
    import s.implicits._
    s.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val dir = "graftfs:" + tempDir("fs_listings") + "/t"
    def write(ids: Seq[Long], mode: String): Unit = ids.map(i => (i, i * 2.0, i % 4))
      .toDF("id", "v", "k").write.mode(mode).partitionBy("k").parquet(dir)
    write(1L to 40L, "error")
    val dirs = 5 // the root and k=0..3
    def listings(body: => Unit): Long = {
      val before = GraftTestFs.listings.get()
      body
      GraftTestFs.listings.get() - before
    }
    FileSchemas.read(s, Seq(dir))
    assert(listings(FileSchemas.read(s, Seq(dir))) === dirs, "hit read")
    // the compacted copy goes to the local filesystem, which is not counted
    assert(listings(graft.sources.TabularWriter.compact(s, dir, tempDir("fs_compacted") + "/c"))
      === dirs, "compact")
    graft.plans.TableStats.analyzePathIfMissing(s, dir, Seq("id"))
    write(41L to 48L, "append")
    FileSchemas.read(s, Seq(dir)) // the schema entry follows the append; the stats do not
    val stale = graft.plans.TableStats.lookup(s, dir).get
    val fresh = listings {
      assert(graft.plans.TableStats.analyzePathIfMissing(s, dir, Seq("id")).rowCount === 48L)
    }
    assert(stale.rowCount === 40L)
    assert(fresh === dirs, "stale analyzePathIfMissing")
  }

  test("a partition value that no longer fits the cached type reads as the uncached read") {
    val s = session
    import s.implicits._
    val dir = tempDir("fs_partition_type") + "/t"
    (1L to 20L).map(i => (i, i * 2.0, i % 2 + 1)).toDF("id", "v", "k")
      .write.partitionBy("k").parquet(dir)
    assert(FileSchemas.read(s, Seq(dir)).schema("k").dataType === IntegerType)
    Seq((21L, 42.0)).toDF("id", "v").write.parquet(dir + "/k=abc")
    assertSameAsUncached(FileSchemas.read(s, Seq(dir)), s.read.parquet(dir))
    assert(FileSchemas.read(s, Seq(dir)).schema("k").dataType === StringType)
  }

  test("a marker, a checksum or a sidecar keeps the hit; a changed _common_metadata misses") {
    val s = session
    import s.implicits._
    val dir = tempDir("fs_hidden") + "/t"
    (1L to 50L).map(i => (i, i * 2.0)).toDF("k", "v").coalesce(1).write.parquet(dir)
    FileSchemas.read(s, Seq(dir))
    Seq("_SUCCESS", ".part-extra.parquet.crc", "_graft_layout").foreach { n =>
      Files.write(Paths.get(dir, n), s"$n rewritten\n".getBytes("UTF-8"))
      assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 0, n)
    }
    // inference reads `_common_metadata` before any data footer
    def commonMetadataFrom(src: String): Unit = {
      val files = Files.list(Paths.get(src))
      val part = try files.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally files.close()
      Files.copy(part, Paths.get(dir, "_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    }
    commonMetadataFrom(dir)
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 1)
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 0)
    val other = tempDir("fs_common") + "/o"
    Seq((1L, 1.0, "x")).toDF("k", "v", "w").coalesce(1).write.parquet(other)
    commonMetadataFrom(other)
    assert(jobsDuring(s)(FileSchemas.read(s, Seq(dir))) === 1)
    assert(FileSchemas.read(s, Seq(dir)).schema === s.read.parquet(dir).schema)
  }

  /** One parquet file of `id` and `ts` longs written with the raw
    * parquet writer, `ts` annotated `tsType` (no Spark schema in the
    * footer, so inference alone decides the Spark type). */
  private def rawTimestamps(tsType: String): String = {
    val dir = tempDir("fs_ts")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message m { required int64 id; required int64 ts ($tsType); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir, "part-0.parquet"))
      .withConf(conf).withType(schema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      writer.write(groups.newGroup().append("id", i).append("ts", i * 1000001L))
    } finally writer.close()
    dir
  }

  /** The schema a read yields, or the exception class and message. */
  private def outcome(df: => DataFrame): Either[(Class[_], String), String] =
    try Right(df.schema.toDDL) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  /** Read `dir` cached under the session default, then under
    * `key=value`: the cached read must match the uncached one there,
    * and the default's entry must not leak into it. */
  private def assertConfKeysCache(dir: String, key: String, value: String) = {
    val s = session
    val prev = s.conf.get(key)
    val default = FileSchemas.read(s, Seq(dir)).schema
    val under = try {
      s.conf.set(key, value)
      val uncached = outcome(s.read.parquet(dir))
      assert(outcome(FileSchemas.read(s, Seq(dir))) === uncached)
      uncached
    } finally s.conf.set(key, prev)
    assert(FileSchemas.read(s, Seq(dir)).schema === default)
    (default, under)
  }

  test("inferTimestampNTZ=true gets the uncached type, not the cached one") {
    val (default, under) = assertConfKeysCache(rawTimestamps("TIMESTAMP(MICROS,false)"),
      "spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(default("ts").dataType === TimestampType)
    assert(under.exists(_.contains("ts TIMESTAMP_NTZ")), under)
  }

  test("nanosAsLong=false gets the uncached outcome, not the cached long") {
    val (default, under) = assertConfKeysCache(rawTimestamps("TIMESTAMP(NANOS,false)"),
      "spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(default("ts").dataType === LongType)
    // Spark refuses nanos it may not read as long; the cached long
    // schema must not paper over that
    assert(under.left.exists(_._2.contains("PARQUET_TYPE_ILLEGAL")), under)
  }

  test("a missing path and an empty directory fail exactly as spark.read.parquet") {
    val s = session
    import s.implicits._
    val missing = tempDir("fs_missing") + "/nope"
    val empty = tempDir("fs_empty")
    // directories read once (so the cache holds an entry), then emptied or removed
    val Seq(emptied, removed) = Seq("fs_emptied", "fs_removed").map { n =>
      val d = tempDir(n) + "/t"
      Seq((1L, 2.0)).toDF("k", "v").write.parquet(d)
      assert(FileSchemas.read(s, Seq(d)).count() === 1L)
      GateFixtures.deleteRecursively(Paths.get(d))
      d
    }
    Files.createDirectory(Paths.get(emptied))
    Seq(missing, empty, emptied, removed).foreach { p =>
      val expected = intercept[Exception](s.read.parquet(p))
      val got = intercept[Exception](FileSchemas.read(s, Seq(p)))
      assert(got.getClass === expected.getClass)
      assert(got.getMessage === expected.getMessage)
    }
  }
}
