package graft

import graft.schema.SchemaValidator
import graft.sources.TabularReader
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source formats + the batch-boundary-invariance property (the
  * guarantee the reference's rebatch operator provides: query results
  * are independent of file/row-group layout — SURVEY §2.3, §5). */
class SourcesSpec extends GraftSpec {

  test("ORC round-trip through TabularReader.fromOrc") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/events_orc"
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").orc(dir)
    val back = TabularReader.fromOrc(spark, Seq(dir))
    assert(back.count() === events.count())
    assert(back.select("event_id", "user_id", "value").exceptAll(
      events.select("event_id", "user_id", "value")).count() === 0)
  }

  test("CSV source reads the same rows (reference's baseline path)") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/li_csv"
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(li.schema).csv(dir)
    assert(back.exceptAll(li).count() === 0 && li.exceptAll(back).count() === 0)
  }

  test("JSONL source round-trips documents bit-for-bit (declared schema)") {
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/docs_jsonl"
    val docs = Tables.documents(spark, sf)
    docs.write.mode("overwrite").json(dir)
    val back = TabularReader.fromJsonLines(spark, Seq(dir), docs.schema)
    assert(back.schema === docs.schema)
    assert(back.exceptAll(docs).count() === 0 && docs.exceptAll(back).count() === 0)
  }

  test("mergeSchema evolution: old files fill from the default, new files keep values") {
    import spark.implicits._
    import graft.schema.FieldSpec
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, 10L)).toDF("id", "a").write.parquet(dir + "/v1")
    Seq((2L, 20L, Option(5.0)), (3L, 30L, Option.empty[Double]))
      .toDF("id", "a", "v").write.parquet(dir + "/v2")
    val out = TabularReader.fromParquet(spark, Seq(dir + "/v1", dir + "/v2"),
      TabularReader.Options(mergeSchema = true, fields = Seq(
        FieldSpec("id", LongType), FieldSpec("a", LongType),
        FieldSpec("v", DoubleType, defaultValue = Some(-1.0)))))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // file-granular fill: only the file whose footer LACKS the column
    // takes the default; a genuine NULL in a post-evolution file
    // survives (a row-level coalesce would silently rewrite it)
    assert(out.toSeq === Seq(
      (1L, 10L, Some(-1.0)), (2L, 20L, Some(5.0)), (3L, 30L, None)))
  }

  test("mergeSchema evolution works for ORC too (footer branch parity)") {
    import spark.implicits._
    import graft.schema.FieldSpec
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = Files.createTempDirectory("graft_evolve_orc").toString
    Seq((1L, 10L)).toDF("id", "a").write.orc(dir + "/v1")
    Seq((2L, 20L, Option(5.0)), (3L, 30L, Option.empty[Double]))
      .toDF("id", "a", "v").write.orc(dir + "/v2")
    val out = TabularReader.fromOrc(spark, Seq(dir + "/v1", dir + "/v2"),
      TabularReader.Options(mergeSchema = true, fields = Seq(
        FieldSpec("id", LongType), FieldSpec("a", LongType),
        FieldSpec("v", DoubleType, defaultValue = Some(-1.0)))))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq === Seq(
      (1L, 10L, Some(-1.0)), (2L, 20L, Some(5.0)), (3L, 30L, None)))
  }

  test("non-default filesystem scheme: write + evolution read through graftfs:// URIs") {
    // The reference mounts hdfs/s3/oss behind one FS abstraction
    // (common/arrow.cc:77-107); Spark-side the analog is Hadoop's
    // FileSystem registry. Registering a NON-default scheme and running
    // the write -> mergeSchema-evolution read pipeline through it
    // catches the whole default-FS-assumption bug class: a java.io.File
    // on the data path, an unqualified Path, or a footer/fill predicate
    // whose path forms disagree (makeQualified drift) all break here.
    import spark.implicits._
    import graft.schema.FieldSpec
    import graft.sources.TabularWriter
    import org.apache.spark.sql.types.{DoubleType, LongType}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val dir = "graftfs:" + Files.createTempDirectory("graft_fsalias").toString
    TabularWriter.toParquet(Seq((1L, 10L)).toDF("id", "a"), dir + "/v1")
    TabularWriter.toParquet(
      Seq((2L, 20L, Option(5.0)), (3L, 30L, Option.empty[Double])).toDF("id", "a", "v"),
      dir + "/v2")
    val out = TabularReader.fromParquet(spark, Seq(dir + "/v1", dir + "/v2"),
      TabularReader.Options(mergeSchema = true, fields = Seq(
        FieldSpec("id", LongType), FieldSpec("a", LongType),
        FieldSpec("v", DoubleType, defaultValue = Some(-1.0)))))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq === Seq(
      (1L, 10L, Some(-1.0)), (2L, 20L, Some(5.0)), (3L, 30L, None)))
  }

  test("object-store rename semantics: multi-task commit + partitioned write survive copy+delete") {
    // A real MiniDFSCluster needs hadoop-hdfs test jars that do not
    // exist in this offline sandbox (verified: /opt/spark/jars +
    // coursier cache carry only hadoop-client-api/runtime). The
    // S3A/OSS-specific failure mode Spark jobs actually hit is NOT the
    // wire protocol — it is rename: object stores have no atomic
    // directory move, so every commit-protocol rename becomes per-object
    // copy+delete. GraftObjectStoreFs implements exactly those
    // semantics (flat per-object copy, recursive for "directories",
    // append rejected), so the FileOutputCommitter v1 task-commit +
    // job-commit rename chain and the Hive-layout partitioned write run
    // against object-store behavior end-to-end.
    import graft.sources.{TabularReader, TabularWriter}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftoss.impl", classOf[GraftObjectStoreFs].getName)
    val dir = "graftoss:" + Files.createTempDirectory("graft_oss").toString
    // multi-partition write => multiple task commits, each through the
    // copy+delete rename path
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).as("k"), (col("id") * 2).as("v")).repartition(8)
    TabularWriter.toParquet(df, dir + "/flat")
    val back = TabularReader.fromParquet(spark, Seq(dir + "/flat"))
    assert(back.count() === 1000L)
    assert(back.agg(sum(col("v"))).head.getLong(0) === (0L until 1000L).map(_ * 2).sum)
    // partitioned (Hive-layout) write + pruned read through the same FS
    TabularWriter.toPartitioned(df, dir + "/part", Seq("k"))
    val pruned = spark.read.parquet(dir + "/part").filter(col("k") === 3)
    assert(pruned.count() === (0L until 1000L).count(_ % 7 == 3))
    assert(GraftObjectStoreFs.renames.get() > 0,
      "the commit protocol never exercised the object-store rename path")
  }

  test("query results are invariant to input partition layout") {
    val li = Tables.lineitem(spark, sf)
    def q1(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("s"))
        .orderBy("l_returnflag").collect().toSeq
    val base = q1(li)
    assert(q1(li.repartition(1)) === base)
    assert(q1(li.repartition(13)) === base)
    assert(q1(graft.operators.Partitioners.shuffleRows(li, 99L)) === base)
  }

  test("tiny maxPartitionBytes (many splits) yields identical rows") {
    val conf = spark.conf
    val old = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val manySplits = spark.read.parquet(s"$sf/lineitem.parquet")
      assert(manySplits.rdd.getNumPartitions >= 1)
      val n = manySplits.count()
      conf.set("spark.sql.files.maxPartitionBytes", old)
      assert(n === spark.read.parquet(s"$sf/lineitem.parquet").count())
    } finally conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("validateFiles flags schema drift between files") {
    val dir = Files.createTempDirectory("graft_drift").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$dir/f1")
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/f2") // b: string vs long
    val mm = SchemaValidator.validateFiles(spark, Seq(s"$dir/f1", s"$dir/f2"))
    assert(mm.nonEmpty)
  }

  test("validateFiles flags a column only later files have (exact equality both ways)") {
    val dir = Files.createTempDirectory("graft_drift_extra").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$dir/f1")
    Seq((1L, "x", 9L)).toDF("a", "b", "c").write.parquet(s"$dir/f2") // extra column c
    val mm = SchemaValidator.validateFiles(spark, Seq(s"$dir/f1", s"$dir/f2"))
    assert(mm.exists(m => m.path.endsWith("f2") && m.detail.contains("field c")), mm.toString)
  }

  test("validateFiles reports a duplicate-name file as ITS mismatch, not a crash") {
    val dir = Files.createTempDirectory("graft_dupcols").toString
    spark.range(1).select(lit(1L).as("a"), lit(2L).as("x")).write.parquet(dir + "/ok")
    // writing case-colliding columns needs case-sensitive resolution on
    val prev = spark.conf.get("spark.sql.caseSensitive")
    try {
      spark.conf.set("spark.sql.caseSensitive", "true")
      spark.range(1).select(lit(1L).as("a"), lit(2L).as("A")).write.parquet(dir + "/dup")
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
    val okFile = new java.io.File(dir + "/ok").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    val dupFile = new java.io.File(dir + "/dup").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    // "a"/"A" collide under Spark's default case-insensitive resolution
    // (the read itself refuses); the sweep must keep going and report
    // the file instead of dying mid-run
    val ms = SchemaValidator.validateFiles(spark, Seq(okFile, dupFile),
      caseInsensitive = true)
    assert(ms.exists(m => m.path == dupFile &&
      m.detail.toLowerCase.contains("already exists")), ms.mkString("; "))
    assert(!ms.exists(_.path == okFile))
  }

  test("restore-at-scan: compressed fixture round-trips through TabularReader alone") {
    val dir = Files.createTempDirectory("graft_restore").toString + "/ev"
    val events = Tables.events(spark, sf)
    graft.sources.TabularWriter.toParquet(
      graft.operators.BlockDedup.compress(
        events, col("user_id"), col("event_id"), Seq("event_type")), dir)
    val restored = TabularReader.fromParquet(spark, Seq(dir), TabularReader.Options(
      restore = Seq(TabularReader.RestoreSpec("event_type_uniq", "event_type_idx", "event_type")),
      restoreOrdField = Some("__ord_list"),
      restoreOrdAs = Some("event_id")))
    // the restored ord column carries the ORIGINAL name, not an internal one
    assert(restored.columns.toSet === Set("block", "event_id", "event_type"))
    val back = restored.select("event_id", "event_type")
    val orig = events.select("event_id", "event_type")
    assert(back.count() === orig.count())
    assert(back.exceptAll(orig).count() === 0 && orig.exceptAll(back).count() === 0)
  }

  test("restore-at-scan without ord field gathers per-block value lists") {
    val dir = Files.createTempDirectory("graft_restore_noord").toString + "/ev"
    val events = Tables.events(spark, sf)
    graft.sources.TabularWriter.toParquet(
      graft.operators.BlockDedup.compress(
        events, col("user_id"), col("event_id"), Seq("event_type")), dir)
    val restored = TabularReader.fromParquet(spark, Seq(dir), TabularReader.Options(
      restore = Seq(TabularReader.RestoreSpec("event_type_uniq", "event_type_idx", "event_type"))))
    // one row per block; the gathered list equals the block's ordered values
    val got = restored.select(col("block"), col("event_type"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val want = events.orderBy("event_id").select("user_id", "event_type")
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toList }
    assert(got === want)
  }

  test("restore-at-scan rejects colliding output names") {
    val dir = Files.createTempDirectory("graft_restore_collide").toString + "/ev"
    val events = Tables.events(spark, sf)
    graft.sources.TabularWriter.toParquet(
      graft.operators.BlockDedup.compress(
        events, col("user_id"), col("event_id"), Seq("event_type")), dir)
    // ord restored as "block" would collide with the passthrough column
    val e1 = intercept[IllegalArgumentException] {
      TabularReader.fromParquet(spark, Seq(dir), TabularReader.Options(
        restore = Seq(TabularReader.RestoreSpec("event_type_uniq", "event_type_idx", "event_type")),
        restoreOrdField = Some("__ord_list"),
        restoreOrdAs = Some("block")))
    }
    assert(e1.getMessage.contains("block"))
    // a RestoreSpec.as equal to a passthrough column collides too
    val e2 = intercept[IllegalArgumentException] {
      TabularReader.fromParquet(spark, Seq(dir), TabularReader.Options(
        restore = Seq(TabularReader.RestoreSpec("event_type_uniq", "event_type_idx", "block"))))
    }
    assert(e2.getMessage.contains("block"))
  }

  test("row-range scan returns exactly [start, end) of the file's physical rows") {
    val path = s"$sf/lineitem.parquet"
    val full = spark.read.parquet(path)
      .select(col("_metadata.row_index").as("ri"), col("l_orderkey"))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    val ranged = TabularReader.fromParquet(spark, Seq(path),
      TabularReader.Options(rowStart = Some(10L), rowEnd = Some(25L)))
    assert(ranged.count() === 15)
    val got = spark.read.parquet(path)
      .select(col("_metadata.row_index").as("ri"), col("l_orderkey"))
      .filter(col("ri") >= 10 && col("ri") < 25)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    assert(got === full.slice(10, 25))
    assert(ranged.select("l_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      === full.slice(10, 25).sorted)
  }

  test("ORC row-range returns exactly [start, end) of the file's physical rows") {
    val dir = Files.createTempDirectory("graft_rr_orc").toString + "/ev"
    // known physical order: one partition of ascending ids
    import spark.implicits._
    (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite").orc(dir)
    val ranged = TabularReader.fromOrc(spark, Seq(dir),
      TabularReader.Options(rowStart = Some(10L), rowEnd = Some(25L)))
    assert(ranged.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (10L until 25L).toSeq)
    // open-ended bounds
    assert(TabularReader.fromOrc(spark, Seq(dir),
      TabularReader.Options(rowStart = Some(490L))).count() === 10)
    assert(TabularReader.fromOrc(spark, Seq(dir),
      TabularReader.Options(rowEnd = Some(7L))).count() === 7)
  }

  test("ORC row-range survives multi-split scans (per-split offsets compose)") {
    val dir = Files.createTempDirectory("graft_rr_orc_ms").toString + "/big"
    import spark.implicits._
    // small stripes so the file has many stripes a split can cut across
    (0L until 20000L).map(i => (i, ("x" * 64) + i)).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite")
      .option("orc.stripe.size", "65536").orc(dir)
    val conf = spark.conf
    val old = conf.get("spark.sql.files.maxPartitionBytes")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "65536") // force many splits
      val ranged = TabularReader.fromOrc(spark, Seq(dir),
        TabularReader.Options(rowStart = Some(4999L), rowEnd = Some(15003L)))
      assert(ranged.select("id").collect().map(_.getLong(0)).sorted.toSeq
        === (4999L until 15003L).toSeq)
    } finally conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("ORC row-range applies per file (external-sharding semantics)") {
    val dir = Files.createTempDirectory("graft_rr_orc_pf").toString
    import spark.implicits._
    (0L until 100L).map(i => Tuple1(i)).toDF("id")
      .coalesce(1).write.mode("overwrite").orc(s"$dir/f1")
    (1000L until 1100L).map(i => Tuple1(i)).toDF("id")
      .coalesce(1).write.mode("overwrite").orc(s"$dir/f2")
    val ranged = TabularReader.fromOrc(spark, Seq(s"$dir/f1", s"$dir/f2"),
      TabularReader.Options(rowStart = Some(5L), rowEnd = Some(8L)))
    // rows [5, 8) of EACH file, exactly as the parquet row_index path
    assert(ranged.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(5L, 6L, 7L, 1005L, 1006L, 1007L))
  }

  test("row-range on a rowless format fails fast with a clear message") {
    val dir = Files.createTempDirectory("graft_rr_csv").toString + "/ev"
    val li = Tables.lineitem(spark, sf).select("l_orderkey")
    li.write.mode("overwrite").option("header", "true").csv(dir)
    val e = intercept[IllegalArgumentException] {
      TabularReader.fromCsv(spark, Seq(dir), li.schema,
        opts = TabularReader.Options(rowStart = Some(5L)))
    }
    assert(e.getMessage.contains("row-range"))
  }
}

/** A local-disk FileSystem registered under a NON-default scheme —
  * exercises path resolution via `Path.getFileSystem(conf)` the way a
  * real hdfs/s3/oss mount would (no remote FS exists in the sandbox).
  * Must be a top-level class: Hadoop instantiates it by reflection. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Object-store SEMANTICS over local disk: rename is never atomic —
  * files copy byte-for-byte then delete the source, directories rename
  * per contained object (the S3A/OSS behavior that breaks
  * rename-assuming code); append is rejected (object stores are
  * immutable-put). Top-level class: Hadoop instantiates by
  * reflection. */
class GraftObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getScheme: String = "graftoss"
  override def getUri: java.net.URI = java.net.URI.create("graftoss:///")

  override def rename(src: Path, dst: Path): Boolean = GraftObjectStoreFs.rename(this, src, dst)

  override def append(f: Path, bufferSize: Int,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    throw new UnsupportedOperationException("object stores do not append")
}

object GraftObjectStoreFs {
  import org.apache.hadoop.fs.{FileSystem, Path}

  val renames = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `fs.rename` as an object store does it: a file is copied and then
    * deleted, a directory renamed one contained object at a time. */
  def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    if (!fs.exists(src)) return false
    if (fs.getFileStatus(src).isDirectory) {
      if (fs.exists(dst) && fs.getFileStatus(dst).isFile) return false
      fs.mkdirs(dst)
      val ok = fs.listStatus(src).forall(s => fs.rename(s.getPath, new Path(dst, s.getPath.getName)))
      ok && fs.delete(src, true)
    } else {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
        /*deleteSource=*/ true, /*overwrite=*/ true, fs.getConf)
    }
  }
}
