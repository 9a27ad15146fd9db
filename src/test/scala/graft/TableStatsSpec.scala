package graft

import org.apache.spark.sql.functions._

/** [[graft.plans.TableStats]]: the measured-statistics product — one
  * analyze pass, persisted registry, and the two consumers (the
  * eager-aggregation unique-key decline and the advisor's measured
  * equality selectivity). */
class TableStatsSpec extends GraftSpec {
  import graft.plans.TableStats

  test("analyze measures exact rows + ~exact NDV, persists, and survives a cache flush") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ts_spec")
    try {
      val dir = root.resolve("t.parquet").toString
      (1L to 2000L).map(i => (i, i % 40, s"s${i % 7}")).toDF("uid", "cat", "s")
        .write.parquet(dir)
      val st = TableStats.analyze(spark, spark.read.parquet(dir), dir,
        Seq("uid", "cat", "s", "absent_col"))
      assert(st.rowCount === 2000L)
      // HLL++ at default rsd 5%: estimates, not exact counts — assert
      // the 10% envelope the consumers are designed around
      assert(math.abs(st.ndv("uid") - 2000L) <= 200, st.ndv.toString)
      assert(math.abs(st.ndv("cat") - 40L) <= 4, st.ndv.toString)
      assert(math.abs(st.ndv("s") - 7L) <= 1, st.ndv.toString)
      assert(!st.ndv.contains("absent_col"), "missing columns are skipped")
      assert(st.uniqueish("uid") && !st.uniqueish("cat") && !st.uniqueish("absent"))
      assert(st.selectivityEq("cat") === Some(1.0 / st.ndv("cat").toDouble))
      // the registry file survives an in-process cache flush (the
      // fresh-JVM persistence path)
      TableStats.invalidateCache()
      val wh = TableStats.warehouseOf(spark)
      val back = TableStats.lookup(wh, dir)
      assert(back === Some(st.copy(key = dir)))
      // alias: the staged-table identity carries the same measurement
      TableStats.alias(wh, st, "ts_spec_alias")
      assert(TableStats.lookup(wh, "ts_spec_alias").exists(_.rowCount === 2000L))
      // analyzePathIfMissing: cached identity is NOT re-scanned, but a
      // widened column set is
      val again = TableStats.analyzePathIfMissing(spark, dir, Seq("uid"))
      assert(again.ndv.contains("cat"), "existing record reused")
      val widened = TableStats.analyzePathIfMissing(spark, dir, Seq("uid", "s"))
      assert(widened.ndv.contains("s") && widened.ndv.contains("uid"))
    } finally GateFixtures.deleteRecursively(root)
  }

  test("lookup treats a corrupt registry file as absent (stats are advisory)") {
    val wh = TableStats.warehouseOf(spark)
    val dir = java.nio.file.Paths.get(wh, "_graft_stats")
    java.nio.file.Files.createDirectories(dir)
    // same hashing as the registry: write junk under a key's file name
    val key = "ts_spec_corrupt_key"
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val f = dir.resolve(s"$digest.stats")
    try {
      java.nio.file.Files.write(f, "rows not-a-number\nndv broken".getBytes("UTF-8"))
      TableStats.invalidateCache()
      assert(TableStats.lookup(wh, key) === None)
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      TableStats.invalidateCache()
    }
  }

  test("measured NDV drives the eager-aggregation decline — no declared conf needed, both directions") {
    import spark.implicits._
    def aggBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.right.collectFirst {
            case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
          }.getOrElse(false)
      }.exists(identity)
    val uk = "spark.graft.eagerAggregation.uniqueKeys"
    val saved = spark.conf.get(uk)
    val root = java.nio.file.Files.createTempDirectory("ts_ea")
    try {
      val dir = root.resolve("facts.parquet").toString
      (1L to 400L).map(i => (i, i % 5, i * 2)).toDF("uid", "cat", "v")
        .write.parquet(dir)
      val left = Seq((1L, 1L), (2L, 2L)).toDF("fk", "m")
      def byUid = left.join(spark.read.parquet(dir), col("fk") === col("uid"))
        .groupBy(col("m")).agg(sum(col("v")).as("s"))
      def byCat = left.join(spark.read.parquet(dir), col("fk") === col("cat"))
        .groupBy(col("m")).agg(sum(col("v")).as("s"))
      // without stats or conf: cost-blind, fires on both
      spark.conf.set(uk, "")
      assert(aggBelowJoin(byUid) && aggBelowJoin(byCat))
      // measured: uid is unique -> declines; cat is 5-valued -> fires
      TableStats.analyze(spark, spark.read.parquet(dir), dir, Seq("uid", "cat"))
      assert(!aggBelowJoin(byUid), "measured-unique key must decline")
      assert(aggBelowJoin(byCat), "measured non-unique key must fire")
      // measurement OVERRIDES a declared block in the firing direction:
      // cat is declared unique but measured at 5 distinct values
      spark.conf.set(uk, "facts.cat")
      assert(aggBelowJoin(byCat),
        "measurement outranks a (wrong) declared constraint")
      // FRESHNESS (round-12): append rows that make uid NON-unique —
      // the recorded ≈unique verdict now describes different files, so
      // the measured decline must be IGNORED (rule fires again) instead
      // of serving the stale verdict; re-analyze restores the decline
      spark.conf.set(uk, "")
      (1L to 400L).map(i => (i % 7, i % 5, i)).toDF("uid", "cat", "v")
        .write.mode("append").parquet(dir)
      spark.catalog.refreshByPath(dir)
      assert(aggBelowJoin(byUid),
        "a drifted base must void the stale measured-unique decline")
      TableStats.analyze(spark, spark.read.parquet(dir), dir, Seq("uid", "cat"))
      // uid is now ~51% distinct — measured non-unique, fires by measurement
      assert(aggBelowJoin(byUid), "re-measured non-unique key fires")
    } finally {
      spark.conf.set(uk, saved)
      GateFixtures.deleteRecursively(root)
    }
  }

  test("analyze records the base fingerprint; alias drops it (round-12)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ts_fp")
    try {
      val dir = root.resolve("t.parquet").toString
      (1L to 50L).map(i => (i, i % 3)).toDF("id", "c").write.parquet(dir)
      val wh = TableStats.warehouseOf(spark)
      val st = TableStats.analyze(spark, spark.read.parquet(dir), dir, Seq("id"))
      assert(st.fingerprint.nonEmpty, "path analyze must fingerprint")
      TableStats.invalidateCache()
      assert(TableStats.lookup(wh, dir).flatMap(_.fingerprint) === st.fingerprint,
        "fingerprint must persist through the registry file")
      assert(st.fingerprint ===
        Some(graft.plans.Freshness.ofPath(spark, dir)), "fp = live inventory")
      TableStats.alias(wh, st, "ts_fp_alias")
      assert(TableStats.lookup(wh, "ts_fp_alias").exists(_.fingerprint.isEmpty),
        "an aliased (staged-copy) identity must stay unchecked")
    } finally GateFixtures.deleteRecursively(root)
  }

  test("analyzePathIfMissing measures a record of other files again") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ts_stale")
    try {
      val dir = root.resolve("t.parquet").toString
      (1L to 50L).map(i => (i, i % 3)).toDF("id", "c").write.parquet(dir)
      assert(TableStats.analyzePathIfMissing(spark, dir, Seq("id", "c")).rowCount === 50L)
      (51L to 80L).map(i => (i, i % 3)).toDF("id", "c").write.mode("append").parquet(dir)
      val again = TableStats.analyzePathIfMissing(spark, dir, Seq("id"))
      assert(again.rowCount === 80L && again.ndv.keySet === Set("id", "c"), again)
      assert(again.fingerprint === Some(graft.plans.Freshness.ofPath(spark, dir)))
    } finally GateFixtures.deleteRecursively(root)
  }

  test("advisor selectivity uses 1/NDV for measured equality and |list|/NDV for IN") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
    import graft.plans.LayoutAdvisor
    val a = $"k".long
    val measured: String => Option[Long] = c => if (c == "k") Some(200L) else None
    assert(LayoutAdvisor.selectivity(EqualTo(a, Literal(7L)), measured) === 1.0 / 200.0)
    assert(LayoutAdvisor.selectivity(EqualTo(Literal(7L), a), measured) === 1.0 / 200.0)
    assert(LayoutAdvisor.selectivity(
      In(a, Seq(Literal(1L), Literal(2L), Literal(3L))), measured) === 3.0 / 200.0)
    // unmeasured columns keep the structural constants
    val b = $"other".long
    assert(LayoutAdvisor.selectivity(EqualTo(b, Literal(7L)), measured) === 0.1)
    assert(LayoutAdvisor.selectivity(EqualTo(b, Literal(7L))) === 0.1)
  }
}
