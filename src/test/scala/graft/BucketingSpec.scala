package graft

import org.apache.spark.sql.functions._

/** Bucketing: pre-shuffled table layout so co-located joins and
  * aggregations plan with NO exchange — the engine-level answer to
  * "minimize shuffles" for repeated joins on the same key (SURVEY §2.5:
  * a bucketed layout is the persistent form of partition_by_modulo). */
class BucketingSpec extends GraftSpec {

  test("bucketed-bucketed join plans without a shuffle exchange") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("b_customer")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the shuffle (or its absence) shows
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      // and it returns the same rows as the unbucketed join
      val expected = o.join(c, o("o_custkey") === c("c_custkey")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("toBucketedTable: per-key aggregate plans exchange-free and matches groupBy") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS tb_lineitem")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(li, "tb_lineitem", "l_orderkey", buckets = 4)
      // exact integer cents on both sides: the two plans aggregate in
      // different orders, so a raw double sum would only compare equal
      // while the fixture values stay integral
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      val agg = spark.table("tb_lineitem").groupBy("l_orderkey").agg(cents)
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed aggregate should not shuffle:\n$plan")
      val got = agg.orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = li.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === want.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS tb_lineitem")
  }

  test("toBucketedTable(sorted): per-key aggregate STREAMS — SortAggregate, no Exchange, no Sort") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS ts_lineitem")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(li, "ts_lineitem", "l_orderkey", buckets = 4, sorted = true)
      // one file per bucket — the precondition for the scan to report
      // (and Spark to trust) the per-bucket sort order
      val loc = spark.sql("DESCRIBE TABLE EXTENDED ts_lineitem").collect()
        .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
      val files = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 4, s"expected one file per bucket, got ${files.map(_.getName).toSeq}")
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      val agg = spark.table("ts_lineitem").groupBy("l_orderkey").agg(cents)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SortAggregate"), s"expected streaming SortAggregate:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed aggregate should not shuffle:\n$plan")
      assert(!plan.contains("+- Sort "), s"scan order should carry the aggregate, no sort:\n$plan")
      val got = agg.orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = li.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === want.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS ts_lineitem")
  }

  test("append keeps co-location (no Exchange), compactBuckets restores the streaming plan") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS ac_spec_lineitem")
    try {
      val full = Tables.lineitem(spark, sf)
      val li = full.select(col("l_orderkey"), col("l_quantity"))
      // half the data at create time, half appended — the split keys
      // overlap so compaction must actually MERGE runs, not concatenate
      TabularWriter.toBucketedTable(full.where(col("l_linenumber") =!= 1)
        .select(col("l_orderkey"), col("l_quantity")),
        "ac_spec_lineitem", "l_orderkey", buckets = 4, sorted = true)
      TabularWriter.appendToBucketedTable(
        full.where(col("l_linenumber") === 1)
          .select(col("l_orderkey"), col("l_quantity")),
        "ac_spec_lineitem")
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      def agg = spark.table("ac_spec_lineitem").groupBy("l_orderkey").agg(cents)
      // post-append: multi-file buckets — co-location survives (zero
      // Exchange) but the scan no longer reports order, so the plan
      // falls back to HashAggregate. Documented contract.
      val appended = agg.queryExecution.executedPlan.toString
      assert(!appended.contains("Exchange"), s"append must keep co-location:\n$appended")
      assert(appended.contains("HashAggregate"),
        s"multi-file buckets cannot stream; expected hash fallback:\n$appended")
      val want = li.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(agg.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq)
      // compaction: one file per bucket again → streaming SortAggregate,
      // zero Exchange, zero query-time Sort, same values
      TabularWriter.compactBuckets(spark, "ac_spec_lineitem")
      val compacted = agg.queryExecution.executedPlan.toString
      assert(compacted.contains("SortAggregate"), s"expected streaming plan back:\n$compacted")
      assert(!compacted.contains("Exchange"), s"compacted agg must not shuffle:\n$compacted")
      assert(!compacted.contains("+- Sort "), s"compacted scan carries the order:\n$compacted")
      assert(agg.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS ac_spec_lineitem")
  }

  test("compactBuckets crash window: both copies survive, the documented recovery restores the table") {
    import graft.sources.TabularWriter
    val t = "cc_lineitem"
    for (n <- Seq(t, s"${t}__precompact", s"${t}__compacting"))
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(li, t, "l_orderkey", buckets = 4, sorted = true)
      val want = spark.table(t).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("q")).orderBy("l_orderkey")
        .collect().map(_.toString).toSeq
      // inject a crash in the WIDEST window: after the original was
      // renamed aside, before the compacted copy took its name
      TabularWriter.compactCrashHook = () => throw new RuntimeException("injected crash")
      val e = intercept[RuntimeException] { TabularWriter.compactBuckets(spark, t) }
      assert(e.getMessage === "injected crash")
      TabularWriter.compactCrashHook = () => ()
      // the table name is gone — but BOTH copies exist, nothing deleted
      assert(!spark.catalog.tableExists(t))
      assert(spark.catalog.tableExists(s"${t}__precompact"))
      assert(spark.catalog.tableExists(s"${t}__compacting"))
      // the documented recovery: rename the pre-compaction original back
      spark.sql(s"ALTER TABLE `${t}__precompact` RENAME TO `$t`")
      val recovered = spark.table(t).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("q")).orderBy("l_orderkey")
        .collect().map(_.toString).toSeq
      assert(recovered === want, "recovery must restore the exact pre-compaction data")
      // and a clean re-run completes the lifecycle (the stale
      // __compacting leftover is cleared by the next compaction)
      TabularWriter.compactBuckets(spark, t)
      assert(spark.table(t).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("q")).orderBy("l_orderkey")
        .collect().map(_.toString).toSeq === want)
      assert(!spark.catalog.tableExists(s"${t}__precompact"))
    } finally {
      TabularWriter.compactCrashHook = () => ()
      for (n <- Seq(t, s"${t}__precompact", s"${t}__compacting"))
        spark.sql(s"DROP TABLE IF EXISTS `$n`")
    }
  }

  test("attach: re-registers staged bucketed files as an external table with the full layout properties") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS att_src")
    spark.sql("DROP TABLE IF EXISTS att_ext")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(li, "att_src", "l_orderkey", buckets = 4, sorted = true)
      val loc = spark.sql("DESCRIBE TABLE EXTENDED att_src").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      // a fresh JVM's catalog is empty but the files live on: attach
      // re-registers them without rewriting a byte
      TabularWriter.attach(spark, "att_ext", loc, "l_orderkey", buckets = 4)
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      val agg = spark.table("att_ext").groupBy("l_orderkey").agg(cents)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SortAggregate") && !plan.contains("Exchange"),
        s"attached table must keep the streaming co-located plan:\n$plan")
      val want = li.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(agg.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq)
      // external: dropping the attached table must NOT delete the files
      spark.sql("DROP TABLE att_ext")
      assert(spark.read.parquet(loc).count() === li.count())
      // bucket membership is PHYSICAL: attaching the same files under a
      // different declared count would make every co-located plan skip
      // its exchange over rows that are not where the spec claims —
      // silently wrong results. Both directions must fail loudly:
      // the writer's _graft_buckets sidecar proves the staged count.
      for (wrong <- Seq(2, 8)) {
        val e = intercept[IllegalArgumentException] {
          TabularWriter.attach(spark, "att_wrong", loc, "l_orderkey", buckets = wrong)
        }
        assert(e.getMessage.contains("bucket"), e.getMessage)
        spark.sql("DROP TABLE IF EXISTS att_wrong")
      }
      // a corrupt/truncated sidecar fails with the same explanatory
      // diagnostic as the other validations, not a bare
      // NumberFormatException; restoring the sidecar restores attach
      val sidecarPath = java.nio.file.Paths.get(
        loc.stripPrefix("file:"), TabularWriter.BucketSidecar)
      // writing behind Hadoop's back leaves a stale .crc that the local
      // FS would reject on read — drop it alongside each raw write
      val crc = sidecarPath.resolveSibling("." + TabularWriter.BucketSidecar + ".crc")
      val saved = java.nio.file.Files.readAllBytes(sidecarPath)
      try {
        for (junk <- Seq("", "not-a-number l_orderkey")) {
          java.nio.file.Files.write(sidecarPath, junk.getBytes("UTF-8"))
          java.nio.file.Files.deleteIfExists(crc)
          val e = intercept[IllegalArgumentException] {
            TabularWriter.attach(spark, "att_corrupt", loc, "l_orderkey", buckets = 4)
          }
          assert(e.getMessage.contains("corrupt") &&
            e.getMessage.contains("re-stage"), e.getMessage)
          spark.sql("DROP TABLE IF EXISTS att_corrupt")
        }
      } finally java.nio.file.Files.write(sidecarPath, saved)
      // no sidecar at all: nothing proves the count or the key, so an
      // over-declared count would slip through — refused, naming it
      java.nio.file.Files.delete(sidecarPath)
      try {
        val e = intercept[IllegalArgumentException] {
          TabularWriter.attach(spark, "att_corrupt", loc, "l_orderkey", buckets = 8)
        }
        assert(e.getMessage.contains(TabularWriter.BucketSidecar), e.getMessage)
        assert(!spark.catalog.tableExists("att_corrupt"))
      } finally java.nio.file.Files.write(sidecarPath, saved)
      TabularWriter.attach(spark, "att_ext", loc, "l_orderkey", buckets = 4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS att_wrong")
      spark.sql("DROP TABLE IF EXISTS att_ext")
      spark.sql("DROP TABLE IF EXISTS att_src")
    }
  }

  test("Tables.redirect points table resolution at a staged layout; clearRedirects restores") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS rd_lineitem")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(li, "rd_lineitem", "l_orderkey", buckets = 4)
      Tables.redirect(spark, sf, "lineitem", "rd_lineitem")
      try {
        // the resolver now serves the staged layout: narrow schema,
        // co-located per-key plans, same values
        val got = Tables.lineitem(spark, sf)
        assert(got.columns.toSet === Set("l_orderkey", "l_quantity"))
        val agg = got.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      } finally Tables.clearRedirects(spark)
      assert(Tables.lineitem(spark, sf).columns.length > 2,
        "clearRedirects must restore the flat read")
    } finally spark.sql("DROP TABLE IF EXISTS rd_lineitem")
  }

  test("byShuffledKey is layout-aware: skips its shuffle on a bucketed input, keeps it on flat") {
    import graft.operators.Aggregates
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS bsk_lineitem")
    try {
      val flat = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(flat, "bsk_lineitem", "l_orderkey", buckets = 4, sorted = true)
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      // bucketed input (through a projection + filter + alias, the q18
      // shape): the explicit repartition would re-introduce the exact
      // exchange the layout removed — it must be skipped
      val onLayout = Aggregates.byShuffledKey(
        spark.table("bsk_lineitem").filter(col("l_quantity") > 0)
          .select(col("l_orderkey"), col("l_quantity")),
        col("l_orderkey"), col("l_orderkey").as("g_ok")).agg(cents)
      val layoutPlan = onLayout.queryExecution.executedPlan.toString
      assert(!layoutPlan.contains("Exchange"),
        s"byShuffledKey must not re-shuffle a co-located input:\n$layoutPlan")
      // flat input: the explicit pre-aggregation shuffle is the point
      val onFlat = Aggregates.byShuffledKey(flat, col("l_orderkey")).agg(cents)
      assert(onFlat.queryExecution.executedPlan.toString.contains("Exchange"))
      // superset grouping keys containing the bucket key are co-located too
      val multi = Aggregates.byShuffledKeys(
        spark.table("bsk_lineitem"), Seq(col("l_orderkey"), col("l_quantity"))).agg(cents)
      assert(!multi.queryExecution.executedPlan.toString.contains("Exchange"))
      // a join above the relation is NOT straight-line: conservative fallback
      val joined = spark.table("bsk_lineitem")
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      assert(!Aggregates.isCoLocatedOn(joined, Seq(col("l_orderkey"))))
      // values match the plain groupBy
      val got = onLayout.orderBy("g_ok").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = flat.filter(col("l_quantity") > 0).groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === want.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS bsk_lineitem")
  }

  test("StreamingLayout: replayed batch ids are idempotent; compactEvery restores the streaming plan") {
    import graft.sources.TabularWriter
    import graft.streaming.StreamingLayout
    spark.sql("DROP TABLE IF EXISTS sil_spec_t")
    val root = java.nio.file.Files.createTempDirectory("sil_spec")
    try {
      val full = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      TabularWriter.toBucketedTable(full.where(col("l_orderkey") % 2 === 0),
        "sil_spec_t", "l_orderkey", buckets = 4, sorted = true)
      val commits = root.resolve("commits").toString
      val rest = full.where(col("l_orderkey") % 2 =!= 0)
      // batch 0 committed, then REPLAYED (foreachBatch is at-least-once
      // across recovery): the marker must make the second call a no-op
      StreamingLayout.appendBatch(rest, 0L, "sil_spec_t", commits, 0)
      StreamingLayout.appendBatch(rest, 0L, "sil_spec_t", commits, 0)
      val cents = sum(round(col("l_quantity") * 100).cast("long")).as("s")
      def agg = spark.table("sil_spec_t").groupBy("l_orderkey").agg(cents)
      val want = full.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(agg.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq,
        "replayed batch must not duplicate rows")
      // batch 1 hits the compactEvery=2 boundary (empty batch: append
      // skipped, compaction still fires) → streaming SortAggregate back
      StreamingLayout.appendBatch(rest.limit(0), 1L, "sil_spec_t", commits, 2)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SortAggregate") && !plan.contains("Exchange") &&
        !plan.contains("+- Sort "), s"post-compaction plan must stream:\n$plan")
      assert(agg.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sil_spec_t")
      GateFixtures.deleteRecursively(root)
    }
  }

  test("appendToBucketedTable rejects non-bucketed targets; bad specs are rejected by the writer") {
    import graft.sources.TabularWriter
    spark.sql("DROP TABLE IF EXISTS flat_spec_t")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity")).limit(10)
      li.write.mode("overwrite").saveAsTable("flat_spec_t")
      val e = intercept[IllegalArgumentException] {
        TabularWriter.appendToBucketedTable(li, "flat_spec_t")
      }
      assert(e.getMessage.contains("not a bucketed table"))
    } finally spark.sql("DROP TABLE IF EXISTS flat_spec_t")
  }
}
