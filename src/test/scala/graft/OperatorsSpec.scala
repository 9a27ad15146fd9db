package graft

import graft.operators._
import org.apache.spark.sql.functions._

class OperatorsSpec extends GraftSpec {

  lazy val events = Tables.events(spark, sf)

  test("partitionByModulo co-locates each shard in one partition") {
    val parted = Partitioners.partitionByModulo(events, col("user_id"), 8)
    val placement = parted
      .select(Partitioners.shardId(col("user_id"), 8).as("shard"))
      .withColumn("pid", spark_partition_id())
      .distinct().collect()
    // every shard maps to exactly one physical partition
    val byShard = placement.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).distinct)
    assert(byShard.values.forall(_.size == 1))
  }

  test("stableIds equals the naive global row_number, incl. ties and negatives") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, -5.0), (2L, 3.0), (3L, -5.0), (4L, 0.0), (5L, 3.0),
      (6L, 7.5), (7L, 0.0)).toDF("id", "v")
    val got = Partitioners.stableIds(df, col("v"), Seq(col("id")), buckets = 4)
      .select(col("id"), col("ordinal"))
    val want = df.select(col("id"),
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long").as("ordinal"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // and on the real corpus at a bucket count that forces multi-bucket
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
    val big = Partitioners.stableIds(docs, col("n_chars"), Seq(col("doc_id")), buckets = 16)
      .select(col("doc_id"), col("ordinal"))
    val bigWant = docs.select(col("doc_id"),
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))).cast("long").as("ordinal"))
    assert(big.exceptAll(bigWant).count() === 0)
  }

  test("stableIds stays a total order under null/NaN/Inf keys (no domain poisoning)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // nulls first, then -Inf, finite ascending, +Inf, NaN last — Spark's
    // ascending sort order; one NaN must not collapse every row into the
    // top bucket (stats are computed over finite keys only)
    val df = Seq[(Long, java.lang.Double)](
      (1L, 5.0), (2L, null), (3L, Double.NaN), (4L, -3.0),
      (5L, Double.PositiveInfinity), (6L, Double.NegativeInfinity), (7L, 0.0))
      .toDF("id", "v")
    val got = Partitioners.stableIds(df, col("v"), Seq(col("id")), buckets = 4)
      .select(col("id"), col("ordinal"))
    val want = df.select(col("id"),
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long").as("ordinal"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("partitionsOf rejects partition counts beyond Int range instead of wrapping") {
    val df = Tables.events(spark, sf).limit(10)
    intercept[IllegalArgumentException] {
      graft.operators.Rebatch.partitionsOf(df, batchSize = 1, rowCount = Some(1L << 40))
    }
  }

  test("targetEncodeLoo: null category/label rows come back encoded, not dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(10.0)), (2L, Option("a"), Option(20.0)),
      (3L, Option.empty[String], Option(30.0)), (4L, Option("a"), Option.empty[Double]))
      .toDF("id", "cat", "y")
    val out = Categorical.targetEncodeLoo(df, col("cat"), col("y"), smoothing = 1)
    assert(out.count() === 4) // the old inner-join + filter dropped row 3
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // stats see only non-null (cat, label): cat 'a' sum=30 over cnt=2,
    // prior = 30/2 = 15 (null label must NOT deflate the mean)
    assert(m(1L) === 17.5)            // (30-10+15)/2
    assert(m(2L) === 12.5)            // (30-20+15)/2
    assert(m(3L) === 15.0)            // null category -> prior
    assert(m(4L) === 15.0)            // null label -> (30+15)/(2+1), no LOO exclusion
  }

  test("profile: empty-frame expectations pass with 0 violations; histogram drops non-finite") {
    import spark.implicits._
    val empty = events.filter(lit(false))
    val verdict = Profile.expect(empty,
      Seq(Profile.Expectation("v", col("value") >= 0))).collect().head
    assert(verdict.getLong(1) === 0L && verdict.getBoolean(3))
    val bins = Profile.histogram(
      Seq(1.0, 2.0, 3.0, Double.PositiveInfinity, Double.NaN).toDF("v"),
      col("v"), 2).collect()
    assert(bins.map(_.getLong(3)).sum === 3) // only the finite values
    assert(bins.forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isInfinite))
  }

  test("upperGram skips null vectors like SQL aggregates skip nulls") {
    import spark.implicits._
    val df = Seq(Option(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]], Option(Seq(3.0f, 4.0f)))
      .toDF("vec")
    val g = Gram.upperGram(spark, df, col("vec"), d = 2, scale = 1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(g === Map((0L, 0L) -> 10L, (0L, 1L) -> 14L, (1L, 1L) -> 20L))
  }

  test("inputLayer rejects empty or ragged embedding tables instead of malformed features") {
    import spark.implicits._
    val ex = Seq((1L, 2L)).toDF("id", "c")
    intercept[Exception] {
      EmbeddingLookup.inputLayer(ex, col("id"), Nil, Seq(col("c")),
        Seq.empty[(Long, Seq[Double])].toDF("k", "v"), "k", "v").collect()
    }
    intercept[Exception] {
      EmbeddingLookup.inputLayer(ex, col("id"), Nil, Seq(col("c")),
        Seq((1L, Seq(1.0)), (2L, Seq(1.0, 2.0))).toDF("k", "v"), "k", "v").collect()
    }
  }

  test("indexApply maps unseen values to -1, seen values to their rank") {
    import spark.implicits._
    val train = Seq("b", "b", "b", "a", "a", "c").toDF("cat")
    val dict = Categorical.stringIndex(train, col("cat"))
    // b (3) -> 0, a (2) -> 1, c (1) -> 2
    val d = dict.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(d === Map("b" -> 0L, "a" -> 1L, "c" -> 2L))
    val apply = Seq((1L, "a"), (2L, "zz")).toDF("id", "cat")
    val got = Categorical.indexApply(apply, "cat", dict, "idx")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 1L, 2L -> -1L))
  }

  test("evenSplits balances rows within +-1") {
    val counts = Partitioners.evenSplits(events, 7)
      .groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
    assert(counts.length === 7)
    assert(counts.max - counts.min <= 1)
  }

  test("shuffleRows: same seed reproduces, different seed permutes differently") {
    val a = Partitioners.shuffleRows(events, 1L).select("event_id").collect().map(_.getLong(0)).toSeq
    val b = Partitioners.shuffleRows(events, 1L).select("event_id").collect().map(_.getLong(0)).toSeq
    val c = Partitioners.shuffleRows(events, 2L).select("event_id").collect().map(_.getLong(0)).toSeq
    assert(a === b)
    assert(a !== c)
    assert(a.sorted === c.sorted) // both are permutations of the input
  }

  test("lookup keeps the id column when fact and dim keys share a name") {
    val ids = events.select(col("event_id"), col("user_id").as("id"))
    val dim = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("label"))
    val out = EmbeddingLookup.lookup(ids, "id", dim, "id", Seq("label"))
    assert(out.columns.toSeq === Seq("event_id", "id", "label"))
    assert(out.count() === ids.count())
  }

  test("shuffleRowsByKey is invariant to input partition layout") {
    val a = Partitioners.shuffleRowsByKey(events, col("event_id"), 5L)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    val b = Partitioners.shuffleRowsByKey(events.repartition(17), col("event_id"), 5L)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(a === b)
    assert(a !== a.sorted) // actually shuffled
  }

  test("embedding lookup preserves input order when asked") {
    val ids = events.select(col("event_id"), col("user_id")).orderBy(desc("event_id")).limit(100)
    val out = EmbeddingLookup.lookup(
      ids, "user_id", Tables.embeddings(spark, sf), "vec_id", Seq("label"),
      preserveOrder = true)
    val got = out.select("event_id").collect().map(_.getLong(0)).toSeq
    assert(got === got.sorted(Ordering[Long].reverse))
  }

  test("broadcast lookup plans a BroadcastHashJoin") {
    val out = EmbeddingLookup.lookup(
      events.select("event_id", "user_id"), "user_id",
      Tables.embeddings(spark, sf), "vec_id", Seq("label"), broadcastDim = true)
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("cacheSplit partitions ids into disjoint exhaustive hit/miss") {
    val ids = events.select("event_id", "user_id")
    val cache = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
    val (hits, misses) = EmbeddingLookup.cacheSplit(ids, "user_id", cache, "vec_id")
    assert(hits.count() + misses.count() === ids.count())
    assert(hits.join(misses, Seq("event_id"), "inner").count() === 0)
  }

  test("block dedup restore matches the reference fixture golden") {
    // FIXTURES.md §4 / parquet_dataset_deduplicate_test.py:44-54:
    // uniq blocks [[[1],[2,3]], [[4],[5]]], idx [[0,1,0,1],[0,0,1,1]]
    // -> restored rows [[1],[2,3],[1],[2,3],[4],[4],[5],[5]]
    import spark.implicits._
    val compressed = Seq(
      (0L, Seq(Seq(1L), Seq(2L, 3L)), Seq(0L, 1L, 0L, 1L), Seq(0L, 1L, 2L, 3L)),
      (1L, Seq(Seq(4L), Seq(5L)), Seq(0L, 0L, 1L, 1L), Seq(4L, 5L, 6L, 7L)))
      .toDF("block", "user_feat_uniq", "user_feat_idx", "__ord_list")
    val restored = BlockDedup.restore(compressed, "user_feat")
      .orderBy("__ord").select("user_feat")
      .collect().map(_.getSeq[Long](0).toList).toList
    assert(restored === List(List(1), List(2, 3), List(1), List(2, 3),
      List(4), List(4), List(5), List(5)))
  }

  test("compress -> restore round-trips the events table") {
    val compressed = BlockDedup.compress(
      events, col("user_id"), col("event_id"), Seq("event_type"))
    val restored = BlockDedup.restore(compressed, "event_type")
      .select(col("__ord").as("event_id"), col("event_type"))
    val orig = events.select("event_id", "event_type")
    assert(restored.exceptAll(orig).count() === 0)
    assert(orig.exceptAll(restored).count() === 0)
  }

  test("hostCap: hostless URLs bypass the cap instead of sharing one pseudo-host") {
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, s"/relative/doc/$i", i))
      .toDF("doc_id", "url", "n_chars")
      .unionAll(Seq((100L, "https://real.host/x", 1L),
        (101L, "https://real.host/y", 2L)).toDF("doc_id", "url", "n_chars"))
    val out = WebCuration.hostCap(df, col("url"), n = 1,
      order = Seq(col("n_chars").desc, col("doc_id").asc))
      .select(col("doc_id"), col("host"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // all 10 hostless docs survive (no shared pseudo-host cap), and the
    // real host is capped to 1
    assert((1L to 10L).forall(out.contains), s"hostless dropped: $out")
    assert(out.keySet.count(_ >= 100L) === 1)
  }

  test("hostCap caps per host and is invariant to input layout") {
    val docs = Tables.documents(spark, sf)
    val url = concat(lit("https://H"), pmod(col("doc_id"), lit(7)).cast("string"),
      lit(".x.com/"), col("doc_id").cast("string"))
    def run(df: org.apache.spark.sql.DataFrame) = WebCuration.hostCap(
      df.select(col("doc_id"), col("n_chars"), url.as("url")),
      col("url"), n = 3, order = Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "host", "host_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val base = run(docs)
    // deterministic under a different physical layout (total order)
    assert(run(docs.repartition(13)) === base)
    val perHost = base.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perHost.values.forall(_ <= 3) && perHost.values.exists(_ === 3))
    assert(base.forall { case (_, h, r) => h.startsWith("h") && r >= 1 && r <= 3 })
    // survivors per host are the longest docs: re-derive from the input
    val lengths = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    base.groupBy(_._2).foreach { case (_, kept) =>
      val keptIds = kept.map(_._1)
      val hostIds = lengths.keys.filter(id =>
        kept.exists(k => (id % 7) === (k._1 % 7))).toSeq
      val topByLen = hostIds.sortBy(id => (-lengths(id), id)).take(3).toSet
      assert(keptIds === topByLen)
    }
  }

  test("blocklistFilter removes exactly the blocked hosts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .withColumn("host", concat(lit("h"), pmod(col("doc_id"), lit(5)).cast("string")))
    val blocked = Seq("h1", "h3", "h999").toDF("host")
    val kept = WebCuration.blocklistFilter(docs, col("host"), blocked)
    assert(kept.filter(col("host").isin("h1", "h3")).count() === 0)
    assert(kept.count() === docs.filter(!col("host").isin("h1", "h3")).count())
  }

  test("CMS estimate dominates the exact count; exact on a collision-free vocab") {
    import spark.implicits._
    val terms = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
    // every returned estimate must be >= its exact count (CMS guarantee)
    val hh = graft.functions.Sketches.cmsHeavyHitters(terms, col("term"),
      width = 512, hhDenom = 200).collect()
    assert(hh.nonEmpty)
    hh.foreach(r => assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_n"), r))
    // a sketch wider than the vocabulary has no collisions in practice
    // for a tiny term set -> estimate == exact
    val tiny = Seq.fill(40)("alpha") ++ Seq.fill(10)("beta") ++ Seq.fill(2)("gamma")
    // threshold = 52/6 ≈ 8.7 occurrences: alpha and beta in, gamma out
    val exact = graft.functions.Sketches.cmsHeavyHitters(
      tiny.toDF("term"), col("term"), width = 1 << 16, hhDenom = 6).collect()
    assert(exact.map(r => r.getString(0) -> r.getAs[Long]("cms_est")).toMap
      === Map("alpha" -> 40L, "beta" -> 10L))
    exact.foreach(r => assert(r.getAs[Long]("cms_est") === r.getAs[Long]("exact_n")))
  }

  test("upperGram matches the local brute-force computation") {
    val emb = Tables.embeddings(spark, sf)
    def collectGram(df: org.apache.spark.sql.DataFrame) =
      Gram.upperGram(spark, df, col("embedding"), d = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = collectGram(emb)
    assert(got.size === 64 * 65 / 2)
    // brute-force on the driver over the same integer grid
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000.0).toLong).toArray)
    val brute = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (q <- vecs; i <- 0 until 64; j <- i until 64)
      brute((i.toLong, j.toLong)) += q(i) * q(j)
    assert(got === brute.toMap)
    // order-free: identical under a different partition layout
    assert(collectGram(emb.repartition(9)) === got)
  }

  test("inputLayer concatenates numerics + hit embeddings, zero-fills misses") {
    import spark.implicits._
    val ex = Seq((1L, 0.5, 10L, 20L), (2L, -1.5, 11L, 99L)).toDF("id0", "x", "k1", "k2")
    val tab = Seq((10L, Seq(1.0f, 2.0f)), (11L, Seq(3.0f, 4.0f)), (20L, Seq(5.0f, 6.0f)))
      .toDF("key", "vec")
    val got = EmbeddingLookup.inputLayer(ex, col("id0"), Seq(col("x")),
      Seq(col("k1"), col("k2")), tab, "key", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    // id 1: both cats hit — [x, vec(10), vec(20)]
    assert(got(1L) === List(0.5, 1.0, 2.0, 5.0, 6.0))
    // id 2: k2=99 misses — zero-filled at the table's width
    assert(got(2L) === List(-1.5, 3.0, 4.0, 0.0, 0.0))
  }

  test("quantileBin: ties share a bin, exact rank math, layout-invariant") {
    import spark.implicits._
    // 8 values incl. a 3-way tie at 5.0 → deciles of n=8 with bins=4:
    // ranks 1,2,3,3,3,6,7,8 → bin = (rank-1)*4 div 8
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 5.0), (4L, 5.0), (5L, 5.0),
      (6L, 7.0), (7L, 8.0), (8L, 9.0)).toDF("id", "x")
    def bins(d: org.apache.spark.sql.DataFrame) =
      FeatureScale.quantileBin(d, col("id"), col("x"), bins = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = bins(df)
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 3L, 8L -> 3L))
    assert(bins(df.repartition(5)) === got)
  }

  test("targetEncodeLoo: own label excluded, singleton category falls to prior") {
    import spark.implicits._
    // cat a: labels 10, 20; cat b: single label 40. prior = 70/3
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 40.0))
      .toDF("id", "c", "y")
    val got = Categorical.targetEncodeLoo(df, col("c"), col("y"), smoothing = 2L)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val prior = 70.0 / 3
    def e(sum: Double, own: Double, cnt: Long) =
      math.round(((sum - own + 2 * prior) / (cnt - 1 + 2)) * 1e9) / 1e9
    assert(got(1L) === e(30, 10, 2)) // sees only the sibling 20 + prior
    assert(got(2L) === e(30, 20, 2))
    assert(got(3L) === e(40, 40, 1)) // singleton: exactly the prior
    assert(got(3L) === math.round(prior * 1e9) / 1e9)
  }

  test("expect: null predicate counts as violation, ppm threshold is exact") {
    import spark.implicits._
    val df = Seq[java.lang.Double](1.0, 2.0, null, -1.0).toDF("v")
    val got = Profile.expect(df, Seq(
      Profile.Expectation("nonneg", col("v") >= 0),            // null + (-1) = 2 violations
      Profile.Expectation("nonneg_tol", col("v") >= 0, maxPpm = 500000L), // 2/4 = exactly 50%
      Profile.Expectation("present", col("v").isNotNull)))      // 1 violation
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got("nonneg") === ((2L, false)))
    assert(got("nonneg_tol") === ((2L, true))) // 2*1e6 <= 500000*4, boundary inclusive
    assert(got("present") === ((1L, false)))
  }

  test("mergeAggState: split-order invariant, zero-init keys, empty delta no-op") {
    import spark.implicits._
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"))
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("c", 5L), ("b", 20L))
      .toDF("k", "v")
    val full = aggOf(rows).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ab = Upsert.mergeAggState(
      aggOf(rows.filter(col("v") < 5)), aggOf(rows.filter(col("v") >= 5)), Seq("k"))
    val ba = Upsert.mergeAggState(
      aggOf(rows.filter(col("v") >= 5)), aggOf(rows.filter(col("v") < 5)), Seq("k"))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(toSet(ab) === full) // "c" exists only in one batch -> zero-init
    assert(toSet(ba) === full)
    val noop = Upsert.mergeAggState(aggOf(rows), aggOf(rows.limit(0)), Seq("k"))
    assert(toSet(noop) === full)
  }

  test("targetEncodeLoo: cents and DECIMAL accumulation are bit-identical") {
    val ev = events.select(col("event_id"), col("event_type"), col("value"))
    def run(cents: Boolean) =
      Categorical.targetEncodeLoo(ev, col("event_type"), col("value"),
        smoothing = 10L, labelCents = cents)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(run(cents = true) === run(cents = false))
  }

  test("clipLists keeps only in-window history elements") {
    import spark.implicits._
    val df = Seq((100L, Seq(10L, 95L, 99L, 100L, 105L), Seq("a", "b", "c", "d", "e")))
      .toDF("ts", "ts_list", "v_list")
    val out = df.select(RangeClip.clipLists(
      col("ts"), col("ts_list"), col("v_list"), before = 10L, after = 1L).as("clipped"))
      .collect().head.getSeq[String](0).toList
    // window [90, 101): keeps 95->b, 99->c, 100->d
    assert(out === List("b", "c", "d"))
  }

  test("bloom semiReduce: no false negatives, plans a might_contain scalar subquery") {
    import spark.implicits._
    val fact = (0L until 10000L).map(i => (i, i % 997L)).toDF("row_id", "k")
    val keys = (0L until 997L).filter(_ % 13L == 0L).toDF("kk")
    val pruned = BloomReduce.semiReduce(fact, col("k"), keys, col("kk"))
    // the bloom may keep extra rows (false positives) but must NEVER
    // drop a row whose key is present — that is what makes it safe to
    // inject ahead of any exact semi/inner join
    val exact = fact.join(keys, col("k") === col("kk"), "left_semi")
      .select("row_id").as[Long].collect().toSet
    val kept = pruned.select("row_id").as[Long].collect().toSet
    assert(exact.subsetOf(kept), s"dropped ${(exact -- kept).size} true matches")
    // the mechanism is the built-in runtime filter's: a lazy scalar
    // subquery feeding might_contain — not a collected literal
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(800))
    assert(plan.contains("Subquery"), plan.take(800))
    // empty key side: bloom aggregate yields null -> might_contain
    // null -> filter drops everything, matching the empty semi join
    val none = BloomReduce.semiReduce(fact, col("k"), keys.filter(lit(false)), col("kk"))
    assert(none.count() === 0L)
  }

  test("bloom semiReduce is LAYOUT-AWARE: a fact bucketed on the key skips the bloom") {
    import spark.implicits._
    // on a key-bucketed fact the downstream per-key work is already
    // exchange-free, so the probe is pure cost (x200: q3 9.1 s with the
    // bloom vs 2.2-4.0 s without on the routed layouts) — the operator
    // must decline itself, exactly like Aggregates.byShuffledKey
    val name = "bloomaware_fact"
    graft.sources.TabularWriter.clearStale(spark, name)
    graft.sources.TabularWriter.toBucketedTable(
      (0L until 5000L).map(i => (i, i % 997L)).toDF("row_id", "k"),
      name, "k", buckets = 4, sorted = true)
    val fact = spark.table(name)
    val keys = (0L until 997L).filter(_ % 13L == 0L).toDF("kk")
    val skipped = BloomReduce.semiReduce(fact, col("k"), keys, col("kk"))
    assert(!skipped.queryExecution.executedPlan.toString.contains("might_contain"),
      "bucketed-on-key fact must skip the bloom")
    // a fact bucketed on a DIFFERENT key still gets the reduction
    val other = BloomReduce.semiReduce(fact, col("row_id"), keys, col("kk"))
    assert(other.queryExecution.executedPlan.toString.contains("might_contain"),
      "bucketing on another key must not decline")
    // and the force-disable conf is honored on flat facts
    val flat = (0L until 1000L).map(i => (i, i % 97L)).toDF("row_id", "k")
    spark.conf.set("spark.graft.bloomReduce.enabled", "false")
    try assert(!BloomReduce.semiReduce(flat, col("k"), keys, col("kk"))
      .queryExecution.executedPlan.toString.contains("might_contain"))
    finally spark.conf.set("spark.graft.bloomReduce.enabled", "true")
    // round-12: the probe is a STRAIGHT-LINE walk, not any-leaf — a fact
    // that is a JOIN merely CONTAINING the bucketed table (same column
    // name, but the join output is not co-located: the exchange the
    // bloom prunes ahead of still exists) must keep the reduction
    val joined = flat.toDF("row_id2", "k2")
      .join(fact, col("k2") === col("k"), "inner")
    assert(BloomReduce.semiReduce(joined, col("k"), keys, col("kk"))
      .queryExecution.executedPlan.toString.contains("might_contain"),
      "a join containing the bucketed leaf must not decline")
    // and an alias SHADOWING the bucket column with a different source
    // column must not claim co-location either
    val shadowed = fact.select(col("row_id").as("k"))
    assert(BloomReduce.semiReduce(shadowed, col("k"), keys, col("kk"))
      .queryExecution.executedPlan.toString.contains("might_contain"),
      "a rename shadowing the bucket column must not decline")
  }

  test("bloom semiReduce is ROLLUP-AWARE: a registered rollup on the key skips the bloom") {
    import spark.implicits._
    // the per-key aggregate is about to be served PRECOMPUTED by
    // RewriteMaterializedAgg — no fact rows remain for the bloom to
    // prune (x200 q3: rollup+bloom 6.0 s vs rollup alone ~2.4 s)
    val dir = java.nio.file.Files.createTempDirectory("bloomrollup")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val p = dir.resolve("f").toString
    (0L until 5000L).map(i => (i, i % 997L)).toDF("row_id", "k")
      .write.mode("overwrite").parquet(p)
    val fact = spark.read.parquet(p)
    val path = graft.plans.MaterializedJoins.leafPath(fact)
    val keys = (0L until 997L).filter(_ % 13L == 0L).toDF("kk")
    val meta = graft.plans.MaterializedAggs.Meta(
      "bloomrollup_t", "f", path, Seq("k"),
      Seq(graft.plans.MaterializedAggs.Measure("m1", "count(1)")))
    graft.plans.MaterializedAggs.register(spark, meta)
    try {
      assert(!BloomReduce.semiReduce(fact, col("k"), keys, col("kk"))
        .queryExecution.executedPlan.toString.contains("might_contain"),
        "a registered rollup on the key must decline the bloom")
      // a rollup on a DIFFERENT key does not decline
      assert(BloomReduce.semiReduce(fact, col("row_id"), keys, col("kk"))
        .queryExecution.executedPlan.toString.contains("might_contain"))
    } finally graft.plans.MaterializedAggs.deregister(spark, "bloomrollup_t")
    // registry empty again: the bloom fires as before
    assert(BloomReduce.semiReduce(fact, col("k"), keys, col("kk"))
      .queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("byShuffledKey: same result as plain groupBy, one exchange, no pre-shuffle aggregate") {
    import spark.implicits._
    import graft.operators.Aggregates
    val df = (0L until 20000L).map(i => (i % 4999L, i)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val shuffled = Aggregates.byShuffledKey(df, col("k"))
      .agg(sum("v").as("s"), count(lit(1)).as("n")).orderBy("k")
    assert(shuffled.collect().sameElements(plain))
    // the whole point: the aggregate runs AFTER the exchange, so there
    // must be no HashAggregate between the scan and the shuffle
    val agged = Aggregates.byShuffledKey(df, col("k")).agg(sum("v").as("s"))
    val plan = agged.queryExecution.executedPlan.toString
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0, plan.take(800))
    // in toString order children print BELOW parents: everything after
    // the Exchange line is upstream of it and must carry no aggregate
    assert(!plan.substring(exIdx).contains("HashAggregate"),
      "partial aggregate found upstream of the exchange:\n" + plan.take(1200))
    // aliasing the key through groupCols keeps the same contract —
    // results AND plan shape (alias-aware output partitioning must
    // still satisfy the aggregate's distribution: one exchange, no
    // pre-exchange partial pass)
    def assertShuffleFirstPlan(d: org.apache.spark.sql.DataFrame): Unit = {
      val p = d.queryExecution.executedPlan.toString
      val i = p.indexOf("Exchange hashpartitioning")
      assert(i >= 0, p.take(800))
      assert(!p.substring(i).contains("HashAggregate"),
        "partial aggregate found upstream of the exchange:\n" + p.take(1200))
      assert(p.indexOf("Exchange hashpartitioning", i + 1) < 0,
        "second exchange found — the groupBy did not reuse the repartition:\n" + p.take(1200))
    }
    val aliasedDf = Aggregates.byShuffledKey(df, col("k"), col("k").as("g"))
      .agg(count(lit(1)).as("n"))
    assertShuffleFirstPlan(aliasedDf)
    val aliased = aliasedDf.orderBy("g").collect()
    assert(aliased.map(r => (r.getLong(0), r.getLong(1))).sameElements(
      plain.map(r => (r.getLong(0), r.getLong(2)))))
    // multi-key form (the Jaccard pair-count shape)
    val two = df.withColumn("k2", col("v") % 7)
    val multiDf = Aggregates.byShuffledKeys(two, Seq(col("k"), col("k2")))
      .agg(sum("v").as("s"))
    assertShuffleFirstPlan(multiDf)
    val multiPlain = two.groupBy("k", "k2").agg(sum("v").as("s"))
      .orderBy("k", "k2").collect()
    assert(multiDf.orderBy("k", "k2").collect().sameElements(multiPlain))
  }

  test("bloom semiReduce: mixed integral key types keep all true matches") {
    import spark.implicits._
    // xxhash64 is type-sensitive (hash(42: Int) != hash(42L)); the exact
    // join would coerce, so the bloom must too — int fact key vs long
    // build key has to be lossless, not a silent full filter
    val fact = (0 until 5000).map(i => (i.toLong, i % 257)).toDF("row_id", "k") // k: int
    val keys = (0L until 257L).filter(_ % 7L == 0L).toDF("kk")                 // kk: long
    val pruned = BloomReduce.semiReduce(fact, col("k"), keys, col("kk"))
    val exact = fact.join(keys, col("k") === col("kk"), "left_semi")
      .select("row_id").as[Long].collect().toSet
    val kept = pruned.select("row_id").as[Long].collect().toSet
    assert(exact.nonEmpty && exact.subsetOf(kept),
      s"dropped ${(exact -- kept).size} of ${exact.size} true matches")
    // non-integral mismatched types must refuse loudly instead of
    // producing false negatives
    val sFact = Seq(("a", "x")).toDF("row_id", "k")
    val lKeys = Seq(1L).toDF("kk")
    assertThrows[IllegalArgumentException] {
      BloomReduce.semiReduce(sFact, col("k"), lKeys, col("kk"))
    }
  }
}
