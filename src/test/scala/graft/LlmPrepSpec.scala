package graft

import graft.functions.{Sketches, TextFunctions}
import graft.operators.{Sampling, SeqPack}
import org.apache.spark.sql.functions._

/** Semantics + scale invariants of the LLM training-data prep ops:
  * sequence packing, overlap chunking, per-group sampling, KMV
  * cardinality sketch, PII redaction. */
class LlmPrepSpec extends GraftSpec {

  private lazy val docs = Tables.documents(spark, sf).cache()

  test("packContiguous: chunk ids are the running-sum buckets and layout-invariant") {
    val packed = SeqPack.packContiguous(docs, col("doc_id"),
      TextFunctions.tokenCount(col("text")), budget = 256L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // oracle: sequential scan in key order
    var cum = 0L
    packed.foreach { case (_, n, chunk) =>
      assert(chunk === cum / 256L)
      cum += n
    }
    // chunk ids start at 0 and never decrease in corpus order
    val ids = packed.map(_._3)
    assert(ids.head === 0L)
    assert(ids.zip(ids.tail).forall { case (a, b) => b >= a })
    // layout invariance: a repartitioned input packs identically
    val re = SeqPack.packContiguous(docs.repartition(13), col("doc_id"),
      TextFunctions.tokenCount(col("text")), budget = 256L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re === packed)
  }

  test("packContiguous: every chunk but the last reaches the budget boundary") {
    val manifest = SeqPack.chunkManifest(
      SeqPack.packContiguous(docs, col("doc_id"),
        TextFunctions.tokenCount(col("text")), budget = 256L))
      .orderBy("chunk_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    val maxDoc = docs.select(max(TextFunctions.tokenCount(col("text")))).head().getInt(0)
    // contiguous packing: a chunk closes when cum crosses its boundary,
    // so every non-final chunk holds within (budget - maxDoc, budget + maxDoc)
    manifest.dropRight(1).foreach { case (id, tok) =>
      assert(tok > 256 - maxDoc && tok < 256 + maxDoc, s"chunk $id: $tok tokens")
    }
  }

  test("chunkSpans: full coverage, stride spacing, tail clamp") {
    val rows = docs.select(size(TextFunctions.tokenize(col("text"))).as("n"),
        TextFunctions.chunkSpans(size(TextFunctions.tokenize(col("text"))), 32, 24).as("spans"))
      .collect().map(r => (r.getInt(0), r.getSeq[org.apache.spark.sql.Row](1)))
    rows.foreach { case (n, spans) =>
      val starts = spans.map(_.getInt(1))
      assert(starts.head === 1)
      // consecutive chunk indexes from 0
      assert(spans.map(_.getInt(0)) === spans.indices)
      // every token position covered by at least one [start, start+31] window
      val covered = starts.flatMap(s => s until math.min(s + 32, n + 1)).toSet
      assert(covered === (1 to n).toSet, s"n=$n starts=$starts")
      // stride spacing except the clamped tail
      starts.zip(starts.tail).dropRight(1).foreach { case (a, b) => assert(b - a === 24) }
      // tail clamp: last window ends exactly at n (unless doc shorter than window)
      if (n >= 32) assert(starts.last === n - 31) else assert(starts === Seq(1))
    }
  }

  test("perGroupSample: exact-k per group, downward-consistent, layout-invariant") {
    val ev = Tables.events(spark, sf)
    val k10 = Sampling.perGroupSample(ev, col("event_type"), col("event_id"), 10, 99L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val k5 = Sampling.perGroupSample(ev, col("event_type"), col("event_id"), 5, 99L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(k5.subsetOf(k10), "k=5 sample must be a subset of k=10")
    val counts = Sampling.perGroupSample(ev, col("event_type"), col("event_id"), 10, 99L)
      .groupBy("event_type").count().collect().map(_.getLong(1))
    assert(counts.forall(_ === 10L))
    val re = Sampling.perGroupSample(ev.repartition(17), col("event_type"), col("event_id"), 10, 99L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(re === k10)
  }

  test("kmvDistinct: exact below k, within 2/sqrt(k) above k") {
    val ev = Tables.events(spark, sf)
    val exact = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    // k above the cardinality -> exact branch
    val exactRow = Sketches.kmvDistinct(ev, col("user_id"), k = 100000, seed = 3L).head()
    assert(exactRow.getDouble(0) === exact.toDouble)
    // k below -> estimator branch, standard KMV error envelope (~1/sqrt(k))
    val est = Sketches.kmvDistinct(ev, col("user_id"), k = 32, seed = 3L).head().getDouble(0)
    val relErr = math.abs(est - exact) / exact
    assert(relErr < 2.0 / math.sqrt(32), s"exact=$exact est=$est relErr=$relErr")
  }

  test("kmv: NULL keys are ignored (SQL count-distinct convention)") {
    import spark.implicits._
    val withNulls = Seq[Option[Long]](Some(1L), Some(2L), Some(3L), None, None)
      .toDF("k")
    // exact branch: nulls are not a distinct value and occupy no slot
    val got = Sketches.kmvDistinct(withNulls, col("k"), k = 10, seed = 1L).head()
    assert(got.getDouble(0) === 3.0 && got.getLong(1) === 3L)
    // estimator branch: the sketch over (non-null ++ nulls) equals the
    // sketch over non-null alone — a NULL hash must not displace a slot
    val many = (1L to 100L).map(Option(_)).toDF("k")
    val spiked = many.unionAll(Seq[Option[Long]](None, None, None).toDF("k"))
    val a = Sketches.kmvDistinct(many, col("k"), k = 8, seed = 1L).head().getDouble(0)
    val b = Sketches.kmvDistinct(spiked, col("k"), k = 8, seed = 1L).head().getDouble(0)
    assert(a === b)
  }

  test("empty-text conventions: no phantom chunk span, punctRatio 0.0, BPE guard") {
    import spark.implicits._
    val spans = Seq(0, 1, 40).toDF("n")
      .select(col("n"), TextFunctions.chunkSpans(col("n"), window = 32, stride = 24).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Any](1).length).toMap
    assert(spans(0) === 0) // token-less doc: NO chunks (was one phantom)
    assert(spans(1) === 1)
    assert(spans(40) === 2)
    val pr = Seq("", "a.b!").toDF("t")
      .select(TextFunctions.punctRatio(col("t"))).collect().map(_.getDouble(0))
    assert(pr(0) === 0.0 && pr(1) === 0.5) // empty is 0.0, not NULL
    intercept[IllegalArgumentException] {
      graft.operators.Bpe.train(docs, col("text"), numMerges = 4, maxWords = 0)
    }
  }

  test("kmvOverlap: exact when k covers the union; inside the envelope when sketched") {
    // A = [0, 600), B = [400, 1000): |A∩B| = 200, |A∪B| = 1000, J = 0.2
    val a = spark.range(0, 600).toDF("k")
    val b = spark.range(400, 1000).toDF("k")
    val exact = Sketches.kmvOverlap(a, col("k"), b, col("k"), k = 5000, seed = 7L).head()
    assert(exact.getLong(0) === 1000L)
    assert(exact.getLong(1) === 200L)
    assert(exact.getDouble(2) === 0.2)
    assert(exact.getDouble(3) === 1000.0)
    // sketched: deterministic estimates inside the ~1/sqrt(k) envelope
    val est = Sketches.kmvOverlap(a, col("k"), b, col("k"), k = 256, seed = 7L).head()
    assert(est.getLong(0) === 256L)
    assert(math.abs(est.getDouble(2) - 0.2) < 0.1, s"jaccard_est=${est.getDouble(2)}")
    assert(math.abs(est.getDouble(3) - 1000.0) / 1000.0 < 0.25,
      s"union_est=${est.getDouble(3)}")
    // layout invariance (sketches are order statistics of a hash)
    val re = Sketches.kmvOverlap(a.repartition(7), col("k"), b.repartition(3), col("k"),
      k = 256, seed = 7L).head()
    assert(re === est)
  }

  test("importance resampling (DSIR): target-dialect docs outrank off-target; layout-invariant") {
    import graft.operators.Importance
    import spark.implicits._
    // raw corpus = two dialects with disjoint vocabulary; target speaks one
    val raw = ((0L until 50L).map(i => (i, "alpha beta gamma")) ++
      (50L until 100L).map(i => (i, "omega psi chi"))).toDF("id", "txt")
    val target = (0L until 20L).map(i => (1000L + i, "alpha beta gamma alpha"))
      .toDF("id", "txt")
    val scores = Importance.importanceScores(raw, target, col("id"), col("txt"),
      buckets = 512)
    val byDoc = scores.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byDoc.size === 100)
    val hi = (0L until 50L).map(byDoc)
    val lo = (50L until 100L).map(byDoc)
    assert(hi.min > lo.max, s"target dialect must outrank: ${hi.min} vs ${lo.max}")
    // the resampling step keeps exactly the target-like half
    val top = Importance.resampleTopN(raw, target, col("id"), col("txt"),
      buckets = 512, n = 50).collect().map(_.getLong(0)).toSet
    assert(top === (0L until 50L).toSet)
    // layout invariance: nano-integer weights make the sums order-free
    val re = Importance.importanceScores(raw.repartition(7), target.repartition(5),
      col("id"), col("txt"), buckets = 512)
    assert(re.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      .sameElements(scores.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted))
  }

  test("importance weights: an empty target corpus fails loudly, not silent NULLs") {
    import graft.operators.Importance
    import spark.implicits._
    val raw = (0L until 10L).map(i => (i, "alpha beta")).toDF("id", "txt")
    val emptyTarget = raw.filter(lit(false))
    val e = intercept[Exception] {
      Importance.resampleTopN(raw, emptyTarget, col("id"), col("txt"),
        buckets = 64, n = 5).collect()
    }
    assert(e.getMessage.contains("target corpus has no tokens"), e.getMessage)
    // all-null text is the same degenerate case
    val nullTarget = raw.select(col("id"), lit(null).cast("string").as("txt"))
    val e2 = intercept[Exception] {
      Importance.resampleTopN(raw, nullTarget, col("id"), col("txt"),
        buckets = 64, n = 5).collect()
    }
    assert(e2.getMessage.contains("target corpus has no tokens"), e2.getMessage)
  }

  test("grouped split: every group lands in exactly one split (no leakage)") {
    val out = Sampling.splitAssign(
      docs.select(col("doc_id"), col("source")),
      TextFunctions.polyHash(col("source")),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 7L)
    val groups = out.select("source").distinct().count()
    val groupSplits = out.select("source", "split").distinct().count()
    assert(groupSplits === groups)
  }

  test("gridQuantiles: empty input still emits one row per q; bad q rejected") {
    val ev = Tables.events(spark, sf).filter(lit(false))
    val out = Sketches.gridQuantiles(ev, col("value"), buckets = 16, qs = Seq(0.5, 0.9))
      .collect()
    assert(out.length === 2)
    out.foreach { r => assert(r.isNullAt(1) && r.getLong(2) === 0L) }
    intercept[IllegalArgumentException] {
      Sketches.gridQuantiles(ev, col("value"), buckets = 16, qs = Seq(1.5))
    }
  }

  test("fixedStepQuantiles: one-pass, within step/2 of exact; empty input; bad args") {
    val ev = Tables.events(spark, sf)
    val qs = Seq(0.5, 0.9, 0.99)
    val step = 2.0
    val out = Sketches.fixedStepQuantiles(ev, col("value"), step, qs)
    val est = out.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // single data pass at RUNTIME: the three references to the cell
    // histogram are kept canonically identical (see the function's
    // comments), so AQE stage reuse executes the scan + histogram
    // exchange once and the final plan shows the others as
    // ReusedExchange — the initial-plan section naturally shows all 3
    val finalPlan = out.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert("FileScan parquet".r.findAllIn(finalPlan).size === 1, finalPlan.take(3000))
    assert("ReusedExchange".r.findAllIn(finalPlan).size === 2, finalPlan.take(3000))
    val exact = ev.stat.approxQuantile("value", qs.toArray, 0.0)
    qs.zip(exact).foreach { case (q, ex) =>
      assert(math.abs(est(q) - ex) <= step / 2 + 1e-9, s"q=$q exact=$ex est=${est(q)}")
    }
    val empty = Sketches.fixedStepQuantiles(ev.filter(lit(false)), col("value"), step, Seq(0.5))
      .collect()
    assert(empty.length === 1 && empty.head.isNullAt(1) && empty.head.getLong(2) === 0L)
    intercept[IllegalArgumentException] {
      Sketches.fixedStepQuantiles(ev, col("value"), step = 0.0, qs = Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Sketches.fixedStepQuantiles(ev, col("value"), step, qs = Seq(0.0))
    }
  }

  test("kmvDistinctPerGroup: every group estimate within the KMV envelope") {
    val ev = Tables.events(spark, sf)
    val exact = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.kmvDistinctPerGroup(ev, col("event_type"), col("user_id"),
        k = 32, seed = 3L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (g, e) =>
      val relErr = math.abs(e - exact(g)) / exact(g)
      assert(relErr < 2.0 / math.sqrt(32), s"group=$g exact=${exact(g)} est=$e")
    }
  }

  test("gridQuantiles: within one grid cell of the exact percentile") {
    val ev = Tables.events(spark, sf)
    val qs = Seq(0.5, 0.9, 0.99)
    val est = Sketches.gridQuantiles(ev, col("value"), buckets = 256, qs = qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val Array(lo, hi) = ev.agg(min(col("value")), max(col("value"))).head()
      .toSeq.map(_.asInstanceOf[Double]).toArray
    val cell = (hi - lo) / 256
    val exact = ev.stat.approxQuantile("value", qs.toArray, 0.0) // relErr 0 = exact
    qs.zip(exact).foreach { case (q, ex) =>
      assert(math.abs(est(q) - ex) <= cell + 1e-9,
        s"q=$q exact=$ex est=${est(q)} cell=$cell")
    }
  }

  test("incremental dedup equals the full-corpus pair set restricted to cross-split pairs") {
    import graft.operators.NearDup
    val newB = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val corp = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val cross = NearDup.minHashNearDupsAgainst(newB, corp, col("doc_id"), col("text"))
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val full = NearDup.minHashNearDups(docs, col("doc_id"), col("text"))
      .collect().map(r => Set(r.getLong(0), r.getLong(1)))
      .filter(p => p.count(_ % 5 == 0) == 1).toSet
    assert(cross === full)
    // and the ingest filter is exactly new-minus-matched
    val novel = NearDup.ingestNovel(newB, corp, col("doc_id"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val newIds = newB.select("doc_id").collect().map(_.getLong(0)).toSet
    val matchedNew = cross.flatMap(_.filter(_ % 5 == 0))
    assert(novel === newIds -- matchedNew)
  }

  test("rebalanceToMix hits the target proportions exactly (floor rounding)") {
    import graft.operators.Sampling
    val shares = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val mixed = Sampling.rebalanceToMix(docs.select(col("doc_id"), col("source")),
      col("source"), col("doc_id"), shares, seed = 5L)
    val got = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = docs.filter(col("source").isin(shares.keys.toSeq: _*))
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = shares.map { case (s, f) => counts(s) / f }.min
    shares.foreach { case (s, f) =>
      assert(got(s) === math.floor(f * n).toLong, s"stratum $s")
    }
    // layout invariance
    val re = Sampling.rebalanceToMix(
      docs.select(col("doc_id"), col("source")).repartition(11),
      col("source"), col("doc_id"), shares, seed = 5L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(re === mixed.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a recipe stratum with no rows makes the mixture infeasible ->
    // empty output, never silently-renormalized proportions
    val infeasible = Sampling.rebalanceToMix(docs.select(col("doc_id"), col("source")),
      col("source"), col("doc_id"),
      Map("src0" -> 0.5, "no_such_source" -> 0.5), seed = 5L)
    assert(infeasible.count() === 0L)
  }

  test("upsert with NULL keys appends instead of matching (MERGE semantics)") {
    import graft.operators.Upsert
    import spark.implicits._
    val base = Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("k", "s")
    val updates = Seq((null.asInstanceOf[java.lang.Long], "c")).toDF("k", "s")
    val got = Upsert.merge(base, updates, Seq("k")).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    // NULL-key base row survives AND the NULL-key update appends
    assert(got === Set((Some(1L), "a"), (None, "b"), (None, "c")))
  }

  test("upsert replaces rows wholesale: NULLs in an update overwrite base values") {
    import graft.operators.Upsert
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, null.asInstanceOf[String], 99.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val got = Upsert.merge(base, updates, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(got === Array((1L, "a", 10.0), (2L, null, 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("profile summary counts nulls and keeps exact means") {
    import graft.operators.Profile
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, null), (3L, 6.0), (null, 4.0)).toDF("a", "b")
    val rows = Profile.summary(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
    assert(rows("a") === ((4L, 1L, 2.0)))   // mean of 1,2,3
    assert(rows("b") === ((4L, 1L, 4.0)))   // mean of 2,6,4
  }

  test("redactPii scrubs emails, phones, IPs and leaves clean text alone") {
    import spark.implicits._
    val cases = Seq(
      ("mail me at jo.doe+x@corp.example.org today", "mail me at <EMAIL> today"),
      ("call +1-555-0101 or (202) 555-0199 now", "call <PHONE> or <PHONE> now"),
      ("host 192.168.0.12 responded", "host <IP> responded"),
      ("all clean words here", "all clean words here"),
      ("a@b.co 10.0.0.1 555-123-4567", "<EMAIL> <IP> <PHONE>"))
    val got = cases.map(_._1).toDF("t")
      .select(TextFunctions.redactPii(col("t"))).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, want) => assert(g === want) }
  }

  test("scd2: closed history immutable, open rows close at ts, new versions/keys append open") {
    import graft.operators.Upsert
    import spark.implicits._
    def t(x: String) = java.sql.Timestamp.valueOf(x + " 00:00:00")
    val hist = Seq(
      (1L, "a-v1", t("2018-01-01"), t("2020-01-01")), // closed: must not change
      (1L, "a-v2", t("2020-01-01"), null),            // open: must close
      (2L, "b-v1", t("2020-01-01"), null))            // untouched key
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq((1L, "a-v3", t("2024-06-01")), (3L, "c-v1", t("2024-06-01")))
      .toDF("k", "attr", "ts")
    val got = Upsert.scd2(hist, upd, Seq("k"), "ts")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getTimestamp(2)).map(_.toString).orNull,
        Option(r.getTimestamp(3)).map(_.toString).orNull)).toSet
    assert(got === Set(
      (1L, "a-v1", "2018-01-01 00:00:00.0", "2020-01-01 00:00:00.0"),
      (1L, "a-v2", "2020-01-01 00:00:00.0", "2024-06-01 00:00:00.0"),
      (1L, "a-v3", "2024-06-01 00:00:00.0", null),
      (2L, "b-v1", "2020-01-01 00:00:00.0", null),
      (3L, "c-v1", "2024-06-01 00:00:00.0", null)))
  }

  test("scd2: a NULL-ts update is dropped from both sides (never two open rows per key)") {
    import graft.operators.Upsert
    import spark.implicits._
    def t(x: String) = java.sql.Timestamp.valueOf(x + " 00:00:00")
    val hist = Seq((1L, "a-v1", t("2020-01-01"), null: java.sql.Timestamp))
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq((1L, "a-v2", null: java.sql.Timestamp)).toDF("k", "attr", "ts")
    val got = Upsert.scd2(hist, upd, Seq("k"), "ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(3))).toSet
    // the open row stays open and the undated version never appears —
    // the asymmetric alternative would leave TWO open rows for key 1
    assert(got === Set((1L, "a-v1", true)))
  }

  test("BPE: hand-computed merges, rank-greedy encode, losslessness, layout invariance") {
    import graft.operators.Bpe
    import spark.implicits._
    // corpus: aaab ×2, ab ×1 → pair stats (a,a)=4, (a,b)=3
    // merge 1 = (a,a) → words [aa,a,b]×2, [a,b]
    // merge 2 = (a,b) (freq 3: 2 from aaab's tail + 1 from ab) → [aa,ab]×2, [ab]
    // merge 3 = (aa,ab) (freq 2)
    val corpus = Seq("aaab aaab ab").toDF("text")
    val merges = Bpe.train(corpus, col("text"), numMerges = 3)
    assert(merges === Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // encode reproduces the training segmentation via rank order
    val enc = Seq("aaab ab aab zq").toDF("t")
      .select(Bpe.encode(col("t"), merges).as("toks"))
      .collect().head.getSeq[String](0)
    // aaab → aaab (rank path a,a → aa | a,b → ab | aa,ab → aaab)
    // aab  → aa, b (merge (a,a) first; (a,b) gone once 'a a' merged)
    // zq   → unknown chars stay single symbols
    assert(enc === Seq("aaab", "ab", "aa", "b", "z", "q"))
    // losslessness: per-doc token concatenation == text without spaces
    val docs = Tables.documents(spark, sf)
    val trained = Bpe.train(docs, col("text"), numMerges = 20)
    val bad = docs.select(col("text"),
        concat_ws("", Bpe.encode(col("text"), trained)).as("rejoined"))
      .filter(replace(col("text"), lit(" "), lit("")) =!= col("rejoined"))
      .count()
    assert(bad === 0L)
    // training is layout-invariant (deterministic top-k + tie-breaks)
    val trained8 = Bpe.train(docs.repartition(8), col("text"), numMerges = 20)
    assert(trained === trained8)
  }

  test("BPE gate convention: NULL text rows stay NULL (no ''-masking, no vacuous bound)") {
    import graft.operators.Bpe
    import spark.implicits._
    // The text_bpe_tokens gate mirrors its oracle's NULL semantics: a NULL
    // document must yield NULL detok (concat_ws alone would mask it to '')
    // and a NULL bound flag (a coalesce-to-true would pass the one row
    // where the invariant can't be checked). Exercise the exact gate
    // expression shape on a corpus containing a NULL.
    val docs = Seq((1L, "ab ab a"), (2L, null: String)).toDF("doc_id", "text")
    val merges = Bpe.train(docs, col("text"), numMerges = 2)
    val toks = Bpe.encode(col("text"), merges)
    val detok = concat_ws("", toks)
    val nWords = size(filter(split(col("text"), " "), w => length(w) > 0))
    val rows = docs.select(col("doc_id"),
        when(col("text").isNotNull, detok).as("detok"),
        when(col("text").isNotNull,
          size(toks) <= length(detok) && size(toks) >= nWords).as("n_tokens_bounded"))
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) === "ababa")
    assert(rows(0).getBoolean(2) === true)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }
}
