package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over a document corpus: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  * Jaccard joins only pairs sharing a shingle; MinHash compares only
  * pairs sharing an LSH band bucket (sub-linear candidate set); SimHash
  * reduces each document to one 60-bit fingerprint (pairs = bucketed
  * hamming neighbors). Hash arithmetic is plain mod-P integer math so
  * an external oracle can reproduce results bit-for-bit.
  */
object NearDup {

  // ---- shingle sets ----------------------------------------------------

  /** (id, shingles: distinct token n-grams). Shingling is CPU-bound and
    * narrow, so the input is spread across cores first (no-op at real
    * scale — see [[Parallelism]]). */
  def shingleSets(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        array_distinct(shingles(tokenize(col("__text")), n)).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** (id, shingles: distinct sorted n-gram HASHES) via the fused native
    * kernel — same doc set as [[shingleSets]], ~10x cheaper (no string
    * materialization, no interpreted HOFs). Set similarity over mod-P
    * gram hashes is collision-tolerant by construction (as MinHash
    * itself is); the oracle hashes its gram strings with the same fold,
    * so both engines always see identical sets. */
  def shingleHashSets(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions
          .shingle_hashes(tokenize(col("__text")), n).as("shingles"))
      .filter(col("shingles").isNotNull)

  // ---- exact -----------------------------------------------------------

  /** Exact duplicate groups by full text: (text groups with count and
    * the kept representative = min id). Hash-groupBy — one shuffle,
    * map-side combinable. */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(text.as("text"))
      .agg(count(lit(1)).as("n"), min(id).as("keeper"))

  // ---- n-gram Jaccard --------------------------------------------------

  /** All pairs with Jaccard(shingle sets) >= threshold. Candidate pairs
    * come from an equi-join on shared shingles (never a cross join), and
    * because shingle sets are distinct per doc, the per-pair join row
    * count IS the intersection size — so Jaccard needs only a count
    * aggregate plus two (small, broadcastable) size lookups. No
    * array_intersect over candidate pairs, no distinct pass: one shuffle
    * join + one groupBy.
    *
    * `dfCap` bounds the self-join fanout: a shingle occurring in d
    * documents contributes d² join rows, so one corpus-wide "stop
    * shingle" (boilerplate text) alone produces a quadratic blowup at
    * scale. Shingles with document frequency > dfCap are dropped BEFORE
    * the join — standard stop-shingle removal: Jaccard is then computed
    * over the capped shingle space (set sizes count capped shingles
    * too, so the metric stays a true Jaccard of the reduced sets). The
    * df comes from a count window over the shingle key — one shuffle
    * that the self-join immediately reuses (same partitioning).
    *
    * Shingles travel as mod-P HASHES (the fused [[shingleHashSets]]
    * kernel): the exploded rows, the df window and the self-join all
    * key on 8-byte longs instead of n-gram strings — collision-tolerant
    * set similarity (as MinHash itself), mirrored hash-for-hash by the
    * oracle so both engines always see identical sets. */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.5, dfCap: Int = Int.MaxValue): DataFrame = {
    val sets = shingleHashSets(docs, id, text, n)
    val ex0 = sets.select(col("doc_id"), explode(col("shingles")).as("s"))
    val ex =
      if (dfCap == Int.MaxValue) ex0
      else ex0
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("s"))))
        .filter(col("__df") <= dfCap)
        .drop("__df")
    // shuffle-first pair count (Aggregates scaladoc): the join output is
    // partitioned by gram, so a pair's duplicate rows — one per shared
    // gram — live on DIFFERENT partitions and the partial count pass
    // reduces ~nothing while the pair-key exchange happens either way
    val shared = Aggregates.byShuffledKeys(
        ex.as("a").join(ex.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
        Seq(col("doc_a"), col("doc_b")))
      .agg(count(lit(1)).as("shared"))
    // per-doc (capped) set size; shingles are distinct per doc, so a row
    // count over the exploded view equals the set size. Corpus-cardinality
    // (one row/doc): no broadcast hint — let AQE pick broadcast when it
    // fits and shuffle-join when it doesn't
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "nb"), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Attach exact Jaccard to candidate (doc_a, doc_b) pairs and filter.
    * Right for a SMALL candidate set (e.g. LSH survivors): two joins
    * against the shingle arrays + an array_intersect per pair. For
    * candidate sets comparable to the corpus itself, use the count-based
    * path inside [[jaccardPairs]] instead (arrays never travel). */
  def verifyJaccard(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    verifyJaccardBetween(cand, sets, sets, threshold)

  /** [[verifyJaccard]] with distinct shingle-set frames for the two pair
    * sides (cross-corpus candidates: doc_a from one corpus, doc_b from
    * another). */
  def verifyJaccardBetween(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
      threshold: Double): DataFrame = {
    val a = setsA.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = setsB.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double")
          / (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** Permutation constants for MinHash: a_i, b_i < P, deterministic
    * (canonical definition lives next to the fused kernel). */
  def permA(i: Int): Long = graft.functions.expressions.VecUtil.permA(i)
  def permB(i: Int): Long = graft.functions.expressions.VecUtil.permB(i)

  /** MinHash signatures from raw token arrays: (doc_id, m0..m{k-1}) —
    * min over n-gram shingles of (a_i * polyHash(shingle) + b_i) mod P
    * per permutation, computed by the fused native kernel
    * ([[graft.functions.expressions.GraftExpressions.minhash_sigs]]): one codegen'd pass
    * per doc, no shingle strings materialized, NO shuffle. Docs with
    * fewer than n tokens yield no signature (kernel returns null) —
    * same doc set as the shingle-set formulation. */
  def minHashSignatures(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 16): DataFrame = {
    val sig = Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions
          .minhash_sigs(tokenize(col("__text")), n, k).as("__sig"))
      .filter(col("__sig").isNotNull)
    sig.select(col("doc_id") +:
      (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** The column-expression formulation of [[minHashSignatures]] over
    * pre-built shingle sets (hash the shingle array, then k
    * array_min(transform) passes) — kept as the semantic spec the fused
    * kernel is verified against (EquivalenceSpec: bit-identical). Its
    * higher-order functions evaluate interpreted, so the kernel form is
    * ~10x cheaper per doc at corpus scale. */
  def minHashSignaturesCols(sets: DataFrame, k: Int = 16): DataFrame = {
    val withHashes = sets.select(col("doc_id"),
      transform(col("shingles"), s => polyHash(s)).as("hs"))
    val mins = (0 until k).map(i =>
      array_min(transform(col("hs"), h => (h * permA(i) + permB(i)) % P)).as(s"m$i"))
    withHashes.select(col("doc_id") +: mins: _*)
  }

  /** Band hash: fold the band's signature slice with h = (h*31 + m) mod P. */
  private def bandHash(cols: Seq[Column]): Column =
    cols.foldLeft(lit(0L))((acc, m) => (acc * 31 + m) % P)

  /** Each doc's LSH band-bucket claims: (doc_id, band, bh) — one row per
    * band. Works on batch and streaming signature frames (narrow). */
  def bandTuples(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // rowsPerBand = 0 (bands > k after floor division) would fold the
    // band hash over ZERO signature columns — every document in one
    // all-corpus bucket, i.e. the exact O(n²) candidate blowup the
    // banding exists to prevent, with no error
    require(bands >= 1 && rowsPerBand >= 1,
      s"bandTuples: need bands >= 1 and rowsPerBand >= 1, got bands=$bands rowsPerBand=$rowsPerBand")
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { j =>
        struct(lit(j).as("band"),
          bandHash((0 until rowsPerBand).map(r => col(s"m${j * rowsPerBand + r}"))).as("bh"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
  }

  /** Default per-bucket materialization bound for [[bucketPairs]]. */
  val DefaultMaxBucket = 1024

  /** All within-bucket pairs (a < b) of `payload` structs, never
    * materializing an unbounded per-bucket array.
    *
    * Buckets at or under `maxBucket` rows use the collect_list path (one
    * bounded array per bucket, pairs expanded row-locally); buckets above
    * it — the hot buckets natural skew produces (boilerplate text ⇒ one
    * band value carrying a large share of the corpus) — switch to a
    * within-bucket self-join, which streams pairs through the join
    * instead of collecting the bucket into a single executor row.
    *
    * The pair SET is identical either way; `maxBucket` only selects the
    * execution strategy. Bucket sizes come from a count window over the
    * bucket key, so the input is shuffled ONCE by bucket and all three
    * consumers (size tagging, cold aggregate, hot self-join) reuse that
    * exchange. */
  private[operators] def bucketPairs(
      banded: DataFrame,
      keys: Seq[String],
      payload: Column,
      maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val withSz = banded.select(keys.map(col) :+ payload.as("p"): _*)
      .withColumn("__bsz", count(lit(1)).over(w))
    val cold = withSz.filter(col("__bsz") <= maxBucket && col("__bsz") > 1)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    val coldPairs = cold.select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("a"), y.as("b")))))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
    val hot = withSz.filter(col("__bsz") > maxBucket)
    val hotPairs = hot.as("x").join(hot.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
          && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
    coldPairs.unionAll(hotPairs)
  }

  /** LSH candidate pairs: documents sharing any band bucket.
    * k = bands * rowsPerBand.
    *
    * Pairs are generated bucket-locally via [[bucketPairs]] — pair
    * explosion stays confined to each bucket, and no bucket ever
    * materializes more than `maxBucket` rows in one array. */
  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandTuples(sig, bands, rowsPerBand)
    bucketPairs(banded, Seq("band", "bh"), struct(col("doc_id")), maxBucket)
      .select(col("a").getField("doc_id").as("doc_a"),
        col("b").getField("doc_id").as("doc_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    * candidate pairs -> exact-Jaccard verification. Signatures come from
    * the fused kernel (no shingle strings); the string shingle sets are
    * built only for the final exact-Jaccard pass over the (small)
    * candidate pair set. */
  def minHashNearDups(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    // k = bands * rowsPerBand exactly: a non-dividing bands would
    // silently drop the trailing signature components from every band
    require(bands >= 1 && k % bands == 0,
      s"minHashNearDups: k must be a multiple of bands, got k=$k bands=$bands")
    // no cache: every reuse is a narrow scan + fused-kernel pass, so
    // recomputation is cheaper than a materialization barrier
    val cand = lshCandidates(minHashSignatures(docs, id, text, n, k), bands, k / bands)
    verifyJaccard(cand, shingleHashSets(docs, id, text, n), threshold)
  }

  // ---- incremental (cross-corpus) dedup --------------------------------

  /** Cross-corpus LSH candidates: (new doc, corpus doc) sharing any band
    * bucket. A plain equi-join on (band, bucket) — unlike the
    * within-corpus case there is no a<b self-pairing to bound, and the
    * output IS the candidate set, so fanout equals true candidate
    * volume; hot boilerplate buckets are AQE skew-join territory, and
    * the dfCap analogue at this layer is dropping buckets whose corpus
    * side exceeds a bound before the join (not needed at gate scale). */
  def lshCrossCandidates(sigNew: DataFrame, sigCorpus: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame =
    bandTuples(sigNew, bands, rowsPerBand).as("n")
      .join(bandTuples(sigCorpus, bands, rowsPerBand).as("c"), Seq("band", "bh"))
      .select(col("n.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()

  /** Incremental-ingestion dedup: near-dup matches of `newDocs` against
    * an existing `corpus` — the standard shape for continuously ingested
    * training data (dedupe each arriving batch against the canonical
    * corpus without ever re-pairing the corpus with itself). Returns
    * (doc_a = new id, doc_b = corpus id, jaccard >= threshold).
    *
    * Cost scales with |new| x (bucket collision rate), NOT |corpus|²:
    * the corpus side contributes signatures (narrow, no shuffle) and one
    * equi-join; at 100 TB the corpus band table is the thing to persist
    * between ingests (it is a pure column function of the corpus, so an
    * incremental pipeline appends new bands to it as batches commit). */
  def minHashNearDupsAgainst(newDocs: DataFrame, corpus: DataFrame,
      id: Column, text: Column, n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"minHashNearDupsAgainst: k must be a multiple of bands, got k=$k bands=$bands")
    val cand = lshCrossCandidates(
      minHashSignatures(newDocs, id, text, n, k),
      minHashSignatures(corpus, id, text, n, k), bands, k / bands)
    verifyJaccardBetween(cand,
      shingleHashSets(newDocs, id, text, n),
      shingleHashSets(corpus, id, text, n), threshold)
  }

  /** The ingest filter built on [[minHashNearDupsAgainst]]: rows of
    * `newDocs` that near-duplicate nothing in `corpus` (left-anti on the
    * matched new-side ids) — what actually gets appended. */
  def ingestNovel(newDocs: DataFrame, corpus: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val matched = minHashNearDupsAgainst(newDocs, corpus, id, text, n, k, bands, threshold)
      .select(col("doc_a")).distinct()
    newDocs.join(matched, id === col("doc_a"), "left_anti")
  }

  // ---- SimHash ---------------------------------------------------------

  // 60 bits: two independent 30-bit mod-P hash families side by side
  // (a single mod-P value carries only 30 varying bits — 1e9+7 < 2^30 —
  // so a wider fingerprint MUST combine two hashes or the upper bits are
  // constant zero and every band above bit 30 degenerates into a single
  // all-corpus bucket; a 30-bit space also proved too dense — hamming<=6
  // matched 60% of all pairs on a small-vocabulary corpus)
  val SimHashBits = 60

  /** SimHash near-duplicate pairs: fingerprints within `maxHamming`
    * bits. Candidates come from banded bucketing — the 60 fingerprint
    * bits split into (maxHamming+1) bands, so any pair within the
    * hamming budget shares at least one exact band (pigeonhole) and
    * recall is exact; verification is one bit_count(xor). */
  def simHashNearDups(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 6, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hammingNearDups(
      simHash(docs, id, text).withColumnRenamed("simhash", "fp"),
      SimHashBits, maxHamming, maxBucket)

  /** Banded Hamming near-dup pairs over ANY (doc_id, fp) fingerprint
    * frame — the generic core of [[simHashNearDups]], reused by e.g.
    * image perceptual-hash dedup
    * ([[graft.operators.Multimodal.imageNearDupPairs]]): the low `bits`
    * bits of `fp` split into (maxHamming+1) bands, so any pair within
    * the hamming budget shares at least one exact band (pigeonhole) and
    * recall is exact; candidates are generated bucket-locally
    * ([[bucketPairs]] — bounded arrays, hot-bucket self-join), verified
    * with one bit_count(xor). Returns (doc_a, doc_b, hamming). */
  def hammingNearDups(fp: DataFrame, bits: Int,
      maxHamming: Int, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bits > 0 && bits <= 64, s"hammingNearDups: bits must be in 1..64, got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"hammingNearDups: maxHamming must be in 0..${bits - 1}, got $maxHamming")
    val nBands = maxHamming + 1
    // split `bits` into nBands near-equal (offset, width) slices
    val widths = Array.tabulate(nBands)(j =>
      bits / nBands + (if (j < bits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1
    // mask the fingerprint to the banded domain on entry: stray bits
    // above `bits` would inflate the verify distance (bit_count runs
    // over the full 64-bit XOR) while staying invisible to the bands —
    // silently dropped pairs, voiding the exact-recall pigeonhole
    // guarantee. With the mask the verify distance matches the banded
    // domain by construction.
    val fpMasked = fp.withColumn("fp", col("fp").bitwiseAND(mask(bits)))
    val banded = fpMasked.select(col("doc_id"), col("fp"),
      explode(array((0 until nBands).map { j =>
        struct(lit(j).as("band"),
          shiftright(col("fp"), offsets(j))
            .bitwiseAND(mask(widths(j))).as("bv"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("fp"), col("e.band"), col("e.bv"))
    bucketPairs(banded, Seq("band", "bv"),
        struct(col("doc_id"), col("fp")), maxBucket)
      .select(col("a").getField("doc_id").as("doc_a"),
        col("b").getField("doc_id").as("doc_b"),
        bit_count(col("a").getField("fp")
          .bitwiseXOR(col("b").getField("fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 60-bit SimHash fingerprint per document: bit b of the fingerprint
    * is set when the occurrence-weighted sum of (±1 per token, + when
    * token-hash bit b is set) is positive. The token hash places two
    * independent mod-P hash families side by side (bits 0-29 from the
    * *31 family, 30-59 from the *131 family) so all 60 bits genuinely
    * vary.
    *
    * Computed entirely row-locally by the native codegen'd
    * [[graft.functions.expressions.GraftExpressions.sim_hash60]] kernel — a narrow map
    * over (doc, token-array), NO explode and NO shuffle: per-doc state
    * is one long. The aggregate formulation ([[simHashAgg]]) is kept as
    * the semantic spec; EquivalenceSpec asserts bit-identity. */
  def simHash(docs: DataFrame, id: Column, text: Column): DataFrame =
    Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions.sim_hash60(tokenize(col("__text")))
          .as("simhash"))
      // null text -> null fingerprint; the aggregate spec (and oracle)
      // drop such docs at the explode, so the kernel form must too
      .filter(col("simhash").isNotNull)

  /** The explode + groupBy formulation of [[simHash]] (one shuffle of
    * (doc, token-hash) pairs, 60 map-side-combinable sum aggregates) —
    * the distributed-aggregation semantic spec the row-local kernel is
    * verified against, and the shape to fall back to if a single row's
    * token array ever exceeded executor memory (not a real corpus
    * concern: 1M-token docs are ~MBs). */
  def simHashAgg(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"), explode(tokenize(col("__text"))).as("t"))
      .withColumn("h", polyHash(col("t")) + shiftleft(polyHash2(col("t")), 30))
    val sums = (0 until SimHashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"w$b"))
    toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until SimHashBits).map(b =>
          when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  // ---- span-level (substring) duplication ------------------------------

  /** Positional gram hashes of every long-enough doc, each occurrence
    * annotated with the min/max doc id holding its gram (one shuffle by
    * hash + an unbounded window frame — cross-doc duplication is then
    * `mn =!= mx`, and `mn` names the keeper). */
  private def dupMarkedGrams(base: DataFrame, n: Int): DataFrame = {
    val grams = base
      .filter(graft.functions.TextFunctions.tokenCount(col("__text")) >= n)
      .select(col("doc_id"),
        posexplode(graft.functions.expressions.GraftExpressions
          .positional_shingle_hashes(tokenize(col("__text")), n))
          .as(Seq("pos", "h")))
    val wh = Window.partitionBy("h")
    grams
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
  }

  /** Per-document duplicated-SPAN coverage: the fraction of each doc's
    * tokens lying inside a token n-gram that also appears in some OTHER
    * document — the span-granular signal behind suffix-array substring
    * dedup (train-set memorization comes from repeated PASSAGES, which
    * doc-level near-dup misses when the surrounding text differs;
    * reference's pipelines stop at doc granularity, cf.
    * /root/reference/docs/tutorial/ranking/taobao/README.md).
    *
    * Output: (doc_id, n_tokens, dup_span_tokens, dup_span_frac) for
    * every document, dup_span_tokens = exact token count of the UNION
    * of duplicated n-gram intervals [pos, pos+n).
    *
    * Scale design — no suffix array, three relational passes that all
    * scale out: (1) positional gram hashes computed row-locally by the
    * codegen'd [[graft.functions.expressions.GraftExpressions.positional_shingle_hashes]]
    * kernel, then one posexplode; (2) cross-doc grams found with a
    * map-side-combinable min/max-doc aggregate on the 8-byte hash (NOT
    * countDistinct — min(doc)!=max(doc) detects "≥2 distinct docs"
    * with mergeable partial state); (3) a left-semi join back on the
    * hash (AQE picks the join shape) and a per-doc window that turns
    * overlapping intervals into an exact union length (running-max of
    * interval ends — one shuffle by doc_id, bounded per-doc state).
    * Gram strings never travel: every exchanged row is (hash, doc, pos).
    */
  def duplicatedSpans(docs: DataFrame, id: Column, text: Column,
      n: Int = 5): DataFrame = {
    val base = Parallelism.ensureDefault(
      docs.select(id.as("doc_id"), text.as("__text")))
    // cross-doc grams via ONE shuffle by hash: min/max doc over an
    // unbounded window partitioned by h marks every occurrence of a
    // gram held by >= 2 distinct docs — no groupBy branch, no semi-join
    // back, the corpus is exploded exactly once (an aggregate +
    // left-semi formulation plans two scan+explode+shuffle subtrees
    // that ReuseExchange does not collapse under AQE). Hub grams cost a
    // streamed O(occurrences) frame agg, never a materialized list.
    val hits = dupMarkedGrams(base, n)
      .where(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("pos"))
    // exact interval-union length: sort a doc's hit positions, clip each
    // interval [pos, pos+n) against the running max end of its
    // predecessors; negative clips (fully covered grams) contribute 0
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = hits
      .withColumn("pend", max(col("pos") + n).over(w))
      .select(col("doc_id"),
        greatest(lit(0L),
          col("pos") + n - greatest(col("pos"), coalesce(col("pend"), lit(0)))
        ).as("contrib"))
      .groupBy("doc_id").agg(sum("contrib").as("dup_span_tokens"))
    base
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("__text"))
          .cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_span_tokens"), lit(0L)).as("dup_span_tokens"),
        (coalesce(col("dup_span_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_span_frac"))
  }

  /** The excision TRANSFORM behind [[duplicatedSpans]]: rewrite every
    * document with its cross-document duplicated spans removed, keeping
    * the copy in the MINIMUM-id holder of each gram (so one instance of
    * every passage survives the corpus — the substring-granular
    * analogue of keep-one-representative doc dedup).
    *
    * Same three relational passes as [[duplicatedSpans]], plus: hit
    * positions become merged [start, end) islands (running-max window +
    * island-id prefix sum, both partitioned by doc), islands collect to
    * one sorted per-doc interval list (row-local size — the same order
    * as the token array itself), and the codegen'd
    * [[graft.functions.expressions.GraftExpressions.excise_spans]] kernel rebuilds the
    * text in one merge-scan. Docs with nothing to excise pass through
    * untouched via the left join's null arm.
    */
  def removeDuplicatedSpans(docs: DataFrame, id: Column, text: Column,
      n: Int = 5): DataFrame = {
    val base = Parallelism.ensureDefault(
      docs.select(id.as("doc_id"), text.as("__text")))
    // same one-shuffle dup marking as [[duplicatedSpans]]; the min-id
    // holder keeps its copy, every other holder excises
    val rem = dupMarkedGrams(base, n)
      .where(col("mn") =!= col("mx") && col("doc_id") =!= col("mn"))
      .select(col("doc_id"), col("pos"))
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val islands = rem
      .withColumn("pend", max(col("pos") + n).over(wPrev))
      .withColumn("isl",
        sum(when(col("pend").isNull || col("pos") > col("pend"), 1L)
          .otherwise(0L)).over(wRun))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").cast("long").as("s"), (max(col("pos")) + n).cast("long").as("e"))
    val intervals = islands.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    base.join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("iv").isNull, col("__text"))
          .otherwise(graft.functions.expressions.GraftExpressions.excise_spans(
            tokenize(col("__text")),
            col("iv.s"), col("iv.e"))).as("clean_text"))
  }

  // ---- line-level (boilerplate) deduplication --------------------------

  /** C4-style line-level corpus dedup: rewrite every document dropping
    * the LINES whose content also appears in some other document, keeping
    * the copy held by the MINIMUM-id document (one instance of every
    * line survives the corpus) — the boilerplate-removal pass web-corpus
    * pipelines run between doc-level near-dup and span excision (nav
    * bars, cookie banners, footers repeat verbatim across pages whose
    * bodies differ; the reference's pipelines stop at doc granularity).
    *
    * Input is the caller's segmentation (`lines`: array<string> —
    * typically `split(text, "\n")`), so "line" can equally be a
    * sentence or fixed-token segment. Lines repeated WITHIN a single
    * document only are untouched (cross-doc sharing is the boilerplate
    * signal). Output: one row per input doc —
    * (doc_id, clean_text = surviving lines re-joined with \n in original
    * order, n_lines, n_kept); a fully-boilerplate doc keeps its row with
    * an empty clean_text, letting callers decide its fate.
    *
    * Scale design: occurrences are exploded once and exchanged by the
    * 8-byte [[graft.functions.expressions.GraftExpressions.poly_hash]] of the line (never
    * the line text as key); cross-doc sharing is the same streamed
    * min/max-doc window trick as [[duplicatedSpans]] (min(doc) ≠
    * max(doc) ⇔ ≥2 distinct holders — mergeable state, no
    * countDistinct); the rebuild is one exchange by doc with per-doc
    * state bounded by the doc's own line count. Hash collisions merge
    * distinct lines on both the engine and the oracle (the oracle
    * groups by the same hash), exactly like the shingle pipelines. */
  def removeDuplicateLines(docs: DataFrame, id: Column, lines: Column): DataFrame = {
    val base = Parallelism.ensureDefault(
      docs.select(id.as("doc_id"), lines.as("__lines")))
    val occ = base
      .select(col("doc_id"), posexplode(col("__lines")).as(Seq("pos", "line")))
      .withColumn("h", graft.functions.expressions.GraftExpressions.poly_hash(col("line")))
    val wh = Window.partitionBy("h")
    val kept = occ
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .where(col("mn") === col("mx") || col("doc_id") === col("mn"))
    // shuffle-first rebuild: kept is partitioned by line hash, so a
    // doc's surviving lines are spread and the collect partial can't
    // reduce (Aggregates scaladoc). Wall-clock-neutral at x200 (the
    // line text IS the exchange payload either way); kept for the
    // removed per-task partial pass, which is pure CPU at any scale
    val rebuilt = Aggregates.byShuffledKey(kept, col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("kl"))
      .select(col("doc_id"),
        array_join(col("kl.line"), "\n").as("clean_text"),
        size(col("kl")).cast("long").as("n_kept"))
    base.select(col("doc_id"), size(col("__lines")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
