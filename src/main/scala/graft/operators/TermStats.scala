package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics for training-data curation: TF-IDF
  * keyterm extraction and corpus-quantile quality filtering.
  *
  * Scale design: everything reduces to exploded-token aggregates that
  * combine map-side (term counts), one pre-aggregated equi-join on the
  * term (both sides already collapsed to one row per key — never a
  * token-level join), and a per-doc window for top-k. The corpus-wide
  * scalars (doc count, quality quantile) travel as broadcast one-row
  * frames, keeping the plan fully lazy — no driver-side collect.
  */
object TermStats {

  /** Top-k terms per document by TF-IDF (idf = ln(N/df), raw tf).
    * Deterministic tie-break: equal scores order by term ascending.
    * Scores are rounded to 9 decimals so an external oracle's libm can
    * reproduce them bit-for-bit.
    *
    * @return (doc_id, term, tfidf, rn) with rn in 1..k
    */
  def tfIdfTopTerms(docs: DataFrame, id: Column, text: Column, k: Int,
      broadcastDf: Boolean = true): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("__text"))
    // per-doc term frequencies are ROW-LOCAL (every doc's tokens live in
    // one row): the term_counts kernel replaces the corpus-wide
    // (doc, term) groupBy an exploded-token formulation needs — the
    // pipeline's only full-data exchange disappears. What remains is the
    // vocabulary-sized df aggregate (map-side combined) and the per-doc
    // top-k window, whose partial WindowGroupLimit runs BEFORE the doc
    // exchange (a doc's terms are contiguous post-explode), so at most
    // ~k rows per doc ever travel.
    val tf = Parallelism.ensureDefault(base)
      .select(col("doc_id"),
        explode(graft.functions.expressions.GraftExpressions
          .term_counts_text(col("__text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    // NOT checkpointed: the df aggregate and the scoring join each
    // traverse this subtree (the df branch ends in an exchange, the
    // scoring branch does not, so ReuseExchange cannot collapse them),
    // but with the fused kernel the recompute is cheaper than
    // materializing the ~150 rows/doc explode (measured 5.4 s vs 8.5 s
    // at 1M docs)
    val dfAgg = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // vocabulary grows sublinearly with the corpus (hundreds of
    // thousands of terms broadcast in single-digit MBs), so the df side
    // broadcasts by default and the big tf side never reshuffles by
    // term; pass broadcastDf=false for pathological vocabularies
    // (token = hash/id) to fall back to a shuffle join.
    val dfTerm = if (broadcastDf) broadcast(dfAgg) else dfAgg
    // corpus size from the NARROW doc frame (every doc tokenizes to >= 1
    // term, so this equals distinct-doc-count over the exploded tokens
    // without a third scan+explode branch)
    val nDocs = base.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf
      .join(dfTerm, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9).as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Per-document bigram cross-entropy under a maximum-likelihood
    * bigram LM trained on `train` — the CCNet-style "how surprising is
    * this document to an in-domain language model" quality signal
    * (reference's pipelines delegate LM scoring to an external model;
    * this is the engine-native n-gram form).
    *
    * cross_entropy = -(1/n) Σ ln c(w1 w2)/c(w1 ·) over the doc's
    * adjacent token pairs. Low = predictable/boilerplate, high =
    * unusual text.
    *
    * Parity/scale design: bigrams travel as mod-P hashes from the
    * row-local [[graft.functions.expressions.GraftExpressions.bigram_hash_pairs]] kernel
    * (no gram strings, no token-level joins); each occurrence's log
    * probability is rounded to integer nano-logs
    * (round(ln(p) * 1e9) as BIGINT, the [[tfIdfTopTerms]] libm-parity
    * trick) so every cross-row aggregate is ORDER-FREE integer
    * arithmetic — one double division at the very end.
    *
    * Join strategy: the unigram-prefix table grows like the vocabulary
    * (broadcastable at any corpus size), but the BIGRAM table grows
    * superlinearly with the corpus, so neither side is force-broadcast
    * by default — AQE upgrades the shuffle join to broadcast at runtime
    * when the measured size actually fits (`broadcastCounts=true`
    * forces the hint for small in-domain corpora).
    *
    * Unseen bigrams (scoring off-domain docs) are skipped — an MLE LM
    * assigns them -inf; smoothing/backoff is out of scope. Docs with
    * fewer than 2 tokens (or only unseen bigrams) produce no row.
    *
    * @return (doc_id, n_bigrams, cross_entropy)
    */
  def bigramCrossEntropy(score: DataFrame, train: DataFrame, id: Column, text: Column,
      broadcastCounts: Boolean = false): DataFrame = {
    def bigramRows(docs: DataFrame): DataFrame =
      Parallelism.ensureDefault(docs.select(id.as("doc_id"), text.as("__text")))
        .select(col("doc_id"),
          explode(graft.functions.expressions.GraftExpressions
            .bigram_hash_pairs(TextFunctions.tokenize(col("__text")))).as("bg"))
        .select(col("doc_id"), col("bg.h1").as("h1"), col("bg.h2").as("h2"))
    val tb = bigramRows(train)
    val c2a = tb.groupBy("h2").agg(count(lit(1)).as("c2"))
    val c1a = tb.groupBy("h1").agg(count(lit(1)).as("c1"))
    val (c2, c1) = if (broadcastCounts) (broadcast(c2a), broadcast(c1a)) else (c2a, c1a)
    bigramRows(score)
      .join(c2, "h2")
      .join(c1, "h1")
      .select(col("doc_id"),
        round(log(col("c2").cast("double") / col("c1")) * 1e9).cast("long").as("nanolog"))
      .groupBy("doc_id")
      .agg(sum(col("nanolog")).as("slog"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (-(col("slog").cast("double") / (lit(1e9) * col("n_bigrams"))))
          .as("cross_entropy"))
  }

  /** BM25 lexical retrieval: rank documents against a set of keyword
    * queries with the Lucene-form BM25
    * (idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf saturation with k1/b
    * length normalization) and keep the top-k per query — the lexical
    * half of a hybrid retrieval stack (the dense half is
    * [[Ann.bucketedTopK]]; [[hybrid_search_rerank]]-style composition
    * joins them).
    *
    * Parity/scale design: per-term contributions are rounded to
    * integer NANO units (idf itself rounded to 9 decimals first, the
    * libm-portability move) and integer-summed per (query, doc) — an
    * order-free, map-side-combinable aggregate; never a float sum
    * across rows. The query set and its per-term df (both tiny)
    * broadcast, so the corpus-side tf rows are filtered by a broadcast
    * semi-join and only matching (query, doc, term) rows ever travel;
    * doc length and tf come from the row-local token_count/term_counts
    * kernels. The only corpus-wide aggregates are the one-row
    * (N, Σdl) frame and the per-term df count.
    *
    * @param queries (query_id, term) rows, one per query keyword
    * @return (query_id, doc_id, score_nano, rn), rn in 1..k per query,
    *         ranked by score_nano desc then doc_id
    */
  def bm25TopK(docs: DataFrame, id: Column, text: Column, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = Parallelism.ensureDefault(
      docs.select(id.as("doc_id"), text.as("__text")))
    // the query-term union is driver-bounded BY DEFINITION (a retrieval
    // call scores a batch of keyword queries, not a corpus), so it rides
    // into the row-local term_set_counts kernel as a literal: each doc
    // probes its tokens against the set in one narrow pass and only
    // MATCHING docs emit (term, tf) rows — no full-vocabulary explode,
    // no corpus-side join at all
    val terms = queries.select(col("term")).distinct()
      .collect().flatMap(r => Option(r.getString(0))).sorted.toSeq
    require(terms.nonEmpty,
      "bm25TopK: queries must carry at least one non-null term")
    // feeds BOTH the df aggregate and the scoring join; the cut keeps
    // the corpus scan single (df materializes it)
    val tfq = Materialize.truncate(base
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("__text")).cast("long").as("dl"),
        explode(graft.functions.expressions.GraftExpressions
          .term_set_counts(TextFunctions.tokenize(col("__text")), terms)).as("tc"))
      .select(col("doc_id"), col("dl"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf")))
    val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("__n"),
      sum(TextFunctions.tokenCount(col("__text")).cast("long")).as("__sdl"))
    val avgdl = col("__sdl").cast("double") / col("__n")
    val idf9 = round(
      log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 9)
    val tfpart = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val scored = tfq
      // distinct: a repeated (query_id, term) row would double-count
      // that term's contribution; the kernel's term-set literal is
      // already deduplicated, the join side must agree
      .join(broadcast(queries.distinct()), Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf9 * tfpart * lit(1e9)).cast("long").as("nano"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("nano")).as("score_nano"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_nano").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Documents whose quality score clears the corpus `quantile` — the
    * standard "drop the worst q%" curation cut. The threshold is an
    * exact interpolated percentile computed in one distributed
    * aggregate and broadcast back; score and threshold are rounded to 9
    * decimals before comparing so the boundary is engine-invariant.
    *
    * @return input rows that survive, plus their rounded `quality`
    */
  def qualityFilter(docs: DataFrame, text: Column, quantile: Double): DataFrame = {
    require(quantile >= 0 && quantile <= 1,
      s"qualityFilter: quantile must be a fraction in [0, 1], got $quantile")
    val scored = docs.withColumn("quality",
      round(TextFunctions.qualityScore(text), 9))
    val thr = scored.agg(
      round(expr(s"percentile(quality, $quantile)"), 9).as("__thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("quality") >= col("__thr"))
      .drop("__thr")
  }
}
