package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline benches over the [[MakeBigData]] layout, measured the same
  * way on both engines: each query's full output is reduced engine-side
  * to ONE row via `sum(hash(row))` (scripts/bench_big.py runs the DuckDB
  * mirror, `SELECT sum(hash(t)) FROM (<oracle sql>) t`). The reducer
  * forces every output column of every output row to be computed without
  * timing client-side transfer of multi-million-row results — at this
  * scale a fetch of the raw join/scan output would measure the client,
  * not the engine.
  *
  * Usage: runMain graft.BenchBig [dataDir] [names] [reps]
  * Prints one JSON line: {"queries":{name:bestSec,...},"sf":dataDir}
  */
object BenchBig {
  val Headline: Seq[String] = Seq(
    "scan_full_width", "q1_pricing_summary", "q1_pricing_summary_cents",
    "join_orders_customer", "metric_gauc", "metric_gauc_sorted",
    "dedup_block_roundtrip")

  /** The LLM-data-pipeline suite at corpus scale (dedup / ANN / text)
    * over the replicated+perturbed documents/embeddings tables. */
  val Llm: Seq[String] = Seq(
    "dedup_exact_groups", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_cluster_components", "dedup_incremental_pairs",
    "dedup_simhash", "dedup_simhash_pairs_full", "dedup_embedding_neardup",
    "dedup_embedding_neardup_wide",
    "ann_topk_brute", "ann_topk_bucketed", "ann_topk_ivf", "ann_topk_int8",
    "text_stats", "text_quality", "text_langid", "text_fingerprint",
    "text_tfidf_topk", "text_quality_filter", "text_repetition", "text_lm_score",
    "text_chunk_overlap", "text_redact_pii", "text_vocab_topn",
    "pack_sequences", "sample_mixture",
    "dedup_span_coverage", "dedup_span_removal", "text_bm25_topk",
    "hybrid_rrf_fusion", "encode_categorical", "ordinal_stable_ids",
    "web_url_normalize", "web_host_cap", "embedding_gram_matrix",
    "sample_negatives", "ann_hard_negatives",
    "sketch_cms_heavy_hitters", "text_classifier_score", "pipeline_corpus_curation",
    "dedup_line_level", "graph_pagerank", "sketch_kmv_per_group", "agg_grid_quantiles",
    "input_layer_assemble", "sample_dsir_topn", "sketch_kmv_overlap",
    "ann_topk_pq", "pq_codebooks", "classifier_train_lr", "classifier_lr_confusion")

  /** The relational (TPC-H-shaped) suite: semi/anti joins, correlated
    * subqueries, outer-join aggregation, disjunctive pushdown — the
    * shapes the sf0.1 gate can only measure on the scheduling floor. */
  val Rel: Seq[String] = Seq(
    "q3_shipping_priority", "q4_order_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_nation_margin", "q10_returned_items", "q12_priority_class",
    "q13_customer_distribution", "q14_promo_share", "q15_top_supplier",
    "q17_small_quantity", "q18_large_volume", "q19_discounted_revenue",
    "q21_waiting_supplier", "q22_global_sales")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/benchdata/x50")
    val names =
      if (args.length > 1) args(1) match {
        case "headline" => Headline
        case "llm" => Llm
        case "rel" => Rel
        case s => SparkEntry.parseNames(s)
      }
      else Headline
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try {
      val best = bestOf(names, reps)(n => timeReduced(spark)(SparkEntry.queries(n)(spark, dir)))
      println(s"""{"metric":"big","queries":${json(best)},"sf":${JsonOut.q(dir)}}""")
    } finally spark.stop()
  }

  /** Seconds to build `df` and reduce its full output engine-side to one
    * `sum(xxhash64(row))` row into the `noop` sink, followed by UNTIMED
    * session hygiene: the llm/rel lists include lineage-cutting
    * queries (clustering, pagerank, IVF, tf-idf) whose cut blocks
    * would otherwise accumulate across ~190 executions at 50-200x data
    * scale and steal unified memory from late-alphabet measurements (the
    * exact distortion GraftSession.clearSessionState documents). */
  def timeReduced(spark: SparkSession)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val built = df
    // double sum: overflow-free on both engines (DuckDB's integer sum
    // widens to HUGEINT; Spark's long sum would throw under ANSI)
    built.select(sum(xxhash64(built.columns.map(col): _*).cast("double")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    GraftSession.clearSessionState(spark)
    dt
  }

  /** One untimed warm-up pass over `names` (JVM/codegen + page cache),
    * then the best of `reps` runs of each; every rep goes to stderr as
    * one `{"reps":{name:[s,...]}}` line. */
  def bestOf(names: Seq[String], reps: Int)(run: String => Double): Seq[(String, Double)] = {
    names.foreach(run)
    val all = names.map(n => n -> (1 to reps).map(_ => run(n)))
    val rs = all.map { case (k, v) =>
      JsonOut.q(k) + ":" + v.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    System.err.println(s"""{"reps":$rs}""")
    all.map { case (k, v) => k -> v.min }
  }

  /** `{name:seconds,...}` in `best`'s order. */
  def json(best: Seq[(String, Double)]): String =
    best.map { case (k, v) => JsonOut.q(k) + ":" + v }.mkString("{", ",", "}")
}
