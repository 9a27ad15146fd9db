package graft.operators

import graft.functions.expressions.GraftExpressions.{dot_l, quantize_int8, quantize_vec, sq_dist_l}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN: a trained coarse quantizer — k-means over
  * integer-quantized vectors — partitions the corpus into k cells; each
  * query scans only its `nprobe` nearest cells. Complements the
  * sign-bucket LSH path ([[Ann.bucketedTopK]]): LSH buckets are free but
  * data-oblivious, IVF centroids adapt to the corpus geometry — the
  * standard recall/scan trade at corpus scale (reference keeps its ANN
  * partitioning inside the embedding backend the same coarse-cell way;
  * SURVEY §2.6).
  *
  * Determinism / oracle story: training runs entirely on the integer
  * grid `floor(v[i] * scale)` with integer squared-L2 distances,
  * floor-division centroid updates, and id-ordered tie-breaks — NO
  * floating-point accumulation anywhere, so the trained centroids are
  * bit-reproducible by any engine that mirrors the arithmetic (the
  * DuckDB oracle re-trains them from scratch and must agree exactly).
  * Only the final ranking cosine is FP, through the same ordered-fold
  * native kernel every other ANN path uses.
  *
  * Scale design: centroids are tiny by definition (k x dim longs) and
  * ride the task closure the way FAISS replicates them to every worker;
  * assignment is a NARROW map (k codegen'd kernel calls per row,
  * least-of-structs argmin — no join, no shuffle); each Lloyd iteration
  * is one partial-aggregated shuffle of k*dim groups. The driver only
  * ever holds centroids, never data.
  */
object Ivf {

  /** (cluster id, centroid) pairs — small enough for the driver and for
    * plan literals, by construction. */
  type Centroids = Seq[(Int, Array[Long])]

  /** Corpus projected onto the integer grid: (id, vec, qv). The id is
    * cast to long here so [[kmeans]]' driver-side init (r.getLong) works
    * for any integral id column, not just LongType. */
  def quantized(corpus: DataFrame, id: Column, vec: Column, scale: Double): DataFrame =
    corpus.select(id.cast("long").as("id"), vec.as("vec"), quantize_vec(vec, scale).as("qv"))

  /** argmin over centroid literals: `least` over (dist, cid) structs is
    * a lexicographic min, so ties break toward the smaller cluster id —
    * mirrored by the oracle's ORDER BY dist, cid. */
  def nearestCentroid(qv: Column, cents: Centroids): Column = {
    // an empty model would otherwise surface as a cryptic zero-arg
    // least() analysis error deep inside plan construction
    require(cents.nonEmpty, "nearestCentroid: empty centroid model (empty corpus or k <= 0?)")
    val cands = cents.map { case (cid, c) =>
      struct(sq_dist_l(qv, typedLit(c)).as("dist"), lit(cid.toLong).as("cid"))
    }
    (if (cands.size == 1) cands.head else least(cands: _*)).getField("cid")
  }

  /** The `nprobe` nearest centroid ids per row, by row-local sort of the
    * (dist, cid) struct array — same tie-break as [[nearestCentroid]]. */
  def nearestCentroids(qv: Column, cents: Centroids, nprobe: Int): Column = {
    require(cents.nonEmpty, "nearestCentroids: empty centroid model (empty corpus or k <= 0?)")
    val cands = array(cents.map { case (cid, c) =>
      struct(sq_dist_l(qv, typedLit(c)).as("dist"), lit(cid.toLong).as("cid"))
    }: _*)
    transform(slice(array_sort(cands), 1, nprobe), _.getField("cid"))
  }

  /** Lloyd iterations over the quantized corpus (`q` from [[quantized]]).
    * Init = the k vectors with the smallest ids (deterministic, seedless);
    * update = per-dim floor(sum/count) (sums of quantized longs stay far
    * below 2^53, so the double division is exact); empty cells keep
    * their previous centroid. Each iteration runs one distributed
    * assign+aggregate job and collects exactly k centroid rows — the
    * driver never sees data, only the model. */
  def kmeans(q: DataFrame, k: Int, iters: Int): Centroids = {
    require(k > 0 && iters >= 0, s"kmeans: need k > 0 and iters >= 0, got k=$k iters=$iters")
    val init: Centroids = q.select(col("id"), col("qv")).orderBy(col("id")).limit(k)
      .collect().sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1).toArray) }.toSeq
    require(init.nonEmpty, "kmeans: empty corpus — no vectors to train on")
    (1 to iters).foldLeft(init) { (cents, _) =>
      val assigned = q.select(nearestCentroid(col("qv"), cents).as("cid"),
        posexplode(col("qv")).as(Seq("pos", "x")))
      val updated = assigned.groupBy(col("cid"), col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("elem"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("elem")))),
          _.getField("elem")).as("cent"))
        .collect().map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap
      cents.map { case (cid, c) => (cid, updated.getOrElse(cid, c)) }
    }
  }

  /** Trained model + occupancy: (cluster_id, n_vectors, centroid).
    * Clusters that attracted no vectors report 0. */
  def clusterSummary(corpus: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int, scale: Double): DataFrame = {
    // cut: kmeans re-reads this frame iters+1 times (init + every
    // Lloyd sweep) and the occupancy count once more — an expensive
    // upstream pipeline would otherwise re-execute per sweep.
    // Materialize.truncate documents the executor-loss contract and why
    // persist was rejected for these vector frames.
    val q = Materialize.truncate(quantized(corpus, id, vec, scale))
    val cents = kmeans(q, k, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val counts = q.select(nearestCentroid(col("qv"), cents).as("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_vectors"))
    cents.map { case (cid, c) => (cid.toLong, c.toSeq) }
      .toDF("cluster_id", "centroid")
      .join(counts, Seq("cluster_id"), "left")
      .select(col("cluster_id"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        col("centroid"))
  }

  /** IVF top-k search: train on the corpus, assign every corpus vector
    * to its cell (narrow), probe each query's `nprobe` nearest cells,
    * rank candidates by exact cosine. Query set broadcasts (small by
    * contract, like [[Ann.bruteForceTopK]]'s); the corpus is only ever
    * scanned, never collected. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
      nClusters: Int, iters: Int, nprobe: Int, scale: Double): DataFrame = {
    // cut: kmeans re-reads it per sweep (see clusterSummary and
    // Materialize.truncate)
    val cq = Materialize.truncate(quantized(corpus, col("id"), col("vec"), scale))
    val cents = kmeans(cq, nClusters, iters)
    val c = Ann.withNorm(cq.select(col("id").as("n_id"), col("vec").as("cv"),
      nearestCentroid(col("qv"), cents).as("cid")), "cv", "__cn")
    val q = Ann.withNorm(quantized(queries, col("id"), col("vec"), scale)
      .select(col("id").as("q_id"), col("vec").as("qv"),
        explode(nearestCentroids(col("qv"), cents, nprobe)).as("cid")), "qv", "__qn")
    // a corpus vector lives in exactly one cell, so probing distinct
    // cells can never produce duplicate (q, n) pairs
    Ann.topK(c.join(broadcast(q), Seq("cid")).filter(col("q_id") =!= col("n_id")), k)
  }

  /** SemDeDup-shaped semantic dedup (cluster-then-prune): train the
    * coarse quantizer, assign every vector to its cell, and within each
    * cell drop every vector that has a smaller-id neighbor with cosine
    * ≥ `threshold` — keeping one representative of each semantic
    * near-dup group without ever comparing across cells. This is the
    * corpus-scale semantic-dedup recipe (k-means partitions make the
    * within-cell all-pairs block corpus/k-sized; the cross-cell pairs
    * are the documented recall trade, exactly as in
    * [[Ann.cosineNearDups]]'s sign buckets — here the cells ADAPT to
    * the corpus geometry instead of being data-oblivious).
    *
    * Output: surviving (id, cluster_id). Training and assignment are
    * bit-reproducible (integer grid); only the final cosine is FP,
    * through the same ordered-fold kernel as every ANN path. */
  def semanticPrune(corpus: DataFrame, threshold: Double,
      k: Int, iters: Int, scale: Double): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // cut: kmeans re-reads it per sweep (see clusterSummary and
    // Materialize.truncate)
    val cq = Materialize.truncate(quantized(corpus, col("id"), col("vec"), scale))
    val cents = kmeans(cq, k, iters)
    val asg = cq.select(col("id"), col("vec"),
      nearestCentroid(col("qv"), cents).as("cluster_id"))
    // per-ROW norms before the within-cell pairing (the Ann.withNorm
    // discipline — one dot kernel per pair, and zero-norm/NaN vectors
    // never match anything, so they survive in asg untouched)
    val normed = Ann.withNorm(asg, "vec", "__n")
    val dropped = normed.as("a").join(normed.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.id") < col("b.id"))
      .filter(dot(col("a.vec"), col("b.vec")) / (col("a.__n") * col("b.__n")) >= threshold)
      .select(col("b.id").as("id"))
    asg.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster_id"))
  }

  /** Symmetric int8 compression of an embedding column: codes =
    * floor(v * 127/max|v|) per vector (range [-128, 127] — floor rounds
    * toward -infinity) plus the dequantization scale (max|v|/127). 4x
    * smaller than float32 at ~1% cosine error — the standard
    * storage/bandwidth trade for corpus-scale vector stores. */
  def quantizeInt8(corpus: DataFrame, id: Column, vec: Column): DataFrame =
    corpus.select(id.as("id"),
      quantize_int8(vec).as("codes"),
      (aggregate(vec, lit(0.0f), (m, x) => greatest(m, abs(x))).cast("double") / 127.0)
        .as("scale"))

  /** Top-k over int8 codes: the candidate dot is EXACT integer
    * (`dot_l` over codes), and the RANKING applies the neighbor's
    * dequantization scale — int8 codes are scale-invariant, so ranking
    * raw code dots would discard every neighbor's magnitude and can
    * invert the true dot/cosine order between differently-scaled
    * neighbors. The query's own scale is constant within its ranking
    * window and drops out. The scale enters as integer NANO units
    * (`round(maxabs/127 · 1e9)`), so the score stays a BIGINT product —
    * FP-free, bit-portable, deterministic ties (score desc, n_id asc).
    * Overflow envelope: |score| ≤ 127²·dim · maxabs·7.9e6, under 2^63
    * for maxabs·dim < ~7e6 — far past any embedding this targets. */
  def topKInt8(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("q_id"), quantize_int8(col("vec")).as("qc")))
    val c = corpus.select(col("id").as("n_id"), quantize_int8(col("vec")).as("cc"),
      round(aggregate(col("vec"), lit(0.0f), (m, x) => greatest(m, abs(x))).cast("double")
        / 127.0 * 1e9).cast("long").as("nscale_nano"))
    val scored = c.crossJoin(q).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), dot_l(col("qc"), col("cc")).as("qdot"),
        col("nscale_nano"))
      .withColumn("score_nano", col("qdot") * col("nscale_nano"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score_nano").desc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("n_id"), col("qdot"), col("rn"))
  }
}
