package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * against the full corpus — one narrow pass, no shuffle of the corpus,
  * embarrassingly parallel; use it as the exact baseline. The bucketed
  * path pre-partitions the corpus by a coarse sign-bucket (IVF-style
  * coarse quantizer): each query only scans its own bucket, trading
  * recall for a ~2^bits reduction in scanned vectors — the 100 TB path,
  * where buckets map to co-located partitions.
  */
object Ann {

  /** Attach the vector's L2 norm as `as` and drop rows where similarity
    * is undefined (zero norm — the failed-encode sentinel — or a NaN
    * element, which makes the norm NaN). Norms are computed ONCE PER
    * ROW here, before any pairing: computing them per candidate pair
    * (inside cosine()) re-ran the dot kernel for every pair on both
    * sides of every predicate-pushdown copy — a measured 5-20x on the
    * x200 near-dup join depending on the guard's expression shape. */
  private[operators] def withNorm(df: DataFrame, vec: String, as: String): DataFrame =
    df.withColumn(as, l2Norm(col(vec)))
      .filter(col(as) > 0 && !isnan(col(as)))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (id, vec: array<float>). Query set is assumed
    * small enough to broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // raw float vectors go straight to the native dot kernel (which
    // accumulates in double) — no per-element cast pass
    val q = broadcast(withNorm(
      queries.select(col("id").as("q_id"), col("vec").as("qv")), "qv", "__qn"))
    val c = withNorm(corpus.select(col("id").as("n_id"), col("vec").as("cv")), "cv", "__cn")
    topK(c.crossJoin(q).filter(col("q_id") =!= col("n_id")), k)
  }

  /** Bucketed (approximate) top-k: queries only scan the corpus bucket
    * matching their own sign-bucket. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    val q = withNorm(queries.select(col("id").as("q_id"), col("vec").as("qv"),
      signBucket(col("vec"), bits).as("bucket")), "qv", "__qn")
    val c = withNorm(corpus.select(col("id").as("n_id"), col("vec").as("cv"),
      signBucket(col("vec"), bits).as("bucket")), "cv", "__cn")
    topK(c.join(broadcast(q), Seq("bucket")).filter(col("q_id") =!= col("n_id")), k)
  }

  /** Multi-probe bucketed top-k: each query also probes the buckets
    * reachable by flipping one of its first `probes` sign bits (the
    * standard multi-probe LSH recall/scan trade — probes+1 buckets per
    * query instead of 1). */
  def bucketedTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8, probes: Int = 3): DataFrame = {
    // a probe beyond the bucket width would flip a bit no corpus bucket
    // carries — matching nothing and silently lowering effective recall
    // below the configured probe count
    require(probes >= 0 && probes <= bits,
      s"bucketedTopKMultiProbe: probes must be in 0..bits ($bits), got $probes")
    val base = signBucket(col("vec"), bits)
    val probeBuckets = array(
      base +: (0 until probes).map(j => base.bitwiseXOR(lit(1L << j))): _*)
    val q = withNorm(queries.select(col("id").as("q_id"), col("vec").as("qv"),
      explode(probeBuckets).as("bucket")), "qv", "__qn")
    val c = withNorm(corpus.select(col("id").as("n_id"), col("vec").as("cv"),
      signBucket(col("vec"), bits).as("bucket")), "cv", "__cn")
    topK(
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("qv"), col("__qn"), col("n_id"), col("cv"), col("__cn"))
        .distinct(), // a pair can match via several probes
      k)
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the k most-similar same-bucket corpus vectors with a DIFFERENT
    * label — the "hardest" negatives, the standard embedding-training
    * prep step. `queries`/`corpus`: (id, vec, label). Same scale shape
    * as [[bucketedTopK]]: the query set broadcasts, each query scans
    * only its own coarse bucket, and the label filter runs before the
    * per-query top-k window. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8): DataFrame = {
    val q = withNorm(queries.select(col("id").as("q_id"), col("vec").as("qv"),
      col("label").as("q_label"), signBucket(col("vec"), bits).as("bucket")), "qv", "__qn")
    val c = withNorm(corpus.select(col("id").as("n_id"), col("vec").as("cv"),
      col("label").as("n_label"), signBucket(col("vec"), bits).as("bucket")), "cv", "__cn")
    topK(
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label")),
      k)
  }

  /** Rank candidate pairs by cosine. Both sides arrive through
    * [[withNorm]], so the norms are plain positive-finite columns and
    * the cosine is ONE dot-kernel call per pair — no zero-norm or NaN
    * row can reach the ranking. */
  private[operators] def topK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.withColumn("cosine",
      dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rn"))
  }

  /** Embedding-cosine near-duplicate pairs (a<b) within the same sign
    * bucket with cosine >= threshold — the bucketed all-pairs variant
    * (each bucket is a small dense block; cross-bucket pairs are
    * sacrificed for scalability). */
  def cosineNearDups(corpus: DataFrame, threshold: Double, bits: Int = 8): DataFrame = {
    // norms per ROW before the self-join (zero-norm/NaN rows dropped
    // here — they must not pair with everything and cannot pass any
    // threshold); the per-PAIR work is then exactly one dot kernel
    val c = withNorm(corpus.select(col("id"), col("vec").as("v"),
      signBucket(col("vec"), bits).as("bucket")), "v", "nrm")
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
