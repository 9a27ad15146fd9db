package graft.operators

import graft.functions.expressions.GraftExpressions.{pq_adc, quantize_vec, sq_dist_l}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN: split each d-dim vector into `m`
  * subvectors, train an independent `ksub`-centroid codebook per
  * subspace (integer k-means, the [[Ivf]] discipline), and store every
  * corpus vector as its m centroid ids — `m` longs instead of `d`
  * floats. Search ranks neighbors by asymmetric distance (ADC): the
  * query precomputes an m×ksub table of exact subspace distances once,
  * and each neighbor costs m table lookups. This is the standard
  * corpus-scale vector-store compression (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) complementing
  * the [[Ivf]] coarse cells and [[Ann]] sign buckets; the reference
  * keeps its ANN storage inside the embedding backend the same
  * compressed-code way (SURVEY §2.6).
  *
  * Determinism / oracle story: training, encoding, and ADC ranking run
  * entirely on the floor(v·scale) integer grid — subspace k-means uses
  * integer squared-L2 with id-ordered init and smaller-cid tie-breaks,
  * codes are argmin cids, and the ADC score is a BIGINT sum of BIGINT
  * table entries. Like [[Ivf.kmeans]], the ONE non-integer step is the
  * per-dim `floor(sum/count)` centroid update — an exact double
  * division while |sum| < 2^53 (guaranteed at any realistic grid
  * scale), so the DuckDB oracle re-trains the codebooks and re-ranks
  * from scratch and must agree bit-for-bit (ties break
  * deterministically: distance asc, then neighbor id asc).
  *
  * Scale design: codebooks are m·ksub·(d/m) = d·ksub longs — plan
  * literals, never a join. Training runs ONE distributed
  * assign+aggregate job per Lloyd sweep covering ALL m subspaces (the
  * exchange carries m·ksub·(d/m) groups); encoding is a NARROW map
  * (m argmin kernels per row, no shuffle); the ADC scan reads m longs
  * per neighbor — at 100 TB the code table is ~d·4/m× smaller than the
  * raw embeddings, which is the entire point. The driver only ever
  * holds codebooks, never data.
  */
object Pq {

  /** sub → (cid, centroid) — the per-subspace codebooks. Tiny by
    * construction (d·ksub longs total). */
  type Codebooks = Map[Int, Ivf.Centroids]

  /** The m subvector slices of a quantized vector column (1-based
    * `slice` positions; callers guarantee dim = m·dsub via [[train]]'s
    * contract). */
  private def subSlices(qv: Column, m: Int, dsub: Int): Seq[Column] =
    (0 until m).map(s => slice(qv, s * dsub + 1, dsub))

  /** Corpus exploded to one row per (vector, subspace): (id, sub, sv).
    * Only training and occupancy counting read this m×-row frame;
    * encoding and search never explode. */
  def subQuantized(corpus: DataFrame, id: Column, vec: Column,
      m: Int, dsub: Int, scale: Double): DataFrame =
    corpus.select(id.cast("long").as("id"), quantize_vec(vec, scale).as("qv"))
      .select(col("id"), posexplode(array(subSlices(col("qv"), m, dsub): _*)).as(Seq("sub", "sv")))

  /** argmin cid of `sv` against the codebook of its `sub` — an m-way
    * `when` chain of ksub-candidate least-of-structs (ties to the
    * smaller cid, mirrored by the oracle's ORDER BY dist, cid). */
  def nearestCode(sub: Column, sv: Column, books: Codebooks): Column =
    books.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) { case (acc, (s, cents)) =>
      when(sub === s, Ivf.nearestCentroid(sv, cents)).otherwise(acc)
    }

  /** Per-subspace Lloyd iterations over `sq` (from [[subQuantized]]).
    * Init = each subspace's ksub smallest-id subvectors (deterministic,
    * seedless — the [[Ivf.kmeans]] rule applied per sub); update =
    * per-dim floor(sum/count); empty cells keep their centroid. ALL m
    * subspaces train in the same distributed jobs: one window pass for
    * init, then one assign+aggregate per sweep — the driver collects
    * m·ksub·dsub longs per sweep, never data. */
  def train(sq: DataFrame, m: Int, ksub: Int, iters: Int): Codebooks = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"pq train: need m > 0, ksub > 0, iters >= 0, got m=$m ksub=$ksub iters=$iters")
    val w = Window.partitionBy(col("sub")).orderBy(col("id"))
    val initRows = sq.withColumn("rn", row_number().over(w)).filter(col("rn") <= ksub)
      .select(col("sub"), col("rn"), col("sv")).collect()
    require(initRows.nonEmpty, "pq train: empty corpus — no subvectors to train on")
    var books: Codebooks = initRows.groupBy(_.getInt(0)).map { case (s, rows) =>
      s -> rows.sortBy(_.getInt(1)).zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Long](2).toArray) }.toSeq
    }
    require(books.size == m && books.values.forall(_.size == ksub),
      s"pq train: corpus has fewer than ksub=$ksub vectors (or a subspace is missing)")
    for (_ <- 1 to iters) {
      val asg = sq.select(col("sub"), nearestCode(col("sub"), col("sv"), books).as("cid"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      val updated = asg.groupBy(col("sub"), col("cid"), col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("elem"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("elem")))),
          _.getField("elem")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getSeq[Long](2).toArray).toMap
      books = books.map { case (s, cents) =>
        s -> cents.map { case (cid, c) => (cid, updated.getOrElse((s, cid), c)) }
      }
    }
    books
  }

  /** Encode every vector as its m codes — a NARROW map (m argmin
    * kernels over codebook literals per row, no explode, no shuffle).
    * Output: (id, codes array<bigint> of length m). */
  def encode(corpus: DataFrame, id: Column, vec: Column, books: Codebooks,
      m: Int, dsub: Int, scale: Double): DataFrame = {
    val qv = quantize_vec(vec, scale)
    val codes = array((0 until m).map(s =>
      Ivf.nearestCentroid(slice(qv, s * dsub + 1, dsub), books(s))): _*)
    corpus.select(id.cast("long").as("id"), codes.as("codes"))
  }

  /** Trained codebooks + occupancy: one row per (sub, cluster_id) with
    * its member count and the centroid serialized to CSV (the rawCsv
    * gate convention — gate outputs stay scalar). */
  def codebookSummary(corpus: DataFrame, id: Column, vec: Column,
      m: Int, ksub: Int, iters: Int, scale: Double, dim: Int): DataFrame = {
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // cut (the Ivf.clusterSummary discipline): train re-reads this
    // frame iters+1 times and the occupancy count once more;
    // Materialize.truncate documents the executor-loss contract and
    // the rejected persist trade
    val sq = Materialize.truncate(subQuantized(corpus, id, vec, m, dsub, scale))
    val books = train(sq, m, ksub, iters)
    val counts = sq.select(col("sub").cast("long").as("sub"),
        nearestCode(col("sub"), col("sv"), books).as("cluster_id"))
      .groupBy(col("sub"), col("cluster_id")).agg(count(lit(1)).as("n"))
    val spark = corpus.sparkSession
    import spark.implicits._
    books.toSeq.sortBy(_._1)
      .flatMap { case (s, cents) => cents.map { case (cid, c) =>
        (s.toLong, cid.toLong, c.mkString(",")) } }
      .toDF("sub", "cluster_id", "centroid")
      .join(counts, Seq("sub", "cluster_id"), "left")
      .select(col("sub"), col("cluster_id"),
        coalesce(col("n"), lit(0L)).as("n_vectors"), col("centroid"))
  }

  /** ADC top-k: train on the corpus, encode it (narrow), build each
    * query's flattened m×ksub distance LUT row-locally from codebook
    * literals, broadcast the (small by contract) query set, and rank
    * every neighbor by the pure-BIGINT table-lookup sum. Ties:
    * distance asc, neighbor id asc — fully deterministic, no FP.
    * Output: (q_id, n_id, adist, rn ≤ k). */
  def adcTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int, ksub: Int, iters: Int, scale: Double, dim: Int): DataFrame = {
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // cut: train re-reads it per sweep (see codebookSummary and
    // Materialize.truncate)
    val sq = Materialize.truncate(subQuantized(corpus, col("id"), col("vec"), m, dsub, scale))
    val books = train(sq, m, ksub, iters)
    val c = encode(corpus, col("id"), col("vec"), books, m, dsub, scale)
      .select(col("id").as("n_id"), col("codes"))
    val qv = quantize_vec(col("vec"), scale)
    // flattened LUT, index s·ksub + cid — matches VecUtil.pqAdc's layout
    val lutCols = for { s <- 0 until m; (_, cent) <- books(s).sortBy(_._1) }
      yield sq_dist_l(slice(qv, s * dsub + 1, dsub), typedLit(cent))
    val q = broadcast(queries.select(col("id").cast("long").as("q_id"),
      array(lutCols: _*).as("lut")))
    val scored = c.join(q, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), pq_adc(col("codes"), col("lut"), ksub).as("adist"))
    val win = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(win).cast("long")).filter(col("rn") <= k)
  }
}
