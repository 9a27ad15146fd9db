package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: the step AFTER pair detection.
  *
  * [[NearDup]] / [[Ann.cosineNearDups]] emit near-duplicate PAIRS, but
  * duplication is transitive — a corpus dedup must group pairs into
  * connected components and keep one representative per component.
  * (Reference analog: the reference stops at per-batch `unique`
  * semantics — hybridbackend/tensorflow/data/deduplicate/dataset.py:28-67
  * — corpus-level clustering is the beyond-reference step an LLM
  * training pipeline needs.)
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC '14). Each
  * round is two hash-partitioned groupBy/join exchanges on node id and
  * the edge set converges to min-rooted stars in O(log n) rounds
  * REGARDLESS of component diameter — label propagation would need
  * O(diameter) rounds, unbounded on chain-shaped components at corpus
  * scale. No neighbor lists are ever materialized (hot hub nodes in a
  * big cluster would make `collect_set` OOM): the per-node minimum is a
  * map-side-combinable `min` aggregate joined back to the edge list, so
  * skewed neighborhoods stay spilled-and-streamed and AQE can split
  * them. Lineage is cut every round with [[Materialize.truncate]]
  * (iterative plans otherwise grow superlinearly and re-execute the
  * whole prefix each action); its scaladoc states what a lost executor
  * does to the cut and how a checkpoint directory makes it durable.
  */
object DedupClusters {

  /** Connected components of the undirected pair graph.
    *
    * @param pairs edge list; self-loops tolerated (count as singletons)
    * @param a     left endpoint column (long-compatible ids)
    * @param b     right endpoint column
    * @return one row per distinct id appearing in `pairs`:
    *         (`id`, `component`) where `component` is the MINIMUM id in
    *         the node's component — a deterministic canonical
    *         representative.
    */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int = 50): DataFrame = {
    // ONE cut canonical pair frame feeds both the node set and the
    // edge set: on the default (lazy) path the first signature action
    // below materializes the whole setup in a single job (eager
    // per-frame cuts would burn one fixed-cost job each before the loop
    // even starts, and `nodes` would otherwise re-run the full
    // upstream pair-detection pipeline at the final join)
    val canon = Materialize.truncate(pairs
      .select(least(a, b).cast("long").as("u"), greatest(a, b).cast("long").as("v")))

    // all ids, incl. nodes whose only edge is a self-loop (u == v rows
    // survive in `canon`, dropped only from the edge set)
    val nodes = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .distinct()

    var edges = Materialize.truncate(canon.where(col("u") =!= col("v")).distinct())

    var prev = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // per-round cut; on the default (lazy) path the fused signature
      // right below is the round's single materializing action (an
      // eager cut would run a second, redundant job per round just to
      // cache the same partitions)
      edges = Materialize.truncate(smallStar(largeStar(edges)))
      val sig = signature(edges)
      converged = sig == prev
      prev = sig
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(large-star/small-star needs ~log2(n); raise maxIter)")

    // converged state is min-rooted stars: (root u) -> (member v)
    nodes
      .join(edges.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Large-star: every node links its LARGER neighbors to the minimum
    * of its closed neighborhood. Emitted edges (y, m) always satisfy
    * y > x >= m, so (m, y) is already canonical. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
      .union(edges.select(col("v").as("x"), col("u").as("y")))
    val mins = nbrs.groupBy("x")
      .agg(min(col("y")).as("mn"))
      .select(col("x"), least(col("mn"), col("x")).as("m"))
    nbrs.join(mins, "x")
      .where(col("y") > col("x"))
      .select(col("m").as("u"), col("y").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node links its smaller-or-equal neighbors (and
    * itself) to the minimum of its closed neighborhood. Input edges are
    * canonical (u < v), so grouping on v sees exactly the smaller
    * neighbors. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("v").as("x"), col("u").as("y")) // y < x
    val mins = nbrs.groupBy("x").agg(min(col("y")).as("m")) // m <= every y
    nbrs.join(mins, "x")
      .select(col("m").as("u"), col("y").as("v"))
      .union(mins.select(col("m").as("u"), col("x").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Cheap fixpoint check: (count, order-independent hash-sum) of the
    * edge set, FUSED into the round's materializing action. One collect
    * job computes the (lazily checkpointed) edge frame — caching its
    * blocks as a side effect — and returns per-partition (n, hash-sum)
    * in the TASK RESULTS, so no second aggregate job (its partial-agg
    * exchange + result stage) runs per round. Event-log measured
    * (round 13): each round is ~9 tiny AQE stage jobs whose scheduling
    * gaps dominate at bench scale; the fused check removes two of them
    * (same-session A/B: connectedComponents 2.89 → 2.43 s mean at
    * sf0.1, 5.03 → 4.61 s min at x50). Exactly-once by action
    * semantics — task retries just return their result again, unlike an
    * accumulator-based side output, which can double-count under
    * retry/speculation. The hash-sum wraps in Long arithmetic
    * (commutative, order-free); the pre-round-12 DECIMAL sum existed
    * only because ANSI SQL `sum` rejects overflow — plain JVM wrapping
    * is the same order-independent signature without the decimal
    * arithmetic. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = edges.select(col("u"), col("v")).as[(Long, Long)]
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        while (it.hasNext) { val t = it.next(); n += 1L; h += mix64(t._1, t._2) }
        Iterator.single((n, h))
      }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** 64-bit finalizer-style mixer (splitmix64 constants): only
    * within-run self-consistency matters — the signature compares round
    * N to round N-1 of the same loop. */
  private def mix64(u: Long, v: Long): Long = {
    var x = u * 0x9E3779B97F4A7C15L + v
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32
    x
  }

  /** Corpus canonicalization: drop every document that belongs to a
    * duplicate cluster but is not its (minimum-id) representative.
    * Documents in no pair survive untouched. One left-anti hash join
    * against the (small — only clustered docs) drop list; AQE picks
    * broadcast when it fits. */
  def canonicalize(docs: DataFrame, id: Column, pairs: DataFrame,
      a: Column, b: Column, maxIter: Int = 50): DataFrame = {
    val drop = connectedComponents(pairs, a, b, maxIter)
      .where(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    docs.join(drop, id === col("__drop_id"), "left_anti")
  }

  /** Quality-aware canonicalization: within each duplicate cluster keep
    * the member with the HIGHEST `score` (ties break toward the
    * smallest id) — the curation policy real pipelines want: keep the
    * best copy, not the accidental min-id one. Callers should round the
    * score (e.g. `round(_, 9)`) so tie detection is engine-invariant.
    *
    * The per-cluster argmax is a map-side-combinable `max` over
    * (score, -id) structs — no per-cluster window, so a pathological
    * giant cluster costs one combinable aggregate, not a sort. Only
    * clustered docs (the small side) are ever scored or joined. */
  def canonicalizeBy(docs: DataFrame, id: Column, score: Column, pairs: DataFrame,
      a: Column, b: Column, maxIter: Int = 50): DataFrame = {
    val scored = connectedComponents(pairs, a, b, maxIter)
      .join(docs.select(id.cast("long").as("id"), score.as("__score")), Seq("id"))
    // lexicographic struct max = (max score, then min id via negation)
    val keep = scored.groupBy(col("component"))
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("negid"))).as("m"))
      .select((-col("m.negid")).as("id"))
    val drop = scored.join(keep, Seq("id"), "left_anti").select(col("id").as("__drop_id"))
    docs.join(drop, id === col("__drop_id"), "left_anti")
  }
}
