package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph link analysis over relational edge lists.
  *
  * Training-data curation ranks sources by graph centrality (host link
  * graphs for web corpora) and recommenders rank items by co-engagement
  * centrality; the reference's pipelines stop at per-row features, so
  * this is part of the beyond-reference curation suite. Everything here
  * is expressed as joins + map-side-combinable aggregates — the classic
  * "PageRank as iterated SpMV" shape that scales to billions of edges
  * (each iteration is one equi-join on the 8-byte src key and one
  * partial-aggregated shuffle by dst; no adjacency ever materializes
  * per-node beyond its degree).
  *
  * Determinism: ranks are held in integer NANO units with floor
  * division everywhere, so every aggregate is an order-free BIGINT sum
  * and the result is bit-reproducible by any engine mirroring the
  * arithmetic — the same discipline as the bigram-LM and k-means
  * oracles. The decomposition `(s div 1e9)*d + ((s mod 1e9)*d) div 1e9`
  * equals `floor(s*d/1e9)` exactly while keeping every intermediate
  * below 2^63 out to ~10^9 nodes.
  */
object Graph {

  /** Undirected co-occurrence edges from a (basket, item) relation:
    * distinct ordered pairs of distinct items sharing a basket, emitted
    * in both directions. Basket size bounds the per-row fanout (the
    * standard market-basket constraint — the reference's workloads cap
    * the analogous per-user history the same way).
    *
    * The returned frame reads the canonical half-edge set through a
    * lineage cut (see body): [[Materialize.truncate]] states when its
    * rows can be lost (across `GraftSession.clearSessionState`, or with
    * an executor) and how a checkpoint directory makes them durable. */
  def coOccurrenceEdges(df: DataFrame, basket: Column, item: Column): DataFrame =
    // ONE exchange by basket (shuffle-first: a collect_set partial over
    // spread high-cardinality baskets can't reduce — Aggregates
    // scaladoc), then pairs row-locally via double explode, then the
    // edge-key exchange for distinct — also shuffle-first, since an
    // edge's duplicates originate in different baskets and therefore
    // different partitions, so the partial dedup pass saw ~nothing.
    // The equivalent self-join formulation costs two extra full
    // shuffles of the (basket, item) relation (distinct + join),
    // measured 1.3× slower end-to-end at x200.
    // CANONICAL-HALF dedup (PERF.md "Round-12: graph_pagerank"): pairs are
    // symmetric by construction, so distinct runs on the (src < dst)
    // half ONLY — half the rows through the dominant exchange — and the
    // mirror is re-emitted map-side after. Measured at x200: 21.2 s
    // standing → 17.1 s halved; the partial-dedup alternative (plain
    // .distinct(), map-side combine) measured 35.4 s — popular pairs
    // repeat mostly ACROSS partitions, so the partial pass pays a full
    // 360M-row hash for ~nothing, the shuffle-first doctrine again.
    {
      val pairs = Aggregates
        .byShuffledKey(df.select(basket.as("bk"), item.as("it")), col("bk"))
        .agg(collect_set(col("it")).as("its"))
        .select(explode(col("its")).as("src"), col("its"))
        .select(col("src"), explode(col("its")).as("dst"))
        .filter(col("src") < col("dst"))
      // the deduped half is cut (under AQE the cut materializes every
      // upstream shuffle stage at construction — building the edges
      // frame, even for explain-only paths, already runs the basket
      // aggregate and dedup shuffles): the union below
      // reads it twice (direct + mirrored) and downstream consumers
      // (pageRankNano's deg aggregate, its deg join, its init node set)
      // multiply the traversals further — ReuseExchange dedups the
      // pair exchange itself, but the post-exchange 2.4M-row dedup
      // aggregate ran once PER CONSUMER STAGE (event-log measured at
      // sf0.1: two identical shuffle-read-2.4M → emit-364k stages per
      // execution, the two dominant stages of the whole query). The
      // cut holds the smallest frame in the pipeline (the
      // canonical half-edge set, |E|/2 rows — at 100 TB the exploded
      // pair set is ~2× bigger and the basket relation bigger still),
      // so the dedup runs exactly once per run.
      val half = Materialize.truncate(pairs.repartition(col("src"), col("dst")).distinct())
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
    }

  /** Fixed-iteration PageRank over a directed edge list, in integer
    * nano units: rank₀ = 1e9 for every node with an out-edge;
    * rankᵢ₊₁(v) = (1e9 − damp) + floor(damp × Σ_{u→v} floor(rankᵢ(u) /
    * deg(u)) / 1e9). Every node of an undirected (symmetrized) edge
    * list both sends and receives, so no dangling-mass correction is
    * needed — the co-occurrence / link-exchange case this targets.
    *
    * Iteration mechanics, same discipline as
    * [[DedupClusters.connectedComponents]]: the (src, dst, deg) frame
    * is cut once ([[Materialize.truncate]]) — an edge derivation like
    * [[coOccurrenceEdges]] is a multi-hundred-million-row self-join
    * that would otherwise re-execute inside EVERY sweep's plan (the
    * measured cost at x200 was 2× the whole query) — and the rank
    * frontier is checkpointed every `checkpointEvery` sweeps, cutting
    * the superlinear lineage growth driver-loop iteration always
    * produces. Per-sweep frontier cuts are NOT free: each one
    * materializes + caches the node-sized frame and breaks the unrolled
    * plan into synchronous stages (measured ~30% of the whole 3-sweep
    * query at sf0.1 AND x200), while a handful of unrolled sweeps is
    * exactly what Catalyst handles well — so shallow runs (iters <
    * checkpointEvery) run as ONE plan over the checkpointed edge frame
    * and only deep convergence loops pay the periodic cut.
    * [[Materialize.truncate]] states the cut's storage, executor-loss
    * and cleanup contract. */
  def pageRankNano(edges: DataFrame, iters: Int,
      dampNano: Long = 850000000L, checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 1 && dampNano >= 0 && dampNano <= 1000000000L,
      s"pageRankNano: need iters >= 1 and damp in [0, 1e9], got $iters / $dampNano")
    require(checkpointEvery >= 1, s"pageRankNano: checkpointEvery >= 1, got $checkpointEvery")
    val teleport = 1000000000L - dampNano
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ej = Materialize.truncate(edges.join(deg, "src")) // (src, dst, deg), built once
    val init = ej.select(col("src").as("id"), lit(1000000000L).as("rank")).distinct()
    (1 to iters).foldLeft(init) { (rank, i) =>
      val nxt = ej.join(rank, ej("src") === rank("id"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
        .select(col("dst").as("id"),
          (lit(teleport) +
            expr(s"(s div 1000000000) * $dampNano") +
            expr(s"((s % 1000000000) * $dampNano) div 1000000000")).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) Materialize.truncate(nxt) else nxt
    }
  }
}
