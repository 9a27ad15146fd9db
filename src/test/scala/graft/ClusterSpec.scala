package graft

import graft.operators.{DedupClusters, NearDup}
import org.apache.spark.sql.functions._

/** DedupClusters (large-star/small-star connected components) against a
  * brute-force union-find, on adversarial graph shapes. */
class ClusterSpec extends GraftSpec {

  /** Reference union-find: map each node to its component's min id. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupClusters.connectedComponents(edges.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain graph (worst case for label propagation) resolves in log rounds") {
    // path 0-1-2-...-199: one component rooted at 0
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = ccOf(chain)
    assert(got.size === 200)
    assert(got.values.toSet === Set(0L))
  }

  test("random graph matches brute-force union-find") {
    // deterministic pseudo-random edges over a 300-node id space
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(250)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    assert(ccOf(edges) === bruteComponents(edges))
  }

  test("cliques, reversed/duplicated edges, and self-loops") {
    val clique = for { a <- 10L to 14L; b <- 10L to 14L if a != b } yield (a, b)
    val edges = clique ++ Seq((5L, 3L), (3L, 5L), (3L, 5L), (7L, 7L))
    val got = ccOf(edges)
    assert((10L to 14L).forall(got(_) == 10L))
    assert(got(5L) === 3L && got(3L) === 3L)
    assert(got(7L) === 7L) // self-loop-only node is its own singleton
  }

  test("fused convergence signature: already-converged star input resolves " +
    "in one confirmation round with results intact") {
    // a min-rooted star is large-star/small-star's fixpoint: the first
    // round reproduces the edge set exactly, so the loop must stop on
    // the FIRST signature equality (the fused in-action signature path)
    // and still emit every member + the root as its own component
    val star = (1L to 40L).map(i => (0L, i))
    val got = ccOf(star)
    assert(got === (0L to 40L).map(i => i -> 0L).toMap)
  }

  test("fused convergence signature: deep chain and duplicate-heavy input " +
    "agree with union-find (multi-round path)") {
    // chain forces ~log2(n) rounds; duplicated + reversed edges exercise
    // the signature over a dedup-heavy round output
    val chain = (0L until 63L).map(i => (i, i + 1))
    val edges = chain ++ chain.map(_.swap) ++ chain
    assert(ccOf(edges) === bruteComponents(edges))
  }

  test("result is invariant to input partition layout") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    val one = ccOf(edges)
    val repart = DedupClusters.connectedComponents(
      edges.toDF("a", "b").repartition(13), col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart === one)
  }

  test("canonicalize keeps exactly the representatives plus unpaired docs") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"doc$i")).toDF("id", "body")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = DedupClusters.canonicalize(docs, col("id"), pairs, col("a"), col("b"))
      .select("id").collect().map(_.getLong(0)).toSet
    // clusters {1,2,3} -> keep 1; {10,11} -> keep 10; everything else kept
    assert(kept === (0L until 20L).toSet -- Set(2L, 3L, 11L))
  }

  test("canonicalizeBy keeps the best-scored member; ties break to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: 2 and 3 tie at 0.9 -> keep 2
      (10L, 0.1), (11L, 0.7),          // cluster {10,11}: keep 11
      (20L, 0.0)                        // unpaired: kept
    ).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = DedupClusters.canonicalizeBy(docs, col("id"), col("q"),
      pairs, col("a"), col("b")).select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 11L, 20L))
    // and the min-id policy would have kept different docs (1, 10)
    val minId = DedupClusters.canonicalize(docs, col("id"), pairs, col("a"), col("b"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(minId === Set(1L, 10L, 20L))
  }

  test("end-to-end corpus dedup: canonical corpus has no surviving pair") {
    val docs = Tables.documents(spark, sf)
    val pairs = NearDup.minHashNearDups(docs, col("doc_id"), col("text"),
      n = 3, k = 16, bands = 4, threshold = 0.5)
    val canon = DedupClusters.canonicalize(docs, col("doc_id"), pairs,
      col("doc_a"), col("doc_b"))
    // re-detecting over the canonical corpus finds no pair: every
    // cluster collapsed to one survivor
    val residual = NearDup.minHashNearDups(canon, col("doc_id"), col("text"),
      n = 3, k = 16, bands = 4, threshold = 0.5).count()
    assert(residual === 0L)
  }

  test("durable cut: with a checkpoint dir set, the same rows read from reliable checkpoints") {
    // in a child JVM: a checkpoint dir cannot be unset, and later suites
    // must keep the default path
    val (results, out) = MaterializeChild.run("durable", "local[2]")
    val expected = Map("durable-rows" -> "equal",
      "default-plan" -> "local", "durable-plan" -> "reliable")
    assert(results === expected, out.linesIterator.toSeq.takeRight(80).mkString("\n"))
  }
}
