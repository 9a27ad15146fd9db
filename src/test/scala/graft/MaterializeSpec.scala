package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** How a frame's lineage is cut lives in `operators.Materialize`: a
  * hand-written checkpoint elsewhere must show up here as a failing
  * spec, and the contract its scaladoc states about executor loss is
  * checked on a real multi-executor cluster. */
class MaterializeSpec extends GraftSpec {

  test("localCheckpoint( and .checkpoint( appear only in Materialize.scala under src/main") {
    val found = Seq("localCheckpoint(", ".checkpoint(")
      .flatMap(SourceGuard.hits(_, Set("Materialize.scala")))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a cut records its caller's line as the RDD creation site") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val cc = graft.operators.DedupClusters.connectedComponents(pairs, col("a"), col("b"))
    // an RDD prints as `<class>[<id>] at <creation site>`
    val sites = cc.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.toString }
    assert(sites.nonEmpty && sites.forall(s =>
      s.contains("at DedupClusters.scala:") && !s.contains("Materialize.scala")),
      sites.mkString("\n"))
    // the caller's own call site is back once the cut returns
    assert(spark.sparkContext.getLocalProperty("callSite.short") === null)
  }

  test("executor loss: the default cut fails, the durable cut (checkpoint dir set) recomputes") {
    // three executors: each path kills one, never the last
    val (results, out) = MaterializeChild.run("loss", "local-cluster[3,1,1024]")
    val expected = Map("baseline" -> "closed-form",
      "default" -> "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND", "durable" -> "equal")
    assert(results === expected, out.linesIterator.toSeq.takeRight(80).mkString("\n"))
  }
}
