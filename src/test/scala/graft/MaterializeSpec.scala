package graft

import org.scalatest.funsuite.AnyFunSuite

/** How a frame's lineage is cut lives in `operators.Materialize`: a
  * hand-written checkpoint elsewhere must show up here as a failing
  * spec, and the contract its scaladoc states about executor loss is
  * checked on a real multi-executor cluster. */
class MaterializeSpec extends AnyFunSuite {

  test("localCheckpoint( and .checkpoint( appear only in Materialize.scala under src/main") {
    val found = Seq("localCheckpoint(", ".checkpoint(")
      .flatMap(SourceGuard.hits(_, Set("Materialize.scala")))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("executor loss: the default cut fails, the durable cut (checkpoint dir set) recomputes") {
    // three executors: each path kills one, never the last
    val (results, out) = MaterializeChild.run("loss", "local-cluster[3,1,1024]")
    val expected = Map("baseline" -> "closed-form",
      "default" -> "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND", "durable" -> "equal")
    assert(results === expected, out.linesIterator.toSeq.takeRight(80).mkString("\n"))
  }
}
