package graft

import org.scalatest.funsuite.AnyFunSuite

/** How a staged catalog table is created, replaced and re-attached
  * lives in `sources.TabularWriter` (the rename-aside swap, the
  * stale-location clear). A second hand-written swap or warehouse-path
  * computation must show up here as a failing spec, not as one more
  * copy of the lifecycle. */
class StagingLifecycleSpec extends AnyFunSuite {

  test("RENAME TO appears only in TabularWriter.scala under src/main") {
    val found = SourceGuard.hits("RENAME TO", Set("TabularWriter.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("spark.sql.warehouse.dir is read only by TableStats.warehouseOf (set by GraftSession)") {
    // EagerAggregation is an optimizer rule that holds only a SQLConf
    val found = SourceGuard.hits("spark.sql.warehouse.dir",
      Set("TableStats.scala", "GraftSession.scala", "EagerAggregation.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("specs under src/test reach the warehouse through TableStats.warehouseOf or TabularWriter.clearStale") {
    val found = SourceGuard.hits("spark.sql.warehouse.dir", Set("StagingLifecycleSpec.scala"),
      java.nio.file.Paths.get("src", "test"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
