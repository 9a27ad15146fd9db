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

  test("the bucketed-scan pin is set only by TabularWriter.withBucketedScan under src/main") {
    val found = SourceGuard.hits("spark.sql.sources.bucketing.autoBucketedScan.enabled", Set.empty)
    val helper = SourceGuard.hits("def withBucketedScan", Set.empty)
    def line(hit: String) = hit.split(":")(1).toInt
    // one use, in TabularWriter, on the first line of the helper's body
    assert(found.size === 1 && helper.size === 1 &&
      found.head.startsWith(helper.head.split(":").head) &&
      helper.head.contains("TabularWriter.scala") &&
      line(found.head) === line(helper.head) + 1,
      (found ++ helper).mkString("\n"))
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
