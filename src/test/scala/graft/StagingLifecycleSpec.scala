package graft

import org.scalatest.funsuite.AnyFunSuite

/** How a staged catalog table is created, replaced and re-attached
  * lives in `sources.TabularWriter` (the rename-aside swap, the
  * stale-location clear) and `plans.Freshness` (the layout record and
  * the one attach). A second hand-written swap, warehouse-path
  * computation or layout sidecar must show up here as a failing spec,
  * not as one more copy of the lifecycle. */
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
    val found = SourceGuard.hits("spark.sql.warehouse.dir",
      Set("TableStats.scala", "GraftSession.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("layout records are read and written only in Freshness.scala under src/main") {
    // a second sidecar name, hand-written sidecar I/O or a direct read
    // of the record file is a second record format; TabularWriter's `_graft_buckets` (the writer's own
    // bucketing proof) and TableStats' `_graft_stats` are not layout records
    val found = SourceGuard.hits("\"_graft_", Set("Freshness.scala", "TabularWriter.scala",
      "TableStats.scala")) ++
      SourceGuard.hits("Sidecar(", Set("Freshness.scala", "TabularWriter.scala")) ++
      SourceGuard.hits("RecordFile", Set("Freshness.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("specs under src/test reach the warehouse through TableStats.warehouseOf or TabularWriter.clearStale") {
    val found = SourceGuard.hits("spark.sql.warehouse.dir", Set("StagingLifecycleSpec.scala"),
      java.nio.file.Paths.get("src", "test"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
