package graft

import org.scalatest.funsuite.AnyFunSuite

/** How a staged catalog table is created, replaced and re-attached
  * lives in `sources.TabularWriter` (the rename-aside swap, the
  * stale-location clear), `sources.GraftFiles` (a table's location and
  * graft's own small files there) and `plans.Freshness` (the layout
  * record and the one attach). A second hand-written swap,
  * warehouse-path computation or layout sidecar must show up here as a
  * failing spec, not as one more copy of the lifecycle; and the
  * lifecycle must run with the warehouse off local disk. */
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

  test("graft's own files go through Hadoop FS: no java.nio.file under plans/ or sources/") {
    val found = Seq("plans", "sources").flatMap(d => SourceGuard.hits("java.nio.file", Set.empty,
      java.nio.file.Paths.get("src", "main", "scala", "graft", d)))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a table location keeps its scheme: location.getPath appears nowhere under src/main") {
    val found = SourceGuard.hits("location.getPath", Set.empty)
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** Stages a bucketed projection and a rollup in one child JVM and
    * attaches, appends to, refreshes, compacts and crash-recovers them
    * in a second ([[LifecycleChild]]), with the base data and the
    * warehouse on `fs`, a [[GraftRootedFs]] stored under a temporary
    * root. */
  private def offLocalDisk(fs: Class[_ <: GraftRootedFs]): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_offlocal")
    try {
      val (store, work) = (Files.createDirectory(tmp.resolve("store")),
        Files.createDirectory(tmp.resolve("work")))
      // the top directory on the test FS: its local namesake must stay absent
      val top = "/" + tmp.getFileName
      val scheme = GraftRootedFs.Scheme
      val conf = Seq(s"spark.hadoop.fs.$scheme.impl=${fs.getName}",
        s"spark.hadoop.fs.$scheme.root=$store",
        s"spark.sql.warehouse.dir=$scheme:$top/warehouse").mkString(";")
      def step(name: String, expected: (String, String)*): Unit = {
        val (results, out) = ChildJvm.run("graft.LifecycleChild",
          Seq(name, s"$scheme:$top/fact"), work, Map("SPARK_GRAFT_CONF" -> conf))
        withClue(out.linesIterator.filterNot(l => l.contains(" WARN ") || l.trim.startsWith("at "))
            .toSeq.takeRight(40)
            .mkString("\n", "\n", "\n")) {
          assert(results === expected.toMap)
        }
      }
      step("stage", "staged" -> "ok")
      step("serve", "stats" -> "read", "attached" -> "equal", "refreshed" -> "equal",
        "bucketed" -> "equal", "crash" -> "crashed", "crash-attach" -> "refused",
        "recovered" -> "equal")
      // everything landed under the FS's own root: nothing at the local
      // path of the same name, nothing relative to the working directory
      assert(!Files.exists(Paths.get(top)), s"$top written on local disk")
      assert(work.toFile.list().isEmpty, work.toFile.list().mkString(", "))
      for (f <- Seq("warehouse/_graft_stats", "warehouse/lc_rollup/_graft_layout",
          "warehouse/lc_bucketed/_graft_buckets"))
        assert(Files.exists(store.resolve(top.drop(1)).resolve(f)), f)
    } finally GateFixtures.deleteRecursively(tmp)
  }

  test("the staging lifecycle runs with the warehouse off local disk (atomic rename)") {
    offLocalDisk(classOf[GraftRootedFs])
  }

  test("the staging lifecycle runs with the warehouse off local disk (copy-then-delete rename)") {
    offLocalDisk(classOf[GraftRootedObjectStoreFs])
  }
}
