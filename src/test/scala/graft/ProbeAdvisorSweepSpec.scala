package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

/** `ProbeAdvisorSweep <sfDir> <reps> <mode> name,name` — the advise →
  * stage → query harness behind PERF.md's x200 tables. main stops the
  * session it ran on, so this suite never touches the shared `spark`
  * before it; cleanup afterwards runs on a fresh one. */
class ProbeAdvisorSweepSpec extends GraftSpec {

  test("every mode scripts/interleaved.py launches is in the mode table") {
    val launched = """graft\.ProbeAdvisorSweep \{big_dir\} 1 (\w+)""".r
      .findAllMatchIn(Files.readString(Paths.get("scripts", "interleaved.py")))
      .map(_.group(1)).toSet
    assert(launched == Set("layout", "routed", "denorm"))
    assert(launched.subsetOf(ProbeAdvisorSweep.Modes.keySet), ProbeAdvisorSweep.Modes.keySet)
  }

  test("denormcheck serves two queries row-identical to the flat tables") {
    // a private copy of the tables: staging records measured stats for
    // every base path it reads (TableStats), and the other suites' plans
    // and advice over `sf` must keep seeing those paths unmeasured
    val root = Files.createTempDirectory("graft_sweep_spec")
    val d = root.resolve("sf")
    Files.createDirectories(d)
    Paths.get(sf).toFile.listFiles.foreach(f => Files.copy(f.toPath, d.resolve(f.getName)))
    val out = new ByteArrayOutputStream
    try {
      Console.withOut(out)(ProbeAdvisorSweep.main(
        Array(d.toString, "1", "denormcheck", "q3_shipping_priority,q18_large_volume")))
      assert(out.toString.contains("\"bad\":0,\"n\":2"), out.toString)
    } finally {
      // every staged table name ends with the data dir's tag
      val tag = d.toString.replaceAll("[^A-Za-z0-9]", "_")
      Paths.get(graft.plans.TableStats.warehouseOf(spark)).toFile.list.filter(_.endsWith(tag))
        .foreach(graft.sources.TabularWriter.clearStale(spark, _))
      GateFixtures.deleteRecursively(root)
    }
  }
}
