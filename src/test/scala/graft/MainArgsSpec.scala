package graft

import java.io.ByteArrayOutputStream

/** The dev mains check their whole argument list before they start
  * Spark or run a query: a bad argument fails at once, naming itself,
  * instead of after the earlier queries have already run. */
class MainArgsSpec extends GraftSpec {

  /** The IllegalArgumentException `main` throws, and what it printed first. */
  private def rejected(main: => Unit): (String, String) = {
    val out = new ByteArrayOutputStream
    val e = Console.withOut(out)(intercept[IllegalArgumentException](main))
    (e.getMessage, out.toString)
  }

  test("Explain rejects an unknown name before running any query") {
    val (msg, printed) = rejected(
      Explain.main(Array(sf, "metric_mrr", "no_such_query", "--run")))
    assert(msg.contains("no_such_query"))
    assert(printed.isEmpty, printed)
  }

  test("Verify rejects unknown names, listed sorted, before running any query") {
    val out = java.nio.file.Files.createTempDirectory("verify_args")
    try {
      val (msg, printed) = rejected(Verify.main(Array(sf, out.toString,
        "zz_no_such_query, metric_mrr ,aa_no_such_query")))
      assert(msg.contains("unknown queries: aa_no_such_query, zz_no_such_query"), msg)
      assert(printed.isEmpty, printed)
      assert(out.toFile.list().isEmpty, "nothing may be written before the check")
    } finally GateFixtures.deleteRecursively(out)
  }

  test("BenchOne rejects reps < 1 before running any query") {
    val (msg, printed) = rejected(BenchOne.main(Array("metric_mrr", sf, "0")))
    assert(msg.contains("reps"))
    assert(printed.isEmpty, printed)
  }

  test("BenchOne trims names and drops empty ones") {
    // the padded name is known once trimmed, so reps is what fails
    assert(rejected(BenchOne.main(Array(" metric_mrr , ,", sf, "0")))._1.contains("reps"))
    assert(rejected(BenchOne.main(Array(" , ", sf)))._1.contains("empty query list"))
    // BenchBig and the sweep parse the same way: only the unknown name
    // is reported, the padded known one got past the check
    for (main <- Seq[String => Unit](
        names => BenchBig.main(Array(sf, names, "1")),
        names => ProbeAdvisorSweep.main(Array(sf, "1", "check", names)))) {
      val (msg, printed) = rejected(main(" metric_mrr , ,no_such_query"))
      assert(msg.endsWith("unknown queries: no_such_query"), msg)
      assert(printed.isEmpty, printed)
      assert(rejected(main(" , "))._1.contains("empty query list"))
    }
  }

  test("BenchBig rejects an unknown name before running any query") {
    val (msg, printed) = rejected(BenchBig.main(Array(sf, "metric_mrr,no_such_query", "1")))
    assert(msg.contains("no_such_query"), msg)
    assert(printed.isEmpty, printed)
    // the preset lists (BenchBig's and the sweep's default) are checked
    // here; only an explicit list is checked at run time
    SparkEntry.requireKnown(BenchBig.Headline ++ BenchBig.Llm ++ BenchBig.Rel)
  }

  test("BenchBig rejects reps < 1 before running any query") {
    val (msg, printed) = rejected(BenchBig.main(Array(sf, "metric_mrr", "0")))
    assert(msg.contains("reps"), msg)
    assert(printed.isEmpty, printed)
  }

  test("ProbeAdvisorSweep rejects an unknown mode before staging anything") {
    val (msg, printed) = rejected(ProbeAdvisorSweep.main(Array(sf, "1", "chek")))
    assert(msg.contains("chek"), msg)
    assert(printed.isEmpty, printed)
  }

  test("ProbeAdvisorSweep rejects an unknown name before staging anything") {
    val (msg, printed) = rejected(
      ProbeAdvisorSweep.main(Array(sf, "1", "check", "q3_shipping_priority,no_such_query")))
    assert(msg.contains("no_such_query"), msg)
    assert(printed.isEmpty, printed)
  }

  test("ProbeAdvisorSweep rejects reps < 1 before staging anything") {
    val (msg, printed) = rejected(ProbeAdvisorSweep.main(Array(sf, "0", "flat")))
    assert(msg.contains("reps"), msg)
    assert(printed.isEmpty, printed)
  }
}
