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

  test("BenchOne rejects reps < 1 before running any query") {
    val (msg, printed) = rejected(BenchOne.main(Array("metric_mrr", sf, "0")))
    assert(msg.contains("reps"))
    assert(printed.isEmpty, printed)
  }

  test("BenchOne trims names and drops empty ones") {
    // the padded name is known once trimmed, so reps is what fails
    assert(rejected(BenchOne.main(Array(" metric_mrr , ,", sf, "0")))._1.contains("reps"))
    assert(rejected(BenchOne.main(Array(" , ", sf)))._1.contains("empty query list"))
  }
}
