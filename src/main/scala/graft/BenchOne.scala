package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time a SUBSET of gate queries in isolation, with the same
  * methodology as [[Bench]] (noop sink, untimed warm-up, session
  * hygiene between reps). Unlike Bench it runs each named query
  * `reps` times and prints every rep — the tool for pinning
  * session-to-session instability (e.g. the round-7 web_host_cap
  * 0.3–5.6 s spread) and for quick A/Bs while iterating.
  *
  * Usage: runMain graft.BenchOne <name,name,...> [sfDir] [reps]
  * Bad arguments (no names, an unknown name, reps < 1) fail before
  * Spark starts.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <name,name,...> [sfDir] [reps]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "empty query list")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      run(fn) // untimed warm-up (codegen + fixture staging)
      GraftSession.clearSessionState(spark)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run(fn)
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.clearSessionState(spark)
        dt
      }
      println(f"[bench-one] $name: ${times.map(t => f"$t%.3f").mkString(" ")} (min ${times.min}%.3f)")
    }
    spark.stop()
  }
}
