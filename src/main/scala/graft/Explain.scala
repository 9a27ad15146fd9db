package graft

/** Plan-inspection main: prints the formatted physical plan of the named
  * queries (or all) against a sf dir — the `.explain("formatted")`
  * feedback loop for the scale review (pushdown, broadcast, codegen
  * spans, exchange count).
  *
  * With `--run` each query is EXECUTED first (hash-reduced, like
  * BenchBig) and the printed plan is the final AQE plan with runtime
  * statistics (`isFinalPlan=true`) — the evidence loop for scale-plan
  * work: does the runtime bloom filter fire? which side broadcasts? how
  * many exchanges survive AQE?
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...] [--run]
  * An unknown name fails before Spark starts.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val run = args.contains("--run")
    val rest = args.filterNot(_ == "--run")
    require(rest.nonEmpty, "usage: Explain <sfDir> [queryName ...] [--run]")
    val sfDir = rest(0)
    val names = if (rest.length > 1) rest.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (run) {
        // The hash-reduced collect runs on a DERIVED Dataset with its own
        // QueryExecution; `df.queryExecution` is never executed, so with
        // AQE on it would still print the pre-execution plan. Print the
        // executed derivation's plan — it contains the query plan as its
        // subtree, with runtime statistics filled in.
        import org.apache.spark.sql.functions._
        val reduced = df.select(hash(df.columns.toSeq.map(col): _*).cast("long").as("h")).agg(sum("h"))
        val t0 = System.nanoTime()
        reduced.collect()
        println(f"executed in ${(System.nanoTime() - t0) / 1e9}%.2f s; final AQE plan:")
        println(reduced.queryExecution.executedPlan.toString)
        GraftSession.clearSessionState(spark)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
