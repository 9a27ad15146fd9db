package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Round-13 probe: decompose the SUB-SECOND TAIL FLOOR (~190 queries at
  * 0.1–0.5 s each; ~60 s of the full bench) into its parts. For a
  * handful of trivial queries, time the exact Bench window (noop write,
  * session hygiene between reps) and split it with a SparkListener:
  *
  *   - `pre`    — timed-start → first job submitted: query construction
  *                (incl. fixture-dir memo lookups) + analysis +
  *                optimization + physical planning + AQE initial stage
  *                submission;
  *   - `jobs`   — Σ (jobEnd − jobStart): scheduled work, incl. task
  *                overhead over toy partitions;
  *   - `gaps`   — idle driver time BETWEEN jobs: AQE re-optimization
  *                between stages + job-submission latency;
  *   - `post`   — last job end → timed end: noop commit + action
  *                teardown.
  *
  * Kept as the reference that `perfbench/probetail_check.py` checks the
  * benchmark tracer's per-query split against.
  *
  * Usage: runMain graft.ProbeTail [names] [sfDir] [reps]
  */
object ProbeTail {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq
      else Seq("text_fingerprint", "scan_zstd_roundtrip", "text_clean", "metric_mrr")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    case class Ev(kind: String, ms: Long)
    val evs = new ConcurrentLinkedQueue[Ev]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        evs.add(Ev("start", j.time))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        evs.add(Ev("end", j.time))
    })

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    names.foreach { name =>
      run(name) // untimed warm-up, as in Bench
      GraftSession.clearSessionState(spark)
      (1 to reps).foreach { rep =>
        evs.clear()
        val t0 = System.currentTimeMillis()
        run(name)
        val t1 = System.currentTimeMillis()
        // the listener bus is async; events carry their own timestamps,
        // so draining AFTER closing the timing window is safe
        Thread.sleep(300)
        val events = {
          import scala.jdk.CollectionConverters._
          evs.asScala.toVector
        }
        val starts = events.filter(_.kind == "start").map(_.ms).sorted
        val ends = events.filter(_.kind == "end").map(_.ms).sorted
        val total = t1 - t0
        if (starts.isEmpty) {
          println(f"[tail] $name rep$rep: total ${total}ms, 0 jobs")
        } else {
          val pre = starts.head - t0
          val post = t1 - ends.last
          // jobs can overlap (AQE submits independent stages
          // concurrently): merge intervals so `jobs` is wall-clock
          val ivs = events.sortBy(_.ms)
          var jobs = 0L; var depth = 0; var openAt = 0L
          ivs.foreach {
            case Ev("start", ms) => if (depth == 0) openAt = ms; depth += 1
            case Ev("end", ms)   => depth -= 1; if (depth == 0) jobs += ms - openAt
            case _ =>
          }
          val gaps = total - pre - jobs - post
          println(f"[tail] $name rep$rep: total ${total}ms = pre ${pre}ms + " +
            f"jobs ${jobs}ms (${starts.size} jobs) + gaps ${gaps}ms + post ${post}ms")
        }
        GraftSession.clearSessionState(spark)
      }
    }
    spark.stop()
  }
}
