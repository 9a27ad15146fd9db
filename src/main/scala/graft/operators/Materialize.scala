package graft.operators

import org.apache.spark.sql.DataFrame

/** How the engine cuts a frame's lineage. Iterative driver loops
  * (connected components, PageRank, k-means, PQ training) and
  * multi-consumer frames materialize an intermediate once and read it
  * back instead of re-executing an ever-growing plan; every such cut
  * goes through [[truncate]], so the policy and its failure contract
  * live in one place. Each call site states why it cuts there. */
object Materialize {

  /** `df` with its lineage cut: the returned frame reads `df`'s rows as
    * materialized once, never re-running `df`'s plan.
    *
    *  - Default: `df.localCheckpoint(false)` — the rows are cached as
    *    raw-row blocks by the first action that reads them (under AQE,
    *    constructing the checkpoint already runs `df`'s upstream
    *    shuffle stages). The lineage-safe `persist(MEMORY_AND_DISK)` was
    *    A/B'd in its place: within noise at sf0.1 but 30–62% slower at
    *    x50 (ivf_kmeans 3.90 → 5.15 s, ann_topk_ivf 4.24 → 5.73 s,
    *    ann_topk_pq 1.98 → 3.20 s, mins of 3), because the columnar
    *    InMemoryRelation encode/decode of array vector columns grows
    *    with the data (OPTIMIZATION_r13.md §6).
    *  - Durable, when `sparkContext.setCheckpointDir` is set: an eager
    *    reliable `df.checkpoint(true)`, which computes and writes the
    *    frame's files in one job (a lazy reliable checkpoint would
    *    compute the frame at the first action, then again in a second
    *    job to write it).
    *
    * Contract:
    *  - Storage: default-path blocks live on the executors until
    *    `GraftSession.clearSessionState` (or the ContextCleaner, once the
    *    frame is unreachable) frees them, so a caller must not hold the
    *    frame across `clearSessionState`; durable-path rows are files
    *    under the checkpoint directory.
    *  - Executor loss: the lineage is cut, so the blocks a lost executor
    *    held cannot be recomputed and the next read of the default path
    *    fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (a lazy cut that
    *    only shuffle stages have read so far is not truncated yet and
    *    still recomputes); the durable path re-reads the files and
    *    survives. Each engine main rebuilds its frames per run,
    *    bounding the default path's exposure to one invocation;
    *    long-lived cluster jobs set a checkpoint directory.
    *  - Cleanup: durable files are removed only as
    *    `spark.cleaner.referenceTracking.cleanCheckpoints` says (off by
    *    default: they outlive the session).
    */
  def truncate(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val durable = sc.getCheckpointDir.isDefined
    // Spark names an RDD's creation site after the first frame outside
    // Spark, which would be this file for every cut: name the caller's
    // line instead (what `graft.Explain` and the Spark UI show for the
    // cut), and restore the caller's own call site afterwards
    val caller = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(!_.getClassName.startsWith(Self))
      .dropWhile(_.getClassName.startsWith(Self))
    val saved = Seq(ShortSite, LongSite).map(k => k -> sc.getLocalProperty(k))
    caller.headOption.foreach { f =>
      sc.setLocalProperty(ShortSite,
        s"${if (durable) "checkpoint" else "localCheckpoint"} at ${f.getFileName}:${f.getLineNumber}")
      sc.setLocalProperty(LongSite, caller.take(20).mkString("\n"))
    }
    try if (durable) df.checkpoint(true) else df.localCheckpoint(false)
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private val Self = getClass.getName.stripSuffix("$")
  // the local properties SparkContext.getCallSite prefers to the stack
  private val ShortSite = "callSite.short"
  private val LongSite = "callSite.long"
}
