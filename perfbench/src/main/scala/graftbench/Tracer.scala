package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. Times are
  * System.nanoTime values; `parent` is the id of the span that caused
  * it (-1 for the root) and `query` the id of the query it belongs to
  * (-1 outside queries). */
final case class Span(id: Int, name: String, parent: Int, query: Int,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** Per-query counters gathered from Spark's listeners while the query's
  * job group is active. */
final class QueryCounters {
  var stages = 0
  var tasks = 0
  var runNs = 0L
  var cpuNs = 0L
  var deserNs = 0L
  var schedDelayMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakMem = 0L
  var bytesWritten = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var streamBatches = 0
  var streamBatchMs = 0L
  var streamStateRows = 0L
}

/** In-memory tracer for the traced run. It never changes what the
  * engine does: it reads Spark's public listeners (SparkListener,
  * QueryExecutionListener with `qe.tracker`, StreamingQueryListener), the
  * optimizer's rule metering, the codegen metrics and the JVM MXBeans,
  * and records spans around the benchmark's own calls into graft. Jobs
  * are tied to their query through a job group the benchmark sets
  * around each query; spans are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  // listener clocks are epoch millis, spans use nanoTime; the offset
  // between the two is taken as each query starts, so that clock slew
  // over a run does not shift its jobs
  private def epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val epochOffsets = new ConcurrentHashMap[Int, Long]()
  private def msToNano(ms: Long, q: Int): Long = ms * 1000000L - epochOffsets.get(q)

  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, QueryCounters]()
  private val stageQuery = new ConcurrentHashMap[Int, Int]()
  private val jobQuery = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Int)]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
  @volatile private var currentQuery = -1
  /** Span id new build/execute spans hang under. */
  var current: Int = -1

  def countersOf(q: Int): QueryCounters = counters.computeIfAbsent(q, _ => new QueryCounters)

  /** The query a job belongs to: the one whose job group launched it,
    * or, for a micro-batch job (launched from a streaming query's own
    * thread, under that query's job group), the query running now. */
  private def queryOf(props: java.util.Properties): Int = {
    val p = Option(props)
    p.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt)
      .orElse(p.flatMap(p => Option(p.getProperty(Tracer.StreamingQueryIdKey))).map(_ => currentQuery))
      .getOrElse(-1)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val q = queryOf(e.properties)
      jobQuery.put(e.jobId, q)
      e.stageIds.foreach(s => stageQuery.put(s, q))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobStart.put(e.jobId, (e.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val q = jobQuery.getOrDefault(e.jobId, -1)
      Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
        jobSpans.add((e.jobId, q, t0, e.time, site))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val q = stageQuery.getOrDefault(i.stageId, -1)
      if (q >= 0) countersOf(q).synchronized { countersOf(q).stages += 1 }
      for (s <- i.submissionTime; c <- i.completionTime)
        stageSpans.add((i.stageId, q, s, c, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val q = stageQuery.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (q < 0 || m == null) return
      val c = countersOf(q)
      c.synchronized {
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.deserNs += m.executorDeserializeTime * 1000000L
        val info = e.taskInfo
        val total = info.finishTime - info.launchTime
        c.schedDelayMs += math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val q = currentQuery
      if (q < 0) return
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val c = countersOf(q)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val q = currentQuery
      if (q < 0) return
      val p = e.progress
      val c = countersOf(q)
      c.synchronized {
        c.streamBatches += 1
        c.streamBatchMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        c.streamStateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener buses have delivered every event posted
    * so far. Spark posts events asynchronously; draining outside the
    * timed windows keeps the wait out of every measurement. */
  def drain(): Unit = org.apache.spark.ListenerDrain(sc)

  def open(name: String, parent: Int, query: Int): Span = {
    nextId += 1
    Span(nextId, name, parent, query, System.nanoTime(), -1L)
  }

  def close(s: Span, attrs: Map[String, Any] = Map.empty): Span = {
    val done = s.copy(end = System.nanoTime(), attrs = s.attrs ++ attrs)
    spans += done
    done
  }

  /** Runs `body` as query `q`: sets the job group the listeners key on. */
  def inQuery[T](q: Int, label: String)(body: => T): T = {
    sc.setJobGroup(Tracer.GroupPrefix + q, label, interruptOnCancel = false)
    epochOffsets.put(q, epochOffsetNs)
    currentQuery = q
    try body
    finally {
      currentQuery = -1
      sc.clearJobGroup()
    }
  }

  /** Adds job and stage spans, parented under the query span whose job
    * group launched them (under `build` or `execute`, whichever
    * interval holds the job's start). Call after `drain()`. */
  def linkSchedulerSpans(): Unit = {
    val byQuery = spans.filter(s => s.name == "build" || s.name == "execute" || s.name == "tables")
      .groupBy(_.query)
    val jobIds = mutable.Map.empty[Int, Int] // spark job id -> span id
    jobSpans.asScala.toSeq.filter(_._2 >= 0).sortBy(_._3).foreach { case (jobId, q, t0, t1, site) =>
      val s0 = msToNano(t0, q)
      val parent = byQuery.getOrElse(q, Nil)
        .find(p => s0 >= p.start - 1000000L && s0 <= p.end).map(_.id).getOrElse(-1)
      nextId += 1
      spans += Span(nextId, "job", parent, q, s0, msToNano(t1, q), Map("site" -> site))
      jobIds(jobId) = nextId
    }
    stageSpans.asScala.filter(_._2 >= 0).foreach { case (stageId, q, t0, t1, tasks) =>
      // the stage belongs to the last job that ran it; find by interval
      val parent = spans.filter(s => s.name == "job" && s.query == q &&
        msToNano(t0, q) >= s.start && msToNano(t1, q) <= s.end + 1000000L)
        .lastOption.map(_.id).getOrElse(-1)
      nextId += 1
      spans += Span(nextId, "stage", parent, q, msToNano(t0, q), msToNano(t1, q),
        Map("tasks" -> tasks))
    }
    jobSpans.clear()
    stageSpans.clear()
  }
}

object Tracer {
  val GroupPrefix = "graftbench-q"
  /** Local property a streaming query sets on its micro-batch jobs
    * (StreamExecution.QUERY_ID_KEY). */
  val StreamingQueryIdKey = "sql.streaming.queryId"

  /** Optimizer rule metering, per rule: (total ns, runs, effective runs). */
  def ruleMeter(): Map[String, (Long, Long, Long)] = {
    val line = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case line(rule, _, total, eff, runs) => rule -> (total.toLong, runs.toLong, eff.toLong)
    }.toMap
  }

  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  def jitNs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime * 1000000L).getOrElse(0L)

  // the old generation: what survives young collections (the young
  // generation's peak is just its size)
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))

  def resetPeakHeap(): Unit = oldGen.foreach(_.resetPeakUsage())

  def peakHeapBytes(): Long = oldGen.map(_.getPeakUsage.getUsed).sum

  /** Heap in use after a full collection: the state the engine keeps
    * (callers clear the session's caches first). Spark's ContextCleaner
    * frees shuffle and broadcast state asynchronously once a collection
    * has cleared its weak references, so collect, let it run, and
    * collect again. */
  def retainedHeapBytes(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
