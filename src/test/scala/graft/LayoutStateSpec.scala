package graft

import java.nio.file.{Files, Paths}

import graft.plans.{LayoutAdvisor, MaterializedAggs, MaterializedJoins, TableStats}
import graft.sources.TabularWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Which staged layouts may serve a session is the state of its Spark
  * context (`plans.LayoutState`): every session on the context shares
  * it, and the session a new context brings up after `spark.stop()`
  * starts with none. The first test stops the suite's session; the
  * others, and the suites after this one, get the next one from
  * `GraftSession.local`. */
class LayoutStateSpec extends GraftSpec {

  private val Rollup = "ls_rollup"
  private val Flat = "ls_flat"

  /** A private data dir holding tables `t` and `u`, each (k, v): 1000
    * rows, 10 keys. */
  private def data(s: SparkSession): String = {
    val d = Files.createTempDirectory("graft_layout_state")
    sys.addShutdownHook(GateFixtures.deleteRecursively(d))
    Seq("t", "u").foreach(t => s.range(0, 1000)
      .select((col("id") % 10).as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(d.resolve(s"$t.parquet").toString))
    d.toString
  }

  private def perKey(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "t").groupBy(col("k")).agg(sum(col("v")).as("sv"))

  /** Stage (and register) the per-key rollup of `t` as [[Rollup]], and
    * a plain copy of `u` as [[Flat]] that `u` is redirected to. */
  private def stage(s: SparkSession, d: String): MaterializedAggs.Meta = {
    Seq(Rollup, Flat).foreach(TabularWriter.clearStale(s, _))
    val path = MaterializedJoins.leafPath(Tables(s, d, "t"))
    val spec = LayoutAdvisor.RollupSpec("t", path, Seq("k"),
      Seq(MaterializedAggs.Measure("sv", "sum(v)")), buckets = 2, hits = 1)
    val meta = MaterializedAggs.stageRollup(s, spec, Rollup)
    Tables(s, d, "u").write.saveAsTable(Flat)
    Tables.redirect(s, d, "u", Flat)
    meta
  }

  /** True iff `df`'s optimized plan reads catalog table `table`. */
  private def readsTable(df: DataFrame, table: String): Boolean =
    MaterializedAggs.fired(df, table)

  private def release(s: SparkSession): Unit = {
    MaterializedAggs.deregister(s, Rollup)
    Tables.clearRedirects(s)
    Seq(Rollup, Flat).foreach(TabularWriter.clearStale(s, _))
  }

  test("a rollup and a redirect registered before spark.stop() do not serve the next session") {
    val first = spark
    val d = data(first)
    stage(first, d)
    assert(readsTable(perKey(first, d), Rollup), "the rollup must serve its own session")
    assert(readsTable(Tables(first, d, "u"), Flat), "the redirect must serve its own session")
    first.stop()
    val next = GraftSession.local("4")
    assert(next.sparkContext ne first.sparkContext)
    try {
      // the next catalog gets both tables back unregistered: only a
      // registration or a redirect could make a query read them now
      Seq(Rollup, Flat).foreach { t =>
        next.catalog.createTable(t, Paths.get(TableStats.warehouseOf(next), t).toString)
      }
      val q = perKey(next, d)
      assert(!readsTable(q, Rollup), s"a stopped session's rollup served:\n" +
        q.queryExecution.optimizedPlan)
      assert(!readsTable(Tables(next, d, "u"), Flat), "a stopped session's redirect served")
      assert(q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        (0L until 10L).map(k => k -> (0L until 1000L).filter(_ % 10 == k).sum).toMap)
      assert(MaterializedAggs.all(next).isEmpty)
    } finally release(next)
  }

  test("spark.newSession() on the same context sees the same rollup and redirect") {
    val s = GraftSession.local("4")
    val d = data(s)
    stage(s, d)
    try {
      val other = s.newSession()
      assert(readsTable(perKey(other, d), Rollup))
      assert(readsTable(Tables(other, d, "u"), Flat))
      // one state: deregistering through either session ends both
      MaterializedAggs.deregister(other, Rollup)
      assert(!readsTable(perKey(s, d), Rollup))
    } finally release(s)
  }

  test("a withRegistered build that throws leaves nothing registered") {
    val s = GraftSession.local("4")
    val d = data(s)
    val meta = stage(s, d)
    try {
      MaterializedAggs.deregister(s, Rollup)
      val e = intercept[IllegalStateException] {
        MaterializedAggs.withRegistered(s, Seq(meta)) {
          assert(readsTable(perKey(s, d), Rollup), "registered inside the build")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage === "build failed")
      assert(!MaterializedAggs.all(s).exists(_.catalogTable == Rollup))
      assert(!readsTable(perKey(s, d), Rollup))
    } finally release(s)
  }

  test("two withRegistered builds of an equal meta parse the rollup's measures once") {
    val s = GraftSession.local("4")
    val d = data(s)
    val meta = stage(s, d)
    // the measure parse optimizes one global `__m` aggregate per measure
    val parses = new java.util.concurrent.atomic.AtomicInteger()
    val countParses = new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
        if (plan.output.map(_.name) == Seq("__m")) parses.incrementAndGet()
        plan
      }
    }
    val extra = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = extra :+ countParses
    try {
      MaterializedAggs.deregister(s, Rollup)
      def build(): Int = {
        parses.set(0)
        val q = MaterializedAggs.withRegistered(s, Seq(meta))(perKey(s, d))
        assert(readsTable(q, Rollup))
        parses.get()
      }
      assert(build() > 0, "the first build parses")
      assert(build() === 0, "the second build of an equal meta parses again")
    } finally {
      s.experimental.extraOptimizations = extra
      release(s)
    }
  }

  test("no rule under plans/ looks up the active session") {
    val found = SourceGuard.hits("getActiveSession", Set.empty,
      Paths.get("src", "main", "scala", "graft", "plans"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
