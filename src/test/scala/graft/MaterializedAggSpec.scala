package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.plans.{FileLeaf, LayoutAdvisor, MaterializedAggs}

/** [[graft.plans.RewriteMaterializedAgg]]: a staged per-key rollup must
  * serve every covered aggregate/key-set shape EXACTLY — firing tests
  * compare against the registry-off plan, decline tests pin that the
  * rule left the plan alone. */
class MaterializedAggSpec extends GraftSpec {

  private def liPath = graft.plans.MaterializedJoins.leafPath(Tables.lineitem(spark, sf))
  private val cents = (c: String) => round(col(c) * 100).cast("long")

  /** One staged per-orderkey rollup per JVM, advised from a q18/q21/q4
    * shaped corpus — the product path: the advisor derives the key, the
    * measures and the conditional count from the queries themselves. */
  private lazy val meta: MaterializedAggs.Meta = {
    val name = "maspec_rollup"
    graft.sources.TabularWriter.clearStale(spark, name)
    val spec = advisedSpec
    val m = MaterializedAggs.stageRollup(spark, spec, name)
    MaterializedAggs.deregister(spark, name) // each test scopes its own registration
    m
  }

  private lazy val advisedSpec: LayoutAdvisor.RollupSpec = {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val corpus = Seq(
      // q18 shape: per-order sum, HAVING, joined back to orders
      li.groupBy(col("l_orderkey").as("b_ok"))
        .agg(sum(cents("l_quantity")).as("b_qty"))
        .filter(col("b_qty") > 100L)
        .join(o, col("b_ok") === col("o_orderkey"))
        .select(col("o_orderkey"), col("b_qty")),
      // q21 shape: per-order min/max + conditional aggregates over a
      // computed boolean carried by a Project below the Aggregate
      li.select(col("l_orderkey"), col("l_suppkey"),
          (col("l_returnflag") === "R").as("r"))
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_suppkey")).as("minS"), max(col("l_suppkey")).as("maxS"),
          min(when(col("r"), col("l_suppkey"))).as("minRS"),
          sum(when(col("r"), 1L).otherwise(0L)).as("nR")),
      // q4 shape: EXISTS → semi join on the filtered fact
      o.join(li.filter(col("l_returnflag") === "R").select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
    val specs = LayoutAdvisor.adviseAggRollups(corpus, minHits = 1)
    val onKey = specs.filter(s => s.fact == "lineitem" && s.keys == Seq("l_orderkey"))
    assert(onKey.size === 1, s"expected one l_orderkey rollup advice, got $specs")
    val s0 = onKey.head
    assert(s0.measures.size >= 6,
      s"sum/min/max/minRS/nR/cond measures expected: ${s0.measures}")
    assert(s0.measures.exists(_.cond.isDefined),
      s"the EXISTS probe must record a conditional count: ${s0.measures}")
    s0
  }

  /** Data files directly under `dir`, as the scans list them. */
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet")).toSet

  private def collectPlan[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}.collect(p)(pf)

  /** `body`'s result and the executed plan of every file write it ran
    * (as a QueryExecutionListener sees them: after the write). */
  private def writePlansDuring[T](body: => T): (T, Seq[SparkPlan]) = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try body finally {
      // listener events arrive asynchronously: a marker query's event
      // is delivered after every event posted before it
      spark.range(1).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(collectPlan(_) {
          case r: org.apache.spark.sql.execution.RangeExec => r }.nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    (out, seen.asScala.toSeq.filter(p => collectPlan(p) {
      case w: org.apache.spark.sql.execution.datasources.WriteFilesExec => w }.nonEmpty))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq.sortBy(_.mkString("|"))

  private def withMeta[T](m: MaterializedAggs.Meta)(f: => T): T = {
    MaterializedAggs.register(spark, m)
    try f finally MaterializedAggs.deregister(spark, m.catalogTable)
  }

  private def fired(df: DataFrame): Boolean =
    MaterializedAggs.fired(df, meta.catalogTable)

  private def sameOnOff(build: => DataFrame): Unit = {
    val on = withMeta(meta)(rows(build))
    val off = rows(build)
    assert(on === off, "rollup-served result must equal the registry-off result")
  }

  test("q18 shape: per-key sum + downstream join served from the rollup") {
    def q = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey").as("b_ok"))
      .agg(sum(cents("l_quantity")).as("b_qty"))
      .filter(col("b_qty") > 100L)
      .join(Tables.orders(spark, sf), col("b_ok") === col("o_orderkey"))
      .select(col("o_orderkey"), col("b_qty"))
    withMeta(meta) {
      assert(fired(q), s"rollup must serve:\n${q.queryExecution.optimizedPlan}")
      // the replaced subtree reads NO fact-grain lineitem at all
      val readsFact = q.queryExecution.optimizedPlan.collectFirst {
        case FileLeaf(lr, _, key) if key == liPath => lr
      }
      assert(readsFact.isEmpty, "fact-grain read must be gone")
    }
    assert(!fired(q), "registry off => no rewrite")
    sameOnOff(q)
  }

  test("q21 shape: multi-aggregate with computed CASE inputs served") {
    def q = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").as("r"))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("minS"), max(col("l_suppkey")).as("maxS"),
        min(when(col("r"), col("l_suppkey"))).as("minRS"),
        sum(when(col("r"), 1L).otherwise(0L)).as("nR"))
      .filter(col("minS") =!= col("maxS"))
    withMeta(meta)(assert(fired(q),
      s"computed-input aggregates must match:\n${q.queryExecution.optimizedPlan}"))
    sameOnOff(q)
  }

  test("byShuffledKey's repartition peels (the engine's own q18/q21 authoring)") {
    def q = graft.operators.Aggregates
      .byShuffledKey(Tables.lineitem(spark, sf), col("l_orderkey"),
        col("l_orderkey").as("g_ok"))
      .agg(sum(cents("l_quantity")).as("qty"))
    withMeta(meta)(assert(fired(q),
      s"repartition below the aggregate must peel:\n${q.queryExecution.optimizedPlan}"))
    sameOnOff(q)
  }

  test("q4 shape: EXISTS semi probe becomes a rollup key-set filter") {
    def q = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .join(Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    withMeta(meta) {
      assert(fired(q), s"semi probe must be served:\n${q.queryExecution.optimizedPlan}")
    }
    sameOnOff(q)
  }

  test("NOT EXISTS anti probe is served by the same key set") {
    def q = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(fired(q),
      s"anti probe must be served:\n${q.queryExecution.optimizedPlan}"))
    sameOnOff(q)
  }

  test("key-only filters re-apply on the rollup key (inferred isnotnull included)") {
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") > 100L)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty"))
    withMeta(meta)(assert(fired(q),
      s"key-bound filter must re-apply:\n${q.queryExecution.optimizedPlan}"))
    sameOnOff(q)
  }

  test("q17 shape: avg decomposed as sum/count arithmetic over two measures") {
    // a separate per-partkey rollup, advised from the q17 subquery
    val li = Tables.lineitem(spark, sf)
    def perPart = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((sum(cents("l_quantity")).cast(DoubleType) / 100.0 / count(lit(1)))
        .as("avg_qty"))
    val specs = LayoutAdvisor.adviseAggRollups(Seq(perPart), minHits = 1)
    assert(specs.size === 1 && specs.head.keys == Seq("l_partkey"), s"$specs")
    val name = "maspec_perpart"
    graft.sources.TabularWriter.clearStale(spark, name)
    val m = MaterializedAggs.stageRollup(spark, specs.head, name)
    MaterializedAggs.deregister(spark, name)
    def q = li.join(broadcast(Tables.part(spark, sf)
        .filter(col("p_brand") === "Brand#23")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(cents("l_extendedprice")).cast(DoubleType) / 100.0 / 7.0)
        .as("avg_yearly"))
    val on = { MaterializedAggs.register(spark, m)
      try {
        val df = q
        assert(MaterializedAggs.fired(df, name),
          s"per-part rollup must serve the decorrelated subquery:\n" +
            df.queryExecution.optimizedPlan)
        rows(df)
      } finally MaterializedAggs.deregister(spark, name) }
    assert(on === rows(q))
  }

  test("declines: non-key filter that matches no recorded condition") {
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "A") // recorded cond is 'R'
      .groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty"))
    withMeta(meta)(assert(!fired(q)))
    sameOnOff(q)
  }

  test("declines: unmatched aggregate expression / wrong grouping / extra column") {
    def wrongAgg = Tables.lineitem(spark, sf).groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice")).as("x")) // never staged
    def wrongKey = Tables.lineitem(spark, sf).groupBy(col("l_suppkey"))
      .agg(sum(cents("l_quantity")).as("qty"))
    def extraCol = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"), col("l_linestatus"))
      .agg(sum(cents("l_quantity")).as("qty"))
    withMeta(meta) {
      assert(!fired(wrongAgg), "unstaged measure must decline")
      assert(!fired(wrongKey), "different key must decline")
      assert(!fired(extraCol), "wider grouping must decline")
    }
    sameOnOff(wrongAgg); sameOnOff(wrongKey); sameOnOff(extraCol)
  }

  test("declines: grouping passthrough of a NON-key column") {
    // aggregate expressions referencing non-key columns outside the
    // aggregate functions cannot come from the rollup
    def q = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), (col("l_orderkey") % 7).as("d"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
      .select(col("l_orderkey"), col("n"))
    // this one is servable IF count(1) was staged — pin only that the
    // engine never crashes and results stay equal either way
    sameOnOff(q)
  }

  test("freshness: a base append after staging declines the rewrite") {
    // private copy of the fact so the append cannot disturb other tests
    val dir = java.nio.file.Files.createTempDirectory("maspec_fresh")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val base = dir.resolve("fact").toString
    Tables.lineitem(spark, sf).limit(500).write.mode("overwrite").parquet(base)
    def corpusQ = spark.read.parquet(base).groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty"))
    val spec = LayoutAdvisor.adviseAggRollups(Seq(corpusQ), minHits = 1).head
    val name = "maspec_fresh"
    graft.sources.TabularWriter.clearStale(spark, name)
    val m = MaterializedAggs.stageRollup(spark, spec, name)
    MaterializedAggs.register(spark, m)
    try {
      assert(MaterializedAggs.fired(corpusQ, name), "fresh base must serve")
      // APPEND to the base — the staged per-key sums are now stale
      Tables.lineitem(spark, sf).limit(100).write.mode("append").parquet(base)
      spark.catalog.refreshByPath(base)
      val drifted = corpusQ
      assert(!MaterializedAggs.fired(drifted, name),
        s"drifted base must decline:\n${drifted.queryExecution.optimizedPlan}")
      // and the correct (recomputed) result flows — 600 rows' worth
      val served = rows(drifted)
      MaterializedAggs.deregister(spark, name)
      assert(served === rows(corpusQ), "declined rewrite must equal flat result")
      // attach over the drifted base must refuse loudly
      intercept[IllegalArgumentException] {
        MaterializedAggs.attachRollup(spark, spec, name + "2",
          java.nio.file.Paths.get(graft.plans.TableStats.warehouseOf(spark), name).toString)
      }
    } finally MaterializedAggs.deregister(spark, name)
  }

  test("attachRollup restores the registration from the sidecar") {
    val staged = meta // ensure staged
    val aside = copyAside(staged.catalogTable)
    val name2 = staged.catalogTable + "2"
    if (spark.catalog.tableExists(name2)) spark.sql(s"DROP TABLE `$name2`")
    // a corrupt record (a mangled measure line) fails with the same
    // re-stage diagnostic as the other validations; restoring the
    // record restores attach
    val sidecar = aside.resolve(graft.plans.Freshness.RecordFile)
    val saved = new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8")
    try {
      val junk = saved.split("\n").toSeq
        .map(l => if (l.startsWith("measure\t")) "measure\tm_broken" else l)
      java.nio.file.Files.write(sidecar, junk.mkString("", "\n", "\n").getBytes("UTF-8"))
      // written behind Hadoop's back: drop the .crc the local FS would check
      java.nio.file.Files.deleteIfExists(sidecar.resolveSibling(s".${sidecar.getFileName}.crc"))
      val e = intercept[IllegalArgumentException] {
        MaterializedAggs.attachRollup(spark, advisedSpec, name2, aside.toString)
      }
      assert(e.getMessage.contains("re-stage"), e.getMessage)
      assert(!spark.catalog.tableExists(name2))
    } finally java.nio.file.Files.write(sidecar, saved.getBytes("UTF-8"))
    val attached = MaterializedAggs.attachRollup(
      spark, advisedSpec, name2, aside.toString)
    MaterializedAggs.deregister(spark, name2)
    assert(attached === staged.copy(catalogTable = name2))
    // drifted spec (different key) must refuse
    val drifted = advisedSpec.copy(keys = Seq("l_suppkey"))
    intercept[IllegalArgumentException] {
      MaterializedAggs.attachRollup(spark, drifted, name2 + "x", aside.toString)
    }
  }

  test("stats: the rollup's key is recorded ≈unique, blocking useless pre-aggs") {
    val st = graft.plans.TableStats.lookup(spark, meta.catalogTable)
    assert(st.exists(_.uniqueish(meta.keys.head)),
      s"stageRollup must record key uniqueness: $st")
  }

  test("rollup key-set serve composes with EagerAggregation's inserted distinct") {
    // force the Eager shape by hand: Aggregate(key, key, Filter(f, fact))
    def q = {
      val dd = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")).distinct()
      Tables.orders(spark, sf)
        .join(dd, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    }
    withMeta(meta)(assert(fired(q),
      s"filtered DISTINCT on the key must be served:\n${q.queryExecution.optimizedPlan}"))
    sameOnOff(q)
  }

  // ---------------- composite keys + coarser-grain re-aggregation
  // (round-12b: the classic materialized-view rewrite — a query
  // grouping a SUBSET of the rollup's keys, with predicates on key
  // columns, is re-aggregated from the stored partials)

  /** Composite rollups advised from a q1/q6-shaped corpus: the
    * advisor folds the FILTER columns into the key (grouping columns
    * first, predicate columns appended sorted) so the predicates
    * become key-only at rewrite time. */
  private lazy val compositeMetas: Seq[MaterializedAggs.Meta] = {
    val li = Tables.lineitem(spark, sf)
    val corpus = Seq(
      // q1 shape: two-column grouping + a discount bound (11 distinct
      // values at every SF — the folded key set reduces GUARANTEED at
      // any scale; a shipdate bound is the same mechanism but its NDV
      // ~= rows at toy SF, where the product guard rightly declines)
      li.filter(col("l_discount") <= 0.04)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents("l_extendedprice")).as("s"), count(lit(1)).as("n")),
      // q6 shape: GLOBAL aggregate, three key-foldable predicates
      li.filter(col("l_discount").between(0.02, 0.04) && col("l_quantity") < 20)
        .agg(sum(cents("l_extendedprice")).as("rev"), count(lit(1)).as("n")))
    val specs = LayoutAdvisor.adviseAggRollups(corpus, minHits = 1)
    val q1k = specs.find(_.keys == Seq("l_returnflag", "l_linestatus", "l_discount"))
    val q6k = specs.find(_.keys == Seq("l_discount", "l_quantity"))
    assert(q1k.isDefined && q6k.isDefined,
      s"advisor must fold predicate columns into composite keys: $specs")
    Seq(q1k.get -> "maspec_q1keys", q6k.get -> "maspec_q6keys").map {
      case (spec, name) =>
        graft.sources.TabularWriter.clearStale(spark, name)
        val m = MaterializedAggs.stageRollup(spark, spec, name)
        MaterializedAggs.deregister(spark, name)
        m
    }
  }

  private def withMetas[T](ms: Seq[MaterializedAggs.Meta])(f: => T): T = {
    ms.foreach(MaterializedAggs.register(spark, _))
    try f finally ms.foreach(m => MaterializedAggs.deregister(spark, m.catalogTable))
  }

  test("q1 shape: subset grouping re-aggregates stored partials (round-12b)") {
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_discount") <= 0.04)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents("l_extendedprice")).as("s"), count(lit(1)).as("n"))
    val ms = compositeMetas
    withMetas(ms) {
      assert(MaterializedAggs.fired(q, ms.head.catalogTable),
        s"coarser-grain serve must fire:\n${q.queryExecution.optimizedPlan}")
      // the served plan reads NO fact-grain lineitem
      val readsFact = q.queryExecution.optimizedPlan.exists {
        case FileLeaf(_, _, key) => key == liPath
        case _ => false
      }
      assert(!readsFact, "fact-grain read must be gone")
    }
    val on = withMetas(ms)(rows(q))
    assert(on === rows(q), "re-aggregated result must equal the direct result")
  }

  test("q6 shape: GLOBAL filtered sum served over the composite rollup") {
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_discount").between(0.02, 0.04) && col("l_quantity") < 20)
      .agg(sum(cents("l_extendedprice")).as("rev"), count(lit(1)).as("n"))
    val ms = compositeMetas
    withMetas(ms) {
      assert(MaterializedAggs.fired(q, ms(1).catalogTable),
        s"global coarser serve must fire:\n${q.queryExecution.optimizedPlan}")
    }
    val on = withMetas(ms)(rows(q))
    assert(on === rows(q))
  }

  test("a DIFFERENT key-column predicate re-applies on the rollup (no re-advice)") {
    // staged for between(0.02,0.04): any predicate over key columns is
    // key-only at rewrite time, including ones never seen at advice
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") === 5.0 && col("l_discount") > 0.05)
      .agg(sum(cents("l_extendedprice")).as("rev"))
    val ms = compositeMetas
    withMetas(ms)(assert(MaterializedAggs.fired(q, ms(1).catalogTable),
      s"unseen key predicate must still serve:\n${q.queryExecution.optimizedPlan}"))
    assert(withMetas(ms)(rows(q)) === rows(q))
  }

  test("global count over a filtered-empty rollup is 0, not null") {
    def q = Tables.lineitem(spark, sf)
      .filter(col("l_discount") > 1.0) // matches nothing
      .agg(count(lit(1)).as("n"))
    val ms = compositeMetas
    // both composite rollups carry l_discount — EITHER may serve
    withMetas(ms)(assert(ms.exists(m => MaterializedAggs.fired(q, m.catalogTable)),
      s"empty-result global count must serve:\n${q.queryExecution.optimizedPlan}"))
    assert(withMetas(ms)(rows(q)) === Seq(Seq(0L)))
    assert(rows(q) === Seq(Seq(0L)))
  }

  test("coarser grain declines non-decomposable and distinct aggregates") {
    // exact-grain advice records ANY aggregate (stored FINAL values) —
    // stage an avg at full grain, then query it one level coarser
    val li = Tables.lineitem(spark, sf)
    def fullGrain = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(avg(col("l_quantity")).as("aq"))
    val specs = LayoutAdvisor.adviseAggRollups(Seq(fullGrain), minHits = 1)
    assert(specs.size === 1 &&
      specs.head.keys == Seq("l_returnflag", "l_linestatus"), s"$specs")
    val name = "maspec_avg2"
    graft.sources.TabularWriter.clearStale(spark, name)
    val m = MaterializedAggs.stageRollup(spark, specs.head, name)
    MaterializedAggs.deregister(spark, name)
    // exact grain: avg serves as a stored FINAL value
    withMeta(m)(assert(MaterializedAggs.fired(fullGrain, name),
      s"exact-grain avg must serve:\n${fullGrain.queryExecution.optimizedPlan}"))
    assert(withMeta(m)(rows(fullGrain)) === rows(fullGrain))
    // coarser grain: a bare Average cannot re-aggregate — decline
    def coarser = li.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("aq"))
    withMeta(m)(assert(!MaterializedAggs.fired(coarser, name),
      s"coarser avg must DECLINE:\n${coarser.queryExecution.optimizedPlan}"))
    // distinct aggregates never re-aggregate
    def dq = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_linestatus")).as("d"))
    withMeta(m)(assert(!MaterializedAggs.fired(dq, name)))
  }

  test("incremental refresh: append-only base growth merges the delta (round-12b)") {
    // private copy of the fact so appends cannot disturb other tests
    val dir = java.nio.file.Files.createTempDirectory("maspec_refresh")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val base = dir.resolve("fact").toString
    Tables.lineitem(spark, sf).limit(500).write.mode("overwrite").parquet(base)
    def corpusQ = spark.read.parquet(base).groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty"), count(lit(1)).as("n"),
        min(cents("l_extendedprice")).as("mn"),
        max(cents("l_extendedprice")).as("mx"))
    val spec = LayoutAdvisor.adviseAggRollups(Seq(corpusQ), minHits = 1).head
    val name = "maspec_refresh"
    Seq(name, name + "__refreshing", name + "__prerefresh")
      .foreach(graft.sources.TabularWriter.clearStale(spark, _))
    val m = MaterializedAggs.stageRollup(spark, spec, name)
    MaterializedAggs.deregister(spark, name)
    // fresh base → refresh is a no-op
    assert(MaterializedAggs.refreshRollup(spark, m) === m)
    MaterializedAggs.deregister(spark, name)
    // APPEND: overlapping keys get merged partials, new keys appear
    val baseFiles = dataFiles(base)
    Tables.lineitem(spark, sf).limit(800).write.mode("append").parquet(base)
    val deltaFiles = dataFiles(base) -- baseFiles
    spark.catalog.refreshByPath(base)
    withMeta(m)(assert(!MaterializedAggs.fired(corpusQ, name),
      "stale rollup must decline before the refresh"))
    val (fresh, writes) = writePlansDuring(MaterializedAggs.refreshRollup(spark, m)) // registers
    try {
      assert(fresh.fingerprint !== m.fingerprint)
      // one co-partitioned pass: the merge write shuffles only the
      // delta, and reads the staged rollup as a bucketed scan
      assert(writes.size === 1, s"one write expected, got:\n${writes.mkString("\n\n")}")
      val plan = writes.head
      val shuffles = collectPlan(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, s"only the delta may shuffle:\n$plan")
      val shuffled = collectPlan(shuffles.head) { case f: FileSourceScanExec => f }
        .flatMap(_.relation.location.inputFiles).map(f => new java.net.URI(f).getPath).toSet
      assert(shuffled === deltaFiles, s"the shuffle must read exactly the delta files:\n$plan")
      val staged = collectPlan(plan) {
        case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(staged.size === 1 && staged.head.bucketedScan,
        s"the staged rollup must be read as a bucketed scan:\n$plan")
      // the stats recorded from that write are what a re-scan measures
      val recorded = graft.plans.TableStats.lookup(spark, name)
      val measured = graft.plans.TableStats.analyze(spark, spark.table(name), name, m.keys)
      assert(recorded === Some(measured))
      assert(measured.fingerprint.isDefined && measured.ndv.keySet === m.keys.toSet)
      assert(MaterializedAggs.fired(corpusQ, name),
        s"refreshed rollup must serve:\n${corpusQ.queryExecution.optimizedPlan}")
      val served = rows(corpusQ)
      MaterializedAggs.deregister(spark, name)
      assert(served === rows(corpusQ),
        "delta-merged rollup must equal the direct result over the grown base")
    } finally MaterializedAggs.deregister(spark, name)
    // a non-mergeable measure (avg stored as a FINAL value) refuses
    def avgQ = spark.read.parquet(base).groupBy(col("l_orderkey"))
      .agg(avg(col("l_quantity")).as("a"))
    val avgSpec = LayoutAdvisor.adviseAggRollups(Seq(avgQ), minHits = 1).head
    val avgName = "maspec_refresh_avg"
    graft.sources.TabularWriter.clearStale(spark, avgName)
    val avgMeta = MaterializedAggs.stageRollup(spark, avgSpec, avgName)
    MaterializedAggs.deregister(spark, avgName)
    Tables.lineitem(spark, sf).limit(100).write.mode("append").parquet(base)
    spark.catalog.refreshByPath(base)
    val avgRes = try Left(MaterializedAggs.refreshRollup(spark, avgMeta))
      catch { case e: IllegalArgumentException => Right(e.getMessage) }
    MaterializedAggs.deregister(spark, avgName)
    assert(avgRes.isRight, s"avg refresh must refuse; got $avgRes " +
      s"(measures=${avgMeta.measures})")
    // non-append drift (a STAGED file disappeared) refuses — the file
    // to delete comes from the refreshed record's own inventory
    // (deleting an arbitrary parquet file could hit a post-refresh
    // delta file, which IS still append-only growth)
    val sidecar = java.nio.file.Paths.get(graft.plans.TableStats.warehouseOf(spark), name,
      graft.plans.Freshness.RecordFile)
    val stagedFile = java.nio.file.Files.readAllLines(sidecar)
      .toArray.map(_.toString).collectFirst {
        case l if l.startsWith("file\t") => l.stripPrefix("file\t")
      }.flatMap(graft.sources.FileSchemas.Entry.parse).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(new java.net.URI(stagedFile.path)))
    spark.catalog.refreshByPath(base)
    intercept[IllegalArgumentException] {
      MaterializedAggs.refreshRollup(spark, fresh)
    }
  }

  test("incremental refresh: a composite-key rollup with a conditional count merges its delta") {
    val dir = java.nio.file.Files.createTempDirectory("maspec_refresh_composite")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val base = dir.resolve("fact").toString
    Tables.lineitem(spark, sf).limit(500).write.mode("overwrite").parquet(base)
    import spark.implicits._
    val flags = Seq(("R", "F"), ("A", "F"), ("N", "O"), ("N", "F")).toDF("rf", "ls")
    def fact = spark.read.parquet(base)
    // the exact-grain aggregate and the semi probe share the two keys
    // (in the probe's order): one rollup carrying sum, count and
    // count_if(l_quantity > 25)
    def perFlags = fact.groupBy(col("l_linestatus"), col("l_returnflag"))
      .agg(sum(cents("l_quantity")).as("qty"), count(lit(1)).as("n"))
    def probe = flags.join(fact.filter(col("l_quantity") > 25)
        .select(col("l_returnflag"), col("l_linestatus")),
      col("rf") === col("l_returnflag") && col("ls") === col("l_linestatus"), "left_semi")
    val spec = LayoutAdvisor.adviseAggRollups(Seq(perFlags, probe), minHits = 1)
      .find(s => s.keys.size == 2 && s.measures.size == 3 &&
        s.measures.exists(_.agg.startsWith("count_if(")))
      .getOrElse(fail("expected a composite-key rollup with a conditional count"))
    val name = "maspec_refresh_composite"
    Seq(name, name + "__refreshing", name + "__prerefresh")
      .foreach(graft.sources.TabularWriter.clearStale(spark, _))
    val m = MaterializedAggs.stageRollup(spark, spec, name)
    MaterializedAggs.deregister(spark, name)
    Tables.lineitem(spark, sf).limit(800).write.mode("append").parquet(base)
    spark.catalog.refreshByPath(base)
    val fresh = MaterializedAggs.refreshRollup(spark, m)
    try {
      assert(fresh.fingerprint !== m.fingerprint)
      // the merged rollup equals the same aggregate over the grown base
      MaterializedAggs.deregister(spark, name)
      val aggs = spec.measures.map(ms => expr(ms.agg).as(ms.name))
      val direct = fact.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      assert(rows(spark.table(name).select(direct.columns.map(col): _*)) === rows(direct))
      // and every read it serves equals the rewrite-off recompute
      Seq(perFlags, probe).foreach { q =>
        val served = withMeta(fresh) {
          assert(MaterializedAggs.fired(q, name),
            s"refreshed rollup must serve:\n${q.queryExecution.optimizedPlan}")
          rows(q)
        }
        assert(served === rows(q))
      }
    } finally MaterializedAggs.deregister(spark, name)
  }

  test("refreshRollup crash window: both copies survive, the rewrite declines, the aside copy restores") {
    import graft.sources.TabularWriter
    val dir = java.nio.file.Files.createTempDirectory("maspec_refresh_crash")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val base = dir.resolve("fact").toString
    Tables.lineitem(spark, sf).limit(500).write.mode("overwrite").parquet(base)
    def corpusQ = spark.read.parquet(base).groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty"))
    val spec = LayoutAdvisor.adviseAggRollups(Seq(corpusQ), minHits = 1).head
    val name = "maspec_refresh_crash"
    val names = Seq(name, name + "__refreshing", name + "__prerefresh")
    names.foreach(TabularWriter.clearStale(spark, _))
    val m = MaterializedAggs.stageRollup(spark, spec, name)
    MaterializedAggs.deregister(spark, name)
    val before = rows(spark.table(name))
    Tables.lineitem(spark, sf).limit(800).write.mode("append").parquet(base)
    spark.catalog.refreshByPath(base)
    try {
      // crash in the WIDEST window: the staged rollup renamed aside,
      // the merged copy not yet under its name
      TabularWriter.compactCrashHook = () => throw new RuntimeException("injected crash")
      val e = intercept[RuntimeException](MaterializedAggs.refreshRollup(spark, m))
      assert(e.getMessage === "injected crash")
      TabularWriter.compactCrashHook = () => ()
      assert(!spark.catalog.tableExists(name))
      assert(spark.catalog.tableExists(s"${name}__prerefresh"))
      assert(spark.catalog.tableExists(s"${name}__refreshing"))
      // the registered meta still carries the pre-append fingerprint:
      // the rewrite declines on drift, before it looks for the table
      withMeta(m)(assert(!MaterializedAggs.fired(corpusQ, name),
        s"a crashed refresh must not serve:\n${corpusQ.queryExecution.optimizedPlan}"))
      // the documented recovery restores the exact pre-refresh rows
      spark.sql(s"ALTER TABLE `${name}__prerefresh` RENAME TO `$name`")
      assert(rows(spark.table(name)) === before)
      withMeta(m)(assert(!MaterializedAggs.fired(corpusQ, name),
        "the restored pre-refresh rollup is still stale and must decline"))
    } finally {
      TabularWriter.compactCrashHook = () => ()
      MaterializedAggs.deregister(spark, name)
      names.foreach(TabularWriter.clearStale(spark, _))
    }
  }

  test("composite advice requires a GUARANTEED reduction (NDV product bound)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("agg_prod")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    (1L to 4000L).map(i => (i, i % 7L, i % 11L, i * 2.0))
      .toDF("u", "g", "w", "v")
      .write.parquet(dir.resolve("t.parquet").toString)
    val df = spark.read.parquet(dir.resolve("t.parquet").toString)
    // grouping g + filter on near-unique u → composite (g, u): the NDV
    // product bound (7 × ~4000) cannot prove reduction → SKIPPED (the
    // rollup write would cost a fact-sized shuffle for nothing)
    val skip = LayoutAdvisor.adviseAggRollups(
      Seq(df.filter(col("u") < 100L).groupBy(col("g"))
        .agg(sum(col("v")).as("s"))), minHits = 1)
    assert(skip.isEmpty, s"near-fact-grain composite must be declined: $skip")
    // same shape over a low-NDV predicate column → advised (7 × 11 ≪ rows)
    val ok = LayoutAdvisor.adviseAggRollups(
      Seq(df.filter(col("w") < 5L).groupBy(col("g"))
        .agg(sum(col("v")).as("s"))), minHits = 1)
    assert(ok.size === 1 && ok.head.keys == Seq("g", "w"),
      s"guaranteed-reduction composite must be advised: $ok")
  }

  test("decimal re-sum casts back to the query's result type, bit-exact") {
    // the q1 DECIMAL idiom: sum(cast(x as decimal(12,2))) — the re-sum
    // widens to decimal(32,2) and must cast back to decimal(22,2)
    val dec = (c: String) => col(c).cast(DecimalType(12, 2))
    def q1dec = Tables.lineitem(spark, sf)
      .filter(col("l_discount") <= 0.04)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
    val specs = LayoutAdvisor.adviseAggRollups(Seq(q1dec), minHits = 1)
    assert(specs.size === 1 && specs.head.keys ==
      Seq("l_returnflag", "l_linestatus", "l_discount"), s"$specs")
    val name = "maspec_dec"
    graft.sources.TabularWriter.clearStale(spark, name)
    val m = MaterializedAggs.stageRollup(spark, specs.head, name)
    MaterializedAggs.deregister(spark, name)
    withMeta(m) {
      assert(MaterializedAggs.fired(q1dec, name),
        s"decimal re-sum must serve:\n${q1dec.queryExecution.optimizedPlan}")
      assert(q1dec.schema("sum_qty").dataType === DoubleType)
    }
    assert(withMeta(m)(rows(q1dec)) === rows(q1dec))
  }
}
