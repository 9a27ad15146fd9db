package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{LayoutAdvisor, MaterializedJoins}
import graft.plans.MaterializedJoins.Meta

/** [[graft.plans.RewriteMaterializedJoin]]: the pre-joined projection
  * must serve every covered join subtree EXACTLY — every firing test
  * compares the rewritten rows against the registry-off plan, and every
  * decline test pins that the rule left the plan alone. */
class MaterializedJoinSpec extends GraftSpec {

  private def liPath = MaterializedJoins.leafPath(Tables.lineitem(spark, sf))
  private def oPath = MaterializedJoins.leafPath(Tables.orders(spark, sf))
  private def cPath = MaterializedJoins.leafPath(Tables.customer(spark, sf))

  /** One staged li⋈orders⋈customer star per JVM, bucketed on
    * l_orderkey, carrying stored cents for the money columns. */
  private lazy val meta: Meta = {
    val name = "mjspec_denorm"
    graft.sources.TabularWriter.clearStale(spark, name)
    val spec = LayoutAdvisor.DenormSpec(
      fact = "lineitem", factPath = liPath,
      dims = Seq(
        LayoutAdvisor.DenormDim("orders", oPath, "lineitem", "l_orderkey", "o_orderkey"),
        LayoutAdvisor.DenormDim("customer", cPath, "orders", "o_custkey", "c_custkey")),
      columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate",
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority",
        "c_custkey", "c_mktsegment"),
      bucketKey = Some("l_orderkey"), buckets = 4,
      centsCols = Seq("l_extendedprice", "l_discount"), hits = 1)
    val m = MaterializedJoins.stageDenorm(spark, spec, name)
    MaterializedJoins.deregister(spark, name) // each test scopes its own registration
    m
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq.sortBy(_.mkString("|"))

  private def withMeta[T](m: Meta)(f: => T): T = {
    MaterializedJoins.register(spark, m)
    try f finally MaterializedJoins.deregister(spark, m.catalogTable)
  }

  private def fired(df: DataFrame): Boolean =
    MaterializedJoins.fired(df, meta.catalogTable)

  /** Build inside registration (forces a fresh plan), compare with the
    * registry-empty build of the same query. */
  private def sameOnOff(build: => DataFrame): Unit = {
    val on = withMeta(meta)(rows(build))
    val off = rows(build)
    assert(on === off, "rewritten result must equal the registry-off result")
  }

  private def starJoin: DataFrame =
    Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))

  test("full star match fires and reproduces the flat join exactly") {
    def q = starJoin
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
    withMeta(meta)(assert(fired(q), "star join must be served by the denorm"))
    assert(!fired(q), "registry off => no rewrite")
    sameOnOff(q)
  }

  test("stage-time audit proves the TPC-H dims lossless") {
    assert(meta.dims.forall(_.lossless),
      s"orders/customer must audit lossless on driver data: ${meta.dims}")
  }

  test("subset join (fact + first dim) is served when the omitted dim is lossless") {
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity")).as("q"))
    withMeta(meta)(assert(fired(q), "lossless customer may be omitted"))
    sameOnOff(q)
  }

  test("a lossy omitted dim declines the subset rewrite but not the full match") {
    val lossy = meta.copy(dims = meta.dims.map(d =>
      if (d.table == "customer") d.copy(lossless = false) else d))
    def subset = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    def full = starJoin.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    withMeta(lossy) {
      assert(!fired(subset), "cannot omit a lossy dim")
      assert(fired(full), "joining the lossy dim yourself is always exact")
    }
  }

  test("leaf filters commute: pushed predicates survive the rewrite") {
    def q = Tables.lineitem(spark, sf).filter(col("l_quantity") > 30)
      .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(fired(q)))
    sameOnOff(q)
  }

  test("extra cross-member predicate is kept as a filter over the denorm") {
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(fired(q), "extra predicate commutes above the scan"))
    sameOnOff(q)
  }

  test("declines: join on a different key than the recorded one") {
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_partkey") === col("o_custkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(!fired(q), "only the recorded equi-key is absorbable"))
  }

  test("declines: a referenced column the projection does not carry") {
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus")) // not carried by the staged columns
      .agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(!fired(q)))
    sameOnOff(q)
  }

  test("a member's semi-join wrapper re-applies above the scan (q8 shape)") {
    // orders arrives through a broadcast-semi membership chain; the
    // wrapper is a row filter and must commute onto the denorm
    def q = {
      val hot = Tables.customer(spark, sf).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(spark, sf)
        .join(broadcast(hot), col("o_custkey") === col("c_custkey"), "left_semi")
      Tables.lineitem(spark, sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
    }
    withMeta(meta)(assert(fired(q), "semi wrapper must peel"))
    sameOnOff(q)
  }

  test("self semi+anti wrappers on the fact re-apply exactly (q21 shape)") {
    def q = {
      val li = Tables.lineitem(spark, sf)
      val l2 = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
      val l3 = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("l3_orderkey"), col("l_quantity").as("l3_quantity"))
      li.join(l2, col("l_orderkey") === col("l2_orderkey") &&
          col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_orderkey") &&
          col("l3_quantity") > col("l_quantity"), "left_anti")
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    }
    withMeta(meta)(assert(fired(q), "semi+anti wrappers must peel"))
    sameOnOff(q)
  }

  test("semi subsumption is measured-off by default") {
    // dim ⋉ fact is never served from the denorm: subsuming it decodes
    // the dim's columns at fact grain, which measured slower at x200
    // than the plain semi join (PERF.md "Two measured lessons" #2)
    def q = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    // the q4 shape: filtered probe, filtered dim
    def q4 = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .join(Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    // extra predicate conjuncts on the semi condition
    def extraConjunct = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    withMeta(meta)(assert(!fired(q), "default-off per the x200 measurement"))
    for (shape <- Seq(() => q4, () => extraConjunct)) {
      withMeta(meta)(assert(!fired(shape()),
        s"semi joins are not subsumed:\n${shape().queryExecution.optimizedPlan}"))
      sameOnOff(shape())
    }
  }

  test("semi subsumption declines a lossy left dim and anti joins") {
    val lossy = meta.copy(dims = meta.dims.map(d =>
      if (d.table == "orders") d.copy(lossless = false) else d))
    def semi = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    def anti = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"),
        "left_anti")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    def nonFactProbe = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    withMeta(lossy)(assert(!fired(semi), "non-unique dim key cannot subsume"))
    // anti: an order with zero lines has no denorm row to represent it
    withMeta(meta)(assert(!fired(anti), "anti joins are never subsumed"))
    // non-fact probe: an order with zero lines is absent from the
    // denorm, so customer ⋉ orders cannot be served by it
    withMeta(meta)(assert(!fired(nonFactProbe),
      "only the fact's rows are all guaranteed represented"))
    sameOnOff(semi)
    sameOnOff(anti)
    sameOnOff(nonFactProbe)
  }

  test("declines: non-deterministic predicates are never absorbed (round-12)") {
    // a dim-local rand() filter evaluates once per ORDER row in the flat
    // plan; re-applied above the denorm it would evaluate once per LINE
    // row — silently different sampling. Mirror of Catalyst's
    // PushPredicateThroughJoin deterministic guard.
    def dimLocal = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(rand(7) < 0.5),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    // (a non-det predicate ON the join condition is impossible — the
    // analyzer rejects INVALID_NON_DETERMINISTIC_EXPRESSIONS there; and
    // a non-det filter ABOVE/BETWEEN inner joins is hoisted above the
    // whole region by Catalyst's own ReorderJoin before this rule runs,
    // so serving the region below it matches Spark's own semantics —
    // flatten's guard is defense-in-depth for direct plan shapes. The
    // case Spark leaves IN PLACE, and the one ADVICE flagged, is the
    // member-LOCAL non-det filter below the join: it must decline.)
    // a non-det filter interleaved between the star and a further join
    // is hoisted by ReorderJoin; pin that it survives exactly once and
    // is never absorbed into the replacement's filter stack
    def interleaved = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(rand(7) < 0.9)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    withMeta(meta) {
      assert(!fired(dimLocal), "non-det dim-local filter must decline")
      val plan = interleaved.queryExecution.optimizedPlan
      val rands = plan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if !f.condition.deterministic => f
      }
      assert(rands.size === 1, s"the non-det filter must survive in place:\n$plan")
      // deterministic control: the same shapes without rand() fire
      def det = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_orderpriority") =!= "X"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(fired(det), "deterministic filters still absorb")
    }
  }

  test("stageDenorm declines a stored-cents column whose derived name collides (round-12)") {
    val name = "mjspec_collide"
    graft.sources.TabularWriter.clearStale(spark, name)
    // fabricate a base table that carries BOTH x and a real x_cents
    val basePath = java.nio.file.Files.createTempDirectory("mjspec_collide").toString
    sys.addShutdownHook(GateFixtures.deleteRecursively(java.nio.file.Paths.get(basePath)))
    import spark.implicits._
    (1L to 100L).map(i => (i, i % 10 + 0.25, i * 1000L))
      .toDF("k", "x", "x_cents").write.mode("overwrite").parquet(basePath + "/f")
    (0L to 10L).map(i => (i, s"d$i")).toDF("dk", "dv")
      .write.mode("overwrite").parquet(basePath + "/d")
    val fPath = MaterializedJoins.leafPath(spark.read.parquet(basePath + "/f"))
    val dPath = MaterializedJoins.leafPath(spark.read.parquet(basePath + "/d"))
    val spec = LayoutAdvisor.DenormSpec(
      fact = "f", factPath = fPath,
      dims = Seq(LayoutAdvisor.DenormDim("d", dPath, "f", "k", "dk")),
      columns = Seq("k", "x", "x_cents", "dk", "dv"),
      bucketKey = None, buckets = 4, centsCols = Seq("x"), hits = 1)
    val m = MaterializedJoins.stageDenorm(spark, spec, name)
    MaterializedJoins.deregister(spark, name)
    assert(m.cents.isEmpty, "x must be declined — x_cents is a real column")
    // the other two cents stagers share the decline: neither stages
    // cents for x over the same fact
    val derived = name + "_derived"
    val bucketed = name + "_bucketed"
    Seq(derived, bucketed).foreach(graft.sources.TabularWriter.clearStale(spark, _))
    val derivedSpec = LayoutAdvisor.DerivedSpec(
      fPath, "f", Seq("x"), sortCol = None, numFiles = 1, hits = 1)
    val bucketedSpec = LayoutAdvisor.LayoutSpec(
      fPath, "f", "k", 4, Seq("k", "x", "x_cents"), hits = 1)
    LayoutAdvisor.stageDerived(spark, derivedSpec, derived)
    LayoutAdvisor.stageWithDerived(spark, bucketedSpec, Seq("x"), bucketed)
    // re-attached from copies of their files (a fresh JVM's catalog),
    // each layout marks the cents its staging KEPT — none — not the
    // cents its advice asks for
    val reattached = Seq[(String, String => Unit)](
      name -> (p => MaterializedJoins.attachDenorm(spark, spec, name + "_again", p)),
      derived -> (p => LayoutAdvisor.attachDerived(spark, derivedSpec, derived + "_again", p)),
      bucketed -> (p => LayoutAdvisor.attach(spark, bucketedSpec, Seq("x"), bucketed + "_again", p)))
      .map { case (t, attach) =>
        val again = t + "_again"
        if (spark.catalog.tableExists(again)) spark.sql(s"DROP TABLE `$again`")
        attach(copyAside(t).toString)
        MaterializedJoins.deregister(spark, again)
        again
      }
    for (t <- Seq(name, derived, bucketed) ++ reattached) {
      val props = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).properties
      assert(!props.contains(graft.plans.RewriteStoredCents.Property),
        s"$t: x must be declined — x_cents is a real column: $props")
      // the REAL x_cents values survive untouched
      val served = spark.table(t).select(col("k"), col("x_cents"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(served(5L) === 5000L, s"$t: real x_cents must not be overwritten: $served")
      // and the money idiom over x computes from x itself
      val idiom = spark.table(t).filter(col("k") === 5L)
        .select(round(col("x") * 100).cast("long")).head().getLong(0)
      assert(idiom === 525L, s"$t: cast(round(x*100) as bigint) must read x, not x_cents")
    }
  }

  test("a non-member table re-joins above the rewritten scan") {
    def q = starJoin
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey")).agg(sum(col("l_quantity")).as("q"))
    withMeta(meta)(assert(fired(q), "supplier stays a separate join"))
    sameOnOff(q)
  }

  test("money idioms above the rewritten join read the stored cents") {
    val cents = (c: String) => round(col(c) * 100).cast("long")
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("rev_e4"))
    withMeta(meta) {
      assert(fired(q))
      val plan = q.queryExecution.optimizedPlan
      val readsCents = plan.expressions.exists(_.exists {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name == "l_extendedprice_cents"
        case _ => false
      }) || plan.collect { case n => n.expressions }.flatten.exists(_.exists {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name == "l_extendedprice_cents"
        case _ => false
      })
      assert(readsCents, s"stored cents must serve the idiom:\n$plan")
    }
    sameOnOff(q)
  }

  test("per-bucket-key aggregate over the rewritten join plans exchange-free") {
    def q = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    withMeta(meta) {
      assert(fired(q))
      val exec = q.queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange hashpartitioning(l_orderkey"),
        s"the bucket key must keep the aggregate co-located:\n$exec")
    }
  }

  test("adviseDenormalized derives the star from the corpus join graph") {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val corpus = Seq(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")),
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
    val specs = LayoutAdvisor.adviseDenormalized(corpus,
      minHits = 1, minDimBytes = 0L)
    assert(specs.size === 1)
    val s0 = specs.head
    assert(s0.fact === "lineitem")
    assert(s0.dims.map(d => (d.table, d.parentTable, d.parentKey, d.dimKey)) ===
      Seq(("orders", "lineitem", "l_orderkey", "o_orderkey"),
        ("customer", "orders", "o_custkey", "c_custkey")))
    assert(s0.bucketKey.contains("l_orderkey"),
      s"join-connected grouping key must win: $s0")
    assert(Set("l_quantity", "o_orderpriority", "c_mktsegment", "l_orderkey",
      "o_orderkey", "o_custkey", "c_custkey").subsetOf(s0.columns.toSet), s"$s0")
  }

  test("freshness: base drift after staging declines the rewrite and refuses attach (round-12)") {
    import spark.implicits._
    // private base copies so the append cannot disturb other suites
    val dir = java.nio.file.Files.createTempDirectory("mjspec_fresh")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    val fDir = dir.resolve("fact").toString
    val dDir = dir.resolve("dim").toString
    (1L to 400L).map(i => (i, i % 40 + 1, i * 3)).toDF("fk", "dk_ref", "v")
      .write.parquet(fDir)
    (1L to 40L).map(i => (i, s"d$i")).toDF("dk", "dv").write.parquet(dDir)
    val fPath = MaterializedJoins.leafPath(spark.read.parquet(fDir))
    val dPath = MaterializedJoins.leafPath(spark.read.parquet(dDir))
    val spec = LayoutAdvisor.DenormSpec(
      fact = "fact", factPath = fPath,
      dims = Seq(LayoutAdvisor.DenormDim("dim", dPath, "fact", "dk_ref", "dk")),
      columns = Seq("fk", "dk_ref", "v", "dk", "dv"),
      bucketKey = Some("fk"), buckets = 4, centsCols = Nil, hits = 1)
    val name = "mjspec_fresh"
    graft.sources.TabularWriter.clearStale(spark, name)
    val m = MaterializedJoins.stageDenorm(spark, spec, name)
    assert(m.fingerprints.keySet === Set(fPath, dPath),
      s"stage must fingerprint every member: ${m.fingerprints}")
    def q = spark.read.parquet(fDir)
      .join(spark.read.parquet(dDir), col("dk_ref") === col("dk"))
      .groupBy(col("dv")).agg(sum(col("v")).as("s"))
    MaterializedJoins.register(spark, m)
    try {
      assert(MaterializedJoins.fired(q, name), "fresh bases must serve")
      // grow the FACT — staged rows are now a strict subset
      (401L to 500L).map(i => (i, i % 40 + 1, i * 3)).toDF("fk", "dk_ref", "v")
        .write.mode("append").parquet(fDir)
      spark.catalog.refreshByPath(fDir)
      val drifted = q
      assert(!MaterializedJoins.fired(drifted, name),
        s"drifted fact must decline:\n${drifted.queryExecution.optimizedPlan}")
      // the flat (correct, 500-row-based) result flows either way
      val served = drifted.collect().map(_.toSeq).sortBy(_.mkString("|"))
      MaterializedJoins.deregister(spark, name)
      assert(served === q.collect().map(_.toSeq).sortBy(_.mkString("|")))
      // attach over the drifted base must refuse loudly (the audits
      // recorded in the sidecar no longer describe these files)
      intercept[IllegalArgumentException] {
        MaterializedJoins.attachDenorm(spark, spec, name + "2",
          java.nio.file.Paths.get(graft.plans.TableStats.warehouseOf(spark), name).toString)
      }
    } finally MaterializedJoins.deregister(spark, name)
  }

  test("attachDenorm restores the registration from the sidecar") {
    val name = "mjspec_attach"
    val spec = LayoutAdvisor.DenormSpec(
      fact = "lineitem", factPath = liPath,
      dims = Seq(LayoutAdvisor.DenormDim(
        "orders", oPath, "lineitem", "l_orderkey", "o_orderkey")),
      columns = Seq("l_orderkey", "l_quantity", "o_orderkey", "o_orderpriority"),
      bucketKey = Some("l_orderkey"), buckets = 4, centsCols = Nil, hits = 1)
    graft.sources.TabularWriter.clearStale(spark, name)
    val staged = MaterializedJoins.stageDenorm(spark, spec, name)
    MaterializedJoins.deregister(spark, name)
    // a fresh JVM = empty catalog, files intact: copy the staged files
    // aside (DROP TABLE on a managed table would delete them) and
    // re-attach from the copy under a new name
    val aside = copyAside(name)
    if (spark.catalog.tableExists(name + "2")) spark.sql(s"DROP TABLE `${name}2`")
    // a corrupt record (a dropped line, a mangled dim line) fails with
    // the same re-stage diagnostic as the other validations; restoring
    // the record restores attach
    val sidecar = aside.resolve(graft.plans.Freshness.RecordFile)
    val saved = new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8")
    try {
      val lines = saved.split("\n").toSeq
      for (junk <- Seq(lines.filterNot(_.startsWith("finite\t")),
          lines.map(l => if (l.startsWith("dim\t")) "dim\torders\tl_orderkey" else l))) {
        java.nio.file.Files.write(sidecar, junk.mkString("", "\n", "\n").getBytes("UTF-8"))
        // written behind Hadoop's back: drop the .crc the local FS would check
        java.nio.file.Files.deleteIfExists(sidecar.resolveSibling(s".${sidecar.getFileName}.crc"))
        val e = intercept[IllegalArgumentException] {
          MaterializedJoins.attachDenorm(spark, spec, name + "2", aside.toString)
        }
        assert(e.getMessage.contains("re-stage"), e.getMessage)
        assert(!spark.catalog.tableExists(name + "2"))
      }
    } finally java.nio.file.Files.write(sidecar, saved.getBytes("UTF-8"))
    val attached = MaterializedJoins.attachDenorm(
      spark, spec, name + "2", aside.toString)
    MaterializedJoins.deregister(spark, name + "2")
    assert(attached === staged.copy(catalogTable = name + "2"))
    // drifted spec must refuse
    val drifted = spec.copy(dims = spec.dims.map(_.copy(parentKey = "l_partkey")))
    if (spark.catalog.tableExists(name + "3")) spark.sql(s"DROP TABLE `${name}3`")
    intercept[IllegalArgumentException] {
      MaterializedJoins.attachDenorm(spark, drifted, name + "3", aside.toString)
    }
  }
}
