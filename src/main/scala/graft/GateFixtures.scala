package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import graft.gates.Shared.cents

/** One-time staging of derived gate fixtures (ORC/compressed/nested
  * copies of the test tables). Gate queries are (SparkSession, dir) =>
  * DataFrame functions invoked repeatedly — by Verify, by every Bench
  * iteration, by specs — and writing the fixture inside the query would
  * bill the staging write to every invocation and leak one temp dir per
  * call. Fixtures are memoized per (kind, source data dir) and removed
  * by a JVM shutdown hook.
  */
private[graft] object GateFixtures {
  /** JVM-wide: fixture dirs are plain files outside any catalog, so
    * every session on any context reads them. */
  private val staged = new ConcurrentHashMap[String, String]()

  /** Returns the fixture directory for `kind` over `dataDir`, invoking
    * `write(targetDir)` only on first use per JVM. */
  def dir(kind: String, dataDir: String)(write: String => Unit): String =
    staged.computeIfAbsent(s"$kind|$dataDir", { _ =>
      val root = Files.createTempDirectory(s"graft_${kind}_gate")
      sys.addShutdownHook(deleteRecursively(root))
      val target = root.resolve("data").toString
      write(target)
      target
    })

  /** Order-key-bucketed catalog tables — the persistent co-located
    * layout the bucketed gates read (PERF.md round-8: the exchange-free
    * answer to the per-order aggregate/join class). Staged once per
    * (session catalog, data dir); the warehouse dir outlives the JVM
    * but the in-memory catalog doesn't, so [[bucketedTable]] clears
    * stale locations before CREATE. The bf_ prefix avoids colliding
    * with join_bucketed_colocated's own b_orders$tag table (bucketed on
    * o_custkey — reusing it here would silently lose the o_orderkey
    * distribution). */
  def bucketedLineitem(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "bf_lineitem") { name =>
      import org.apache.spark.sql.functions.col
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_linestatus"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable(name)
    }

  /** Sort-bucketed lineitem (one file per bucket, sorted by the order
    * key inside it) — the layout that upgrades the exchange-free
    * per-key rollup from a 30M-entry hash table to a STREAMING
    * SortAggregate (one group's state at a time; x200 2.4→1.6 s,
    * PERF.md round-9). Staged through the product API
    * (TabularWriter.toBucketedTable) so the gate exercises the code
    * path users call. */
  def bucketedLineitemSorted(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "bs_lineitem") { name =>
      import org.apache.spark.sql.functions.col
      graft.sources.TabularWriter.toBucketedTable(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        name, "l_orderkey", buckets = 8, sorted = true)
    }

  /** Advisor-produced layout: LayoutAdvisor reads a two-query corpus
    * (per-order rollup + line⋈order join — the q18/q21 class), derives
    * (table=lineitem, key=l_orderkey, pruned column union, buckets)
    * itself, and stages through its own stage() → toBucketedTable
    * (sorted). The gate that reads this table proves the advised
    * layout end-to-end: values against the DuckDB oracle, plan shape
    * (streaming SortAggregate, zero Exchange) in PlanShapeSpec. The
    * require pins the advice itself — if the advisor ever stops
    * picking the order key off this corpus, the gate errors rather
    * than silently staging something else. */
  def advisorLineitem(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "adv_lineitem") { name =>
      import org.apache.spark.sql.functions.{col, sum}
      val li = Tables.lineitem(s, d)
      val corpus = Seq(
        li.groupBy(col("l_orderkey")).agg(sum(col("l_extendedprice")).as("p")),
        li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")))
      val top = graft.plans.LayoutAdvisor.advise(corpus).head
      require(top.table == "lineitem" && top.key == "l_orderkey",
        s"advisor picked unexpected layout: $top")
      graft.plans.LayoutAdvisor.stage(s, top, name)
    }

  /** Advisor-produced PAIR: advise() over a corpus whose join connects
    * lineitem and orders on the order key, then stage BOTH specs —
    * the bucket counts are aligned by the advisor's join-alignment
    * class (AdvisorSpec), so the co-located join plans exchange-free.
    * Returns (lineitemTable, ordersTable). */
  def advisorPair(s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // each TABLE goes through its own bucketedTable call so each gets
    // the exists-check AND the stale warehouse-location cleanup (the
    // warehouse dir outlives the JVM; staging both tables inside one
    // closure left the second one's location undeleted in a fresh JVM
    // → LOCATION_ALREADY_EXISTS). lazy val: the corpus analysis runs
    // at most ONCE — both staging closures read the SAME advice, so a
    // partial previous run (one table already in the catalog) can
    // never stage the second table from a re-derivation against
    // different catalog state
    lazy val specs = {
      val li = Tables.lineitem(s, d)
      val corpus = Seq(
        li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n")))
      val ss = graft.plans.LayoutAdvisor.advise(corpus)
      val liSpec = ss.find(_.table == "lineitem").get
      val orSpec = ss.find(_.table == "orders").get
      require(liSpec.key == "l_orderkey" && orSpec.key == "o_orderkey" &&
        liSpec.buckets == orSpec.buckets,
        s"advisor pair misaligned: $liSpec / $orSpec")
      (liSpec, orSpec)
    }
    val lt = bucketedTable(s, d, "advp_lineitem") { name =>
      graft.plans.LayoutAdvisor.stage(s, specs._1, name)
    }
    val ot = bucketedTable(s, d, "advp_orders") { name =>
      graft.plans.LayoutAdvisor.stage(s, specs._2, name)
    }
    (lt, ot)
  }

  /** The full bucketed-layout LIFECYCLE in one fixture: create sorted
    * layout from part of the fact table → appendToBucketedTable the
    * rest (co-location survives, streaming breaks — multi-file buckets)
    * → compactBuckets (one sorted file per bucket again). The gate that
    * reads this table checks values against the whole-table DuckDB
    * oracle — appended rows lost, duplicated or mis-bucketed would all
    * hash-fail — and BucketingSpec pins the plan shape at each stage. */
  def appendCompactLineitem(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "ac_lineitem") { name =>
      import org.apache.spark.sql.functions.col
      val li = Tables.lineitem(s, d)
      graft.sources.TabularWriter.toBucketedTable(
        li.where(col("l_linenumber") =!= 1).select(col("l_orderkey"), col("l_quantity")),
        name, "l_orderkey", buckets = 8, sorted = true)
      graft.sources.TabularWriter.appendToBucketedTable(
        li.where(col("l_linenumber") === 1).select(col("l_orderkey"), col("l_quantity")),
        name)
      graft.sources.TabularWriter.compactBuckets(s, name)
    }

  /** The STREAMING-ingest lifecycle: a sorted bucketed table created
    * from part of the fact table, the rest ARRIVING as a file stream
    * appended micro-batch-by-micro-batch through
    * StreamingLayout.intoBucketedTable (idempotent per batch id), with
    * the final batch triggering compactBuckets so the table ends back
    * at one sorted file per bucket. The gate's per-order rollup over
    * the post-ingest table must equal the whole-table oracle — a
    * batch lost, replayed-and-duplicated, or mis-bucketed hash-fails —
    * and BucketingSpec drives the replay + plan assertions directly. */
  def streamIngestLineitem(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "si_lineitem") { name =>
      import org.apache.spark.sql.functions.col
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
      graft.sources.TabularWriter.toBucketedTable(
        li.where(col("l_orderkey") % 3 =!= 0), name, "l_orderkey",
        buckets = 8, sorted = true)
      val root = Files.createTempDirectory("graft_si_stream")
      sys.addShutdownHook(deleteRecursively(root))
      val srcDir = root.resolve("src").toString
      li.where(col("l_orderkey") % 3 === 0).repartition(2)
        .write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(graft.sources.FileSchemas.read(s, Seq(srcDir)).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.StreamingLayout.intoBucketedTable(
        stream, name, root.resolve("commits").toString,
        root.resolve("ckpt").toString, compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
    }

  /** PROJECTION ROUTING end-to-end: adviseProjections derives TWO
    * orders projections from a two-class corpus (per-custkey
    * aggregates; a per-orderkey join), both are staged, and
    * LayoutAdvisor.routeAll picks the projection for the GATE's own query
    * — a per-custkey rollup, which must route to the custkey
    * projection. The REQUIRE pins the routing decision itself (either
    * projection would return correct rows — what the oracle checks is
    * the data, what the require checks is the router); returns the
    * routed catalog table for the gate to read. */
  def routedProjection(s: org.apache.spark.sql.SparkSession, d: String): String = {
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    lazy val specs = {
      val or = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val corpus = Seq(
        or.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("sp")),
        or.groupBy(col("o_custkey")).agg(count(lit(1)).as("n")),
        li.join(or, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
      val ss = graft.plans.LayoutAdvisor.adviseProjections(corpus, perTable = 2)
        .filter(_.table == "orders")
      require(ss.map(_.key).toSet == Set("o_custkey", "o_orderkey"),
        s"routedProjection: expected both hot keys, got $ss")
      ss
    }
    val staged = specs.map { sp =>
      val base = if (sp.key == "o_custkey") "routp_orders_ck" else "routp_orders_ok"
      sp -> bucketedTable(s, d, base) { name =>
        graft.plans.LayoutAdvisor.stage(s, sp, name)
      }
    }
    val gateQuery = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rp_price_cents"))
    val routes = graft.plans.LayoutAdvisor.routeAll(gateQuery,
      staged.map { case (sp, c) => graft.plans.LayoutAdvisor.Projection.bucketed(sp, c) })
    val ck = staged.find(_._1.key == "o_custkey").get._2
    require(routes.get("orders").contains(ck),
      s"routedProjection: the per-custkey query must route to the custkey " +
        s"projection, got $routes")
    ck
  }

  /** Advisor-chosen SORTED layout (the predicate half of layout
    * selection): adviseSorted reads a range-filter corpus, picks
    * (orders, o_orderdate) itself, and stageSorted writes the
    * range-clustered narrow projection. The gate's date-banded rollup
    * over this layout must match the whole-orders DuckDB oracle (rows
    * clustered into the wrong file would still be read — but rows LOST
    * or duplicated by the rewrite hash-fail), and AdvisorSpec asserts
    * the pruning property (a narrow range touches strictly fewer
    * files). The require pins the advice: if the advisor stops picking
    * the date column off this corpus the gate errors loudly. */
  def advisorSortedOrders(s: org.apache.spark.sql.SparkSession, d: String): String =
    dir("advsorted_orders", d) { target =>
      import org.apache.spark.sql.functions.{col, count, lit, round, sum}
      val o = Tables.orders(s, d)
      val corpus = Seq(
        o.where(col("o_orderdate") >= lit("1998-01-01"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v")),
        o.where(col("o_orderdate").between(lit("1996-01-01"), lit("1996-12-31")))
          .agg(count(lit(1)).as("n")))
      val top = graft.plans.LayoutAdvisor.adviseSorted(corpus).head
      require(top.table == "orders" && top.sortCols == Seq("o_orderdate"),
        s"advisor picked unexpected sorted layout: $top")
      graft.plans.LayoutAdvisor.stageSorted(s, top, target)
    }

  /** Advisor-chosen DERIVED-COLUMN projection: adviseDerivedCents reads
    * the q1/q14-shaped money arithmetic off the corpus plans, picks
    * (lineitem, {l_discount, l_extendedprice, l_quantity} cents,
    * l_shipdate clustering) itself, and stageDerived writes the
    * projection + sets the RewriteStoredCents table property. The gate
    * keeps its round(x*100) arithmetic VERBATIM — the optimizer rule
    * swaps in the stored longs, pruning drops the doubles from the scan
    * (AdvisorSpec asserts both), and the values must equal the
    * whole-table oracle computed from the raw doubles. */
  def derivedCentsLineitem(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "dc_lineitem") { name =>
      import org.apache.spark.sql.functions.{broadcast, col, lit, sum, when}
      import org.apache.spark.sql.types.{DoubleType, TimestampType}
      val li = Tables.lineitem(s, d)
      val revE4 = cents("l_extendedprice") * (lit(100L) - cents("l_discount"))
      val corpus = Seq(
        li.filter(col("l_shipdate") <= lit("1998-09-01").cast(TimestampType))
          .groupBy(col("l_returnflag"))
          .agg(sum(cents("l_quantity")).as("q")),
        li.join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .agg((sum(when(col("p_type") === "PROMO", revE4).otherwise(lit(0L)))
            .cast(DoubleType) / 10000.0).as("p")))
      val specs = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
      val top = specs.find(_.table == "lineitem").getOrElse(
        sys.error(s"advisor found no lineitem derived spec: $specs"))
      require(Set("l_quantity", "l_extendedprice", "l_discount")
        .subsetOf(top.sourceCols.toSet) && top.sortCol.contains("l_shipdate"),
        s"advisor picked unexpected derived spec: $top")
      graft.plans.LayoutAdvisor.stageDerived(s, top, name)
    }

  /** CROSS-KIND projection routing end-to-end (the round-10 router
    * scored BUCKETED projections only, which left the decode-constant
    * class q6/q14/q15 on a bucketed table while its proven ≤1.6× answer
    * — the shipdate-clustered stored-cents projection — sat unstaged):
    * the candidate set holds BOTH a bucketed lineitem projection (the
    * per-orderkey join class) and the adviseDerivedCents clustered
    * cents projection, and routeAll must send the gate's q15-shaped
    * query (money idioms + a shipdate range filter, no shuffling
    * per-key operator) to the CENTS projection — while the join-shaped
    * query goes to the BUCKETED one when its join would shuffle, and
    * goes UNROUTED when the join broadcasts (no exchange exists for a
    * bucket to remove). All three REQUIREs pin the router; the gate's
    * oracle pins the data. Returns the cents catalog table. */
  def routedCentsLineitem(s: org.apache.spark.sql.SparkSession, d: String): String = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import org.apache.spark.sql.types.{DoubleType, TimestampType}
    val ts = (x: String) => lit(x).cast(TimestampType)
    def q15ish = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .cast(DoubleType) / 10000.0).as("r"))
    def joinish = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    lazy val picks = {
      val corpus = Seq(q15ish, joinish)
      val bspec = graft.plans.LayoutAdvisor.adviseProjections(corpus, perTable = 1)
        .find(_.table == "lineitem").getOrElse(sys.error("no lineitem projection advised"))
      require(bspec.key == "l_orderkey",
        s"routedCents: expected the join key projection, got $bspec")
      val dspec = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
        .find(_.table == "lineitem").getOrElse(sys.error("no lineitem cents spec advised"))
      require(Set("l_extendedprice", "l_discount").subsetOf(dspec.sourceCols.toSet) &&
        dspec.sortCol.contains("l_shipdate"),
        s"routedCents: unexpected derived spec $dspec")
      (bspec, dspec)
    }
    val bt = bucketedTable(s, d, "rc_li_ok") { name =>
      graft.plans.LayoutAdvisor.stage(s, picks._1, name)
    }
    val dt = bucketedTable(s, d, "rc_li_cents") { name =>
      graft.plans.LayoutAdvisor.stageDerived(s, picks._2, name)
    }
    val cands = Seq(
      graft.plans.LayoutAdvisor.Projection.bucketed(picks._1, bt),
      graft.plans.LayoutAdvisor.Projection.derived(picks._2, dt))
    val routed = graft.plans.LayoutAdvisor.routeAll(q15ish, cands)
    require(routed.get("lineitem").contains(dt),
      s"routedCents: the money/range query must route to the cents projection, got $routed")
    // the join class routes to the bucketed projection exactly when the
    // join would shuffle; a broadcastable side means no redirect at all
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val saved = s.conf.get(thr)
    try {
      s.conf.set(thr, "-1")
      val shuffling = graft.plans.LayoutAdvisor.routeAll(joinish, cands)
      require(shuffling.get("lineitem").contains(bt),
        s"routedCents: the shuffling join must route to the bucketed projection, got $shuffling")
    } finally s.conf.set(thr, saved)
    val broadcasting = graft.plans.LayoutAdvisor.routeAll(joinish, cands)
    require(!broadcasting.contains("lineitem"),
      s"routedCents: a broadcast join has no exchange to remove — no redirect, got $broadcasting")
    dt
  }

  /** MATERIALIZED JOIN star, advised end-to-end: adviseDenormalized
    * reads a three-query corpus (the q18/q10/q12 classes), derives the
    * lineitem⋈orders⋈customer star itself — REQUIREs pin the fact, the
    * dim chain and the bucket key — and stageDenorm writes the
    * pre-joined projection with audited lossless dims and stored cents.
    * Memoized per (catalog, dir) like every bucketed fixture; the
    * returned Meta is registered per GATE QUERY via
    * MaterializedJoins.withRegistered (a lasting registration would
    * silently rewrite every other gate over these base paths). */
  def denormStar(s: org.apache.spark.sql.SparkSession, d: String)
      : graft.plans.MaterializedJoins.Meta = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    lazy val spec = {
      val corpus = Seq(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .as("rev_e4")),
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === "BUILDING")
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")))
      val specs = graft.plans.LayoutAdvisor.adviseDenormalized(
        corpus, minHits = 1, minDimBytes = 0L)
      require(specs.size == 1, s"denormStar: expected one advice, got $specs")
      val top = specs.head
      require(top.fact == "lineitem" &&
        top.dims.map(dd => (dd.table, dd.parentKey, dd.dimKey)) ==
          Seq(("orders", "l_orderkey", "o_orderkey"),
            ("customer", "o_custkey", "c_custkey")) &&
        top.bucketKey.contains("l_orderkey") &&
        Set("l_extendedprice", "l_discount").subsetOf(top.centsCols.toSet),
        s"denormStar: advisor picked unexpected star: $top")
      top
    }
    val name = bucketedTable(s, d, "dn_star") { n =>
      graft.plans.MaterializedJoins.stageDenorm(s, spec, n)
      graft.plans.MaterializedJoins.deregister(s, n) // gates scope their own
    }
    // the layout record is the Meta's durable form — works for both the
    // fresh staging above and the memoized same-JVM re-entry
    graft.plans.MaterializedJoins.recorded(name, warehousePath(s, name))
  }

  /** MATERIALIZED AGGREGATE rollup for the layout_agg_* gates (round-12
    * product path): adviseAggRollups reads a two-query corpus (the
    * q18-shaped per-order multi-aggregate and the q4-shaped EXISTS
    * probe), derives the per-orderkey rollup itself — REQUIREs pin the
    * fact, the key and the conditional count — and stageRollup writes
    * it bucketed+sorted with the base fingerprint. Memoized per
    * (catalog, dir); the returned Meta is registered per GATE QUERY via
    * MaterializedAggs.withRegistered. */
  def aggRollup(s: org.apache.spark.sql.SparkSession, d: String)
      : graft.plans.MaterializedAggs.Meta = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    lazy val spec = {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val corpus = Seq(
        li.groupBy(col("l_orderkey").as("ar_orderkey"))
          .agg(sum(cents("l_quantity")).as("ar_qty_cents"),
            count(lit(1)).as("ar_lines")),
        o.join(li.filter(col("l_returnflag") === "R").select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
      val specs = graft.plans.LayoutAdvisor.adviseAggRollups(corpus, minHits = 1)
      val onKey = specs.filter(sp => sp.fact == "lineitem" && sp.keys == Seq("l_orderkey"))
      require(onKey.size == 1 && onKey.head.measures.size >= 3 &&
        onKey.head.measures.exists(_.cond.isDefined),
        s"aggRollup: advisor picked unexpected rollup: $specs")
      onKey.head
    }
    val name = bucketedTable(s, d, "ar_rollup") { n =>
      graft.plans.MaterializedAggs.stageRollup(s, spec, n)
      graft.plans.MaterializedAggs.deregister(s, n) // gates scope their own
    }
    graft.plans.MaterializedAggs.recorded(name, warehousePath(s, name))
  }

  /** COMPOSITE-KEY rollups for the layout_agg_reagg/filtergrain gates
    * (round-12b product path): adviseAggRollups reads a q1-shaped and a
    * q6-shaped query and folds each query's FILTER columns into the
    * rollup key (grouping columns first, predicate columns appended) —
    * so at rewrite time every predicate is key-only and the query
    * re-aggregates the stored decomposable partials at its own coarser
    * grain. REQUIREs pin the advised key sets. */
  def aggReagg(s: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.MaterializedAggs.Meta] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    lazy val specs = {
      val li = Tables.lineitem(s, d)
      val corpus = Seq(
        // the folded filter column is l_discount (11 distinct at every
        // SF): the NDV-product guard proves reduction at ANY scale; a
        // shipdate bound is the same mechanism but its NDV ~= rows at
        // toy SF, where the guard rightly declines
        li.filter(col("l_discount") <= 0.04)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(cents("l_extendedprice")).as("b"), count(lit(1)).as("n")),
        li.filter(col("l_discount").between(0.02, 0.04) && col("l_quantity") < 20)
          .agg(sum(cents("l_extendedprice") * cents("l_discount")).as("r"),
            count(lit(1)).as("n")))
      val out = graft.plans.LayoutAdvisor.adviseAggRollups(corpus, minHits = 1)
      require(out.exists(_.keys == Seq("l_returnflag", "l_linestatus", "l_discount")) &&
        out.exists(_.keys == Seq("l_discount", "l_quantity")),
        s"aggReagg: advisor picked unexpected composite keys: $out")
      out
    }
    val wanted = Seq(
      "ar_reagg1" -> Seq("l_returnflag", "l_linestatus", "l_discount"),
      "ar_reagg6" -> Seq("l_discount", "l_quantity"))
    wanted.map { case (base, keys) =>
      val name = bucketedTable(s, d, base) { n =>
        graft.plans.MaterializedAggs.stageRollup(s,
          specs.find(_.keys == keys).get, n)
        graft.plans.MaterializedAggs.deregister(s, n) // gates scope their own
      }
      graft.plans.MaterializedAggs.recorded(name, warehousePath(s, name))
    }
  }

  def bucketedOrders(s: org.apache.spark.sql.SparkSession, d: String): String =
    bucketedTable(s, d, "bf_orders") { name =>
      import org.apache.spark.sql.functions.col
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable(name)
    }

  /** Catalog table `base` + the data dir's tag, created by `write` on
    * first use per (session catalog, data dir) — after clearing any
    * location a previous JVM left at that name
    * ([[graft.sources.TabularWriter.clearStale]]). */
  private[graft] def bucketedTable(s: org.apache.spark.sql.SparkSession, d: String,
      base: String)(write: String => Unit): String = {
    val name = base + d.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(name)) {
      graft.sources.TabularWriter.clearStale(s, name)
      write(name)
    }
    name
  }

  /** Where catalog table `name`'s files live in the warehouse. */
  private def warehousePath(s: org.apache.spark.sql.SparkSession, name: String): String =
    java.nio.file.Paths.get(graft.plans.TableStats.warehouseOf(s), name).toString

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
