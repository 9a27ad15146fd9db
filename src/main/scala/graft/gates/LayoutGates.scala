package graft
package gates

import graft.operators.Partitioners
import graft.sources.FileSchemas
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Layout gates: partitioning, bucketed tables, and the staged
  * layouts (sorted, derived cents, projections, materialized joins and
  * rollups) whose plan rewrites must keep the raw-table answer. */
object LayoutGates {

  val gates: Seq[Gate] = Seq(
    // ---- partition / exchange (reference §2.5) -------------------------
    Gate("partition_modulo_shards", { (s, d) =>
      Tables.events(s, d)
        .groupBy(Partitioners.shardId(col("user_id"), 8).as("shard"))
        .agg(count(lit(1)).as("n"))
    }, "SELECT user_id % 8 AS shard, COUNT(*) AS n FROM events GROUP BY shard"),
    Gate("partition_dual_modulo", { (s, d) =>
      val (node, dev) = Partitioners.dualModuloShard(col("user_id"), 4, 2)
      Tables.events(s, d)
        .groupBy(node.as("node"), dev.as("dev"))
        .agg(count(lit(1)).as("n"))
    }, """SELECT (user_id % 8) % 4 AS node, (user_id % 8) // 4 AS dev, COUNT(*) AS n
         |FROM events GROUP BY node, dev""".stripMargin),
    Gate("shuffle_batch_permutation", { (s, d) =>
      // seeded shuffle must be a permutation of the input rows
      Partitioners.shuffleRows(Tables.events(s, d), seed = 42L)
        .select(col("event_id"))
    }, "SELECT event_id FROM events"),
    Gate("even_splits_count", { (s, d) =>
      Partitioners.evenSplits(Tables.events(s, d), 7).agg(count(lit(1)).as("n"))
    }, "SELECT COUNT(*) AS n FROM events"),
    // ---- bucketed co-located join (persistent partition_by_modulo) -----
    Gate("join_bucketed_colocated", { (s, d) =>
      // both sides pre-shuffled into 8 buckets on the join key at WRITE
      // time, so the repeated join plans with no exchange (BucketingSpec
      // asserts the plan shape) — the durable co-location answer at
      // 100 TB. Tables staged once per (session, data dir).
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val (ot, ct) = (s"b_orders$tag", s"b_customer$tag")
      if (!s.catalog.tableExists(ot)) {
        // the warehouse dir outlives the JVM but the in-memory catalog
        // doesn't: clear any stale location or saveAsTable refuses CREATE
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        Seq(ot, ct).foreach(t =>
          GateFixtures.deleteRecursively(java.nio.file.Paths.get(wh, t)))
        Tables.orders(s, d).write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
        Tables.customer(s, d).write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      }
      s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"))
    }, """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),
    Gate("agg_bucketed_pergroup", { (s, d) =>
      // the layout answer to the spread high-cardinality aggregate
      // (q18/q21's named blocker — PERF.md): lineitem pre-bucketed on
      // l_orderkey at WRITE time, so the per-order rollup plans with NO
      // exchange at all — reduction happens where the key already
      // lives, the durable 100 TB form of Aggregates.byShuffledKey
      // (reference analog: the id-partitioned embedding layout,
      // embedding/sharding.py:168-205). PlanShapeSpec asserts the
      // exchange-free plan; this gates the values. Measured at x200:
      // 11.7 s plain / 7.8 s shuffle-first / 3.8 s bucketed (PERF.md).
      s.table(GateFixtures.bucketedLineitem(s, d))
        .groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("b_qty_cents"))
        .filter(col("b_qty_cents") > 150L * 100)
        .select(col("b_orderkey"), col("b_qty_cents"))
    }, """SELECT l_orderkey AS b_orderkey,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS b_qty_cents
         |FROM lineitem GROUP BY 1 HAVING b_qty_cents > 15000""".stripMargin),
    Gate("agg_bucketed_sortstream", { (s, d) =>
      // the STREAMING upgrade of agg_bucketed_pergroup: lineitem
      // bucketed AND sorted on l_orderkey at write time, one file per
      // bucket (TabularWriter.toBucketedTable sorted=true), so the
      // per-order rollup plans as a complete-mode SortAggregate
      // straight over the scan — no exchange, no sort, and ONE group's
      // state at a time instead of a groups-sized hash table (the
      // reference's streaming per-shard reduction,
      // embedding/sharding.py:186-195). PlanShapeSpec asserts
      // SortAggregate + zero Exchange; x200: 2.4→1.6 s (PERF.md r9).
      s.table(GateFixtures.bucketedLineitemSorted(s, d))
        .groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("b_qty_cents"))
        .filter(col("b_qty_cents") > 150L * 100)
        .select(col("b_orderkey"), col("b_qty_cents"))
    }, """SELECT l_orderkey AS b_orderkey,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS b_qty_cents
         |FROM lineitem GROUP BY 1 HAVING b_qty_cents > 15000""".stripMargin),
    Gate("layout_advisor_agg", { (s, d) =>
      // layout selection as product, not hand-staging: the
      // LayoutAdvisor derives (lineitem, l_orderkey, pruned columns,
      // buckets) from a two-query corpus and stages it itself
      // (GateFixtures.advisorLineitem); this per-order revenue rollup
      // then reads ONLY advisor-carried columns off the advised table
      // — a column outside the advice would fail analysis loudly, the
      // enforced form of r8's "carry only what the query class needs".
      // PlanShapeSpec asserts the streaming exchange-free plan.
      s.table(GateFixtures.advisorLineitem(s, d))
        .groupBy(col("l_orderkey").as("a_orderkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("a_price_cents"))
        .filter(col("a_price_cents") > 30000L * 100)
        .select(col("a_orderkey"), col("a_price_cents"))
    }, """SELECT l_orderkey AS a_orderkey,
         |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS a_price_cents
         |FROM lineitem GROUP BY 1 HAVING a_price_cents > 3000000""".stripMargin),
    Gate("layout_advisor_join", { (s, d) =>
      // the advisor's JOIN-alignment productized end-to-end: both fact
      // tables staged by LayoutAdvisor from one corpus, bucket counts
      // aligned by its union-find class (lineitem's size-derived count
      // would otherwise differ from orders' and silently re-shuffle a
      // side), so the co-located per-priority rollup joins with no
      // exchange below the join (PlanShapeSpec).
      val (lt, ot) = GateFixtures.advisorPair(s, d)
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }, """SELECT o_orderpriority,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("layout_routed_projection", { (s, d) =>
      // PROJECTION ROUTING as product: adviseProjections stages one
      // projection per hot key of orders (custkey aggregates vs
      // orderkey joins — the single-layout trade PERF.md round-10
      // measured), and LayoutAdvisor.route picks per QUERY; the fixture
      // REQUIREs this per-custkey rollup routed to the custkey
      // projection, and the oracle checks its rows against whole-table
      // orders — a projection that lost/duplicated rows hash-fails.
      s.table(GateFixtures.routedProjection(s, d))
        .groupBy(col("o_custkey").as("rp_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rp_price_cents"))
        .filter(col("rp_price_cents") > 2000000L * 100)
        .select(col("rp_custkey"), col("rp_price_cents"))
    }, """SELECT o_custkey AS rp_custkey,
         |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rp_price_cents
         |FROM orders GROUP BY 1 HAVING rp_price_cents > 200000000""".stripMargin),
    Gate("layout_routed_cents", { (s, d) =>
      // CROSS-KIND routing as product: the candidate set holds a
      // bucketed projection AND the shipdate-clustered stored-cents
      // projection; routeAll sends this q15-shaped money/range query to
      // the cents one (GateFixtures.routedCentsLineitem REQUIREs the
      // route — round-10's bucketed-only router was why q6/q14/q15 sat
      // at 2.5–4.1× in-sweep while their proven ≤1.6× layout existed).
      // Arithmetic is VERBATIM engine style — the long-cents idiom AND
      // the q6-shaped DECIMAL idiom — so the gate also pins
      // RewriteStoredCents's MakeDecimal rewrite (stage-time-verified
      // finite columns) against an oracle computed from raw doubles.
      val cents = (c: String) => round(col(c) * 100).cast("long")
      s.table(GateFixtures.routedCentsLineitem(s, d))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
        .groupBy(col("l_suppkey").as("rc_suppkey"))
        .agg(
          (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .cast(DoubleType) / 10000.0).as("rc_revenue"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2))
            * col("l_discount").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("rc_disc_rev"))
    },
      // cross-kind routed projection: oracle from the RAW doubles over
      // whole-table lineitem — both the stored-cents rewrite (long idiom)
      // and the MakeDecimal rewrite (decimal idiom) must reproduce it
      """SELECT l_suppkey AS rc_suppkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS rc_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS rc_disc_rev
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |GROUP BY l_suppkey""".stripMargin),
    Gate("layout_denorm_star", { (s, d) =>
      // MATERIALIZED JOIN as product (round-11): adviseDenormalized
      // derived the lineitem⋈orders⋈customer star from a corpus,
      // stageDenorm wrote it pre-joined (audited lossless dims, stored
      // cents, bucketed on l_orderkey — GateFixtures.denormStar), and
      // this query KEEPS its three-table join verbatim:
      // RewriteMaterializedJoin swaps the whole join subtree for the
      // staged scan (exprId-aliased, filters re-applied) and the money
      // idiom reads the stored cents through the rewrite. The require
      // pins the firing; the oracle — the plain three-table join over
      // the RAW tables — pins exactness: a row dropped, duplicated or
      // mis-joined by the substitution hash-fails. Reference analog:
      // prep_3_merge.py:41-48 (the reference pre-joins at prep time).
      val meta = GateFixtures.denormStar(s, d)
      graft.plans.MaterializedJoins.withRegistered(Seq(meta)) {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val df = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey").as("dn_custkey"),
            col("c_mktsegment").as("dn_segment"))
          .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .cast(DoubleType) / 10000.0).as("dn_revenue"),
            count(lit(1)).as("dn_lines"))
        require(graft.plans.MaterializedJoins.fired(df, meta.catalogTable),
          s"layout_denorm_star: rewrite must serve the star join:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    },
      // materialized-join gates: oracles are the PLAIN joins over the RAW
      // tables — the pre-joined projection and its rewrite are the thing
      // under test; any row the substitution drops/duplicates hash-fails
      """SELECT c_custkey AS dn_custkey, c_mktsegment AS dn_segment,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS dn_revenue,
        |  count(*) AS dn_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2""".stripMargin),
    Gate("layout_denorm_subset", { (s, d) =>
      // the SUBSET contract: this query joins lineitem⋈orders ONLY, yet
      // reads the three-table star — valid because the stage-time audit
      // proved customer LOSSLESS (c_custkey unique + every o_custkey
      // present), so the omitted join neither dropped nor duplicated
      // rows. The require pins both the audit outcome and the firing;
      // the oracle over the raw two-table join pins exactness.
      val meta = GateFixtures.denormStar(s, d)
      require(meta.dims.forall(_.lossless),
        s"layout_denorm_subset: dims must audit lossless: ${meta.dims}")
      graft.plans.MaterializedJoins.withRegistered(Seq(meta)) {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val df = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_quantity") > 25)
          .groupBy(col("o_orderpriority").as("dn_priority"))
          .agg(sum(cents("l_quantity")).as("dn_qty_cents"),
            count(lit(1)).as("dn_lines"))
        require(graft.plans.MaterializedJoins.fired(df, meta.catalogTable),
          s"layout_denorm_subset: rewrite must serve the subset join:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    }, """SELECT o_orderpriority AS dn_priority,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS dn_qty_cents,
         |  count(*) AS dn_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_quantity > 25
         |GROUP BY 1""".stripMargin),
    Gate("layout_agg_rollup", { (s, d) =>
      // MATERIALIZED AGGREGATE as product (round-12): adviseAggRollups
      // derived the per-orderkey rollup (sum of quantity cents + line
      // count, stored as FINAL values) from a corpus, stageRollup wrote
      // it bucketed+sorted on the key with the base fingerprint
      // (GateFixtures.aggRollup), and this query KEEPS its fact-grain
      // aggregate verbatim: RewriteMaterializedAgg swaps the Aggregate
      // for a Project over the |orders|-row rollup — 4× fewer rows at
      // TPC-H fan-out before the query starts, zero re-aggregation.
      // The require pins the firing; the oracle — the plain GROUP BY /
      // HAVING over the RAW table — pins exactness. Reference analog:
      // prep_2_bahavior.py:50-53 (the reference materializes its
      // groupby aggregate at prep time and every stage consumes it).
      val meta = GateFixtures.aggRollup(s, d)
      graft.plans.MaterializedAggs.withRegistered(Seq(meta)) {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val df = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("ar_orderkey"))
          .agg(sum(cents("l_quantity")).as("ar_qty_cents"),
            count(lit(1)).as("ar_lines"))
          .filter(col("ar_qty_cents") > 5000L)
        require(graft.plans.MaterializedAggs.fired(df, meta.catalogTable),
          s"layout_agg_rollup: rewrite must serve the aggregate:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    },
      // materialized-aggregate gates: oracles are the plain aggregates
      // over the RAW table — the rollup and its rewrite are under test;
      // a group dropped, duplicated or mis-valued by the serve hash-fails
      """SELECT l_orderkey AS ar_orderkey,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS ar_qty_cents,
        |  count(*) AS ar_lines
        |FROM lineitem
        |GROUP BY 1
        |HAVING CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) > 5000""".stripMargin),
    Gate("layout_agg_exists", { (s, d) =>
      // the KEY-SET contract (q4's shape at order grain): EXISTS over
      // the filtered fact is exactly "conditional count > 0" on the
      // rollup — the probe side reads |orders| rows instead of
      // |lineitem|, sidestepping the fact-grain decode that measured
      // round-11's semi arm off. The require pins the firing; the
      // oracle EXISTS over the raw tables pins exactness (a key
      // wrongly included or excluded from the set hash-fails).
      val meta = GateFixtures.aggRollup(s, d)
      graft.plans.MaterializedAggs.withRegistered(Seq(meta)) {
        val df = Tables.orders(s, d)
          .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
              .select(col("l_orderkey")),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority").as("ae_priority"))
          .agg(count(lit(1)).as("ae_orders"))
        require(graft.plans.MaterializedAggs.fired(df, meta.catalogTable),
          s"layout_agg_exists: rewrite must serve the EXISTS probe:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    }, """SELECT o_orderpriority AS ae_priority, count(*) AS ae_orders
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY 1""".stripMargin),
    Gate("layout_agg_reagg", { (s, d) =>
      // COARSER-GRAIN rollup serve (round-12b — the classic
      // materialized-view rewrite): the staged rollup is keyed
      // (l_returnflag, l_linestatus, l_discount) — the advisor folded
      // the query's FILTER column into the key — and this q1-shaped
      // query groups a strict SUBSET of those keys. The rewrite
      // re-applies the discount bound on the rollup's key column and
      // RE-AGGREGATES the stored partials (sum→sum, count→sum), so the
      // aggregate runs over ~|distinct (flag,status,discount)| rows
      // instead of the fact. The require pins the firing; the oracle
      // over the RAW table pins exactness (a partial double-counted or
      // a group dropped by the predicate re-application hash-fails).
      val metas = GateFixtures.aggReagg(s, d)
      graft.plans.MaterializedAggs.withRegistered(metas) {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val df = Tables.lineitem(s, d)
          .filter(col("l_discount") <= 0.04)
          .groupBy(col("l_returnflag").as("rg_flag"),
            col("l_linestatus").as("rg_status"))
          .agg((sum(cents("l_extendedprice")).cast(DoubleType) / 100.0).as("rg_base"),
            count(lit(1)).as("rg_lines"))
        require(graft.plans.MaterializedAggs.fired(df, metas.head.catalogTable),
          s"layout_agg_reagg: coarser-grain serve must fire:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    }, """SELECT l_returnflag AS rg_flag, l_linestatus AS rg_status,
         |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         |    AS rg_base,
         |  count(*) AS rg_lines
         |FROM lineitem
         |WHERE l_discount <= 0.04
         |GROUP BY 1, 2""".stripMargin),
    Gate("layout_agg_filtergrain", { (s, d) =>
      // the GLOBAL variant (q6's shape): no grouping at all — every
      // predicate references rollup key columns, so the whole query
      // becomes one sum over the filtered ≤|key-combo| rollup rows.
      // Note the predicates at the rewrite differ in FORM from the
      // advice-time corpus (any key-column predicate re-applies, seen
      // or not). Oracle over the raw table pins exactness.
      val metas = GateFixtures.aggReagg(s, d)
      graft.plans.MaterializedAggs.withRegistered(metas) {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val df = Tables.lineitem(s, d)
          .filter(col("l_discount").between(0.02, 0.04) && col("l_quantity") < 20)
          .agg((sum(cents("l_extendedprice") * cents("l_discount"))
            .cast(DoubleType) / 1e8).as("fg_rev"),
            count(lit(1)).as("fg_lines"))
        require(graft.plans.MaterializedAggs.fired(df, metas(1).catalogTable),
          s"layout_agg_filtergrain: global coarser serve must fire:\n" +
            df.queryExecution.optimizedPlan)
        df
      }
    }, """SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
         |    * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100000000.0
         |    AS fg_rev,
         |  count(*) AS fg_lines
         |FROM lineitem
         |WHERE l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 20""".stripMargin),
    Gate("layout_advisor_sorted", { (s, d) =>
      // the advisor's PREDICATE-side advice end-to-end: adviseSorted
      // derived (orders, o_orderdate, pruned columns, file count) from
      // a range-filter corpus and staged the range-clustered layout
      // (GateFixtures.advisorSortedOrders); this date-banded rollup
      // reads it and must equal the whole-orders oracle. The files
      // cover disjoint date ranges, so the predicate prunes whole
      // files via footer stats (AdvisorSpec asserts strictly-fewer
      // files touched) — the sorted-layout analogue of hive
      // partitioning for continuous keys at 100 TB.
      FileSchemas.read(s, Seq(GateFixtures.advisorSortedOrders(s, d)))
        .where(col("o_orderdate").between(lit("1996-01-01"), lit("1996-12-31")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("o_orderpriority"))
    }, """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM orders
         |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("layout_derived_cents", { (s, d) =>
      // the decode-constant class's layout answer as PRODUCT: the gate
      // is q1's exact-money arithmetic VERBATIM (round(x*100) longs)
      // over an advisor-staged derived projection
      // (GateFixtures.derivedCentsLineitem) — RewriteStoredCents swaps
      // each round-expression for the stored cents column at
      // optimization time and pruning drops the raw doubles from the
      // scan (AdvisorSpec asserts the plan; x200: q1 2.0×, q6 1.48×,
      // q14 1.57×, q15 1.50× vs DuckDB where the flat class sat at
      // 3.3–4.5× — PERF.md round-10). Values vs the whole-table oracle
      // computed from the raw doubles: a stored column that drifted
      // from cast(round(x*100) as long) by one cent hash-fails.
      val cents = (c: String) => round(col(c) * 100).cast("long")
      s.table(GateFixtures.derivedCentsLineitem(s, d))
        .filter(col("l_shipdate") <= lit("1998-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(cents("l_quantity")).cast(DoubleType) / 100.0).as("sum_qty"),
          (sum(cents("l_extendedprice")).cast(DoubleType) / 100.0).as("sum_base_price"),
          (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).cast(DoubleType) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // the derived-cents layout gate must equal the same q1 oracle
      // computed from the RAW doubles — the stored cents column is the
      // thing under test
      RelationalGates.q1Oracle),
    Gate("layout_append_compact", { (s, d) =>
      // a bucketed fact table that GREW: created sorted from 5/6 of
      // lineitem, the rest appended (appendToBucketedTable — same
      // bucket function, so co-location survives the append), then
      // compactBuckets to merge each bucket back to one sorted file
      // (GateFixtures.appendCompactLineitem). This per-order rollup
      // over the post-lifecycle table must equal the whole-table
      // oracle — a lost/duplicated/mis-bucketed appended row
      // hash-fails — and BucketingSpec pins the plan at each stage
      // (append: zero-Exchange HashAggregate; compacted: streaming
      // SortAggregate, zero Exchange, zero Sort).
      s.table(GateFixtures.appendCompactLineitem(s, d))
        .groupBy(col("l_orderkey").as("ac_orderkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("ac_qty_cents"))
        .filter(col("ac_qty_cents") > 150L * 100)
        .select(col("ac_orderkey"), col("ac_qty_cents"))
    }, """SELECT l_orderkey AS ac_orderkey,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS ac_qty_cents
         |FROM lineitem GROUP BY 1 HAVING ac_qty_cents > 15000""".stripMargin),
    Gate("layout_stream_ingest", { (s, d) =>
      // a bucketed fact table fed by a STREAM: created sorted from
      // 2/3 of lineitem, the rest arriving as a 2-batch file stream
      // appended through StreamingLayout.intoBucketedTable (idempotent
      // per batch id; the final batch triggers compactBuckets). This
      // per-order rollup over the post-ingest table must equal the
      // whole-table oracle — a lost batch, a replay-duplicated batch,
      // or a mis-bucketed row hash-fails — and BucketingSpec drives
      // the replay + the plan at each lifecycle stage.
      s.table(GateFixtures.streamIngestLineitem(s, d))
        .groupBy(col("l_orderkey").as("si_orderkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("si_price_cents"))
        .filter(col("si_price_cents") > 200000L * 100)
        .select(col("si_orderkey"), col("si_price_cents"))
    }, """SELECT l_orderkey AS si_orderkey,
         |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS si_price_cents
         |FROM lineitem GROUP BY 1 HAVING si_price_cents > 20000000""".stripMargin),
    Gate("join_bucketed_fact", { (s, d) =>
      // co-located FACT⋈FACT join (q9/q12's named blocker was the
      // orderkey exchange of BOTH sides — PERF.md "Round-8: layout
      // experiments" measured blooms and pre-aggregation strictly
      // worse): lineitem AND orders bucketed on the order key at write
      // time, dims broadcast onto the
      // bucketed scan (preserving its distribution), so the line⋈order
      // join plans with NO exchange. Measured at x200: q12-shape
      // 3.35→1.88 s, q9-shape 5.72→2.83 s (PERF.md). PlanShapeSpec
      // asserts the exchange-free join.
      val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
      s.table(GateFixtures.bucketedLineitem(s, d))
        .join(s.table(GateFixtures.bucketedOrders(s, d)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
        .orderBy(col("l_linestatus"))
    }, """SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count,
         |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
