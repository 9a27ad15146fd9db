package graft
package gates

import graft.operators.{AsofJoin, EmbeddingLookup, FuzzyJoin, RangeClip, RangeJoin, Rolling, SkewJoin}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Relational gates: the TPC-H-shaped suite over the reduced star
  * schema, plus the join, window, top-k, set-operation, as-of/range and
  * embedding-lookup operators.
  *
  * The reference's query surface is the full relational algebra its
  * users reach through the hosting engine (SURVEY §2.6–§2.10): beyond
  * the q1/q3/q5/q6/q14 gates, production pipelines lean on semi/anti
  * joins (EXISTS / NOT EXISTS), correlated scalar subqueries, outer
  * joins feeding aggregation, and disjunctive pushdown. Each query here
  * gates one of those plan shapes against the DuckDB oracle, adapted to
  * the driver schema (no partsupp, no commit/receipt dates — q2, q9's
  * supplycost, q11, q16, q20 are unexpressible and the date-lag
  * predicates are re-cut on the columns that exist).
  *
  * Numeric discipline matches [[Gate]]'s: money accumulates EXACTLY —
  * integer cents ([[cents]], the q1_pricing_summary_cents fast path) on
  * the hot fact sums, DECIMAL(12,2) on the small dimensions — and is
  * cast to DOUBLE only in the final projection with the same expression
  * shape as the oracle's decimal→double cast, so both engines agree
  * bitwise. Every limit is tie-broken on a key column.
  *
  * Scale notes (100 TB), for the q4–q22 gates: every join below is either a broadcast of a
  * true dimension (nation/region/part/supplier at their TPC-H
  * proportions) or an equi-shuffle on the fact key; the fact⋈orders
  * exchanges carry a `shuffle_hash` hint — the build side is the
  * boundedly-proportioned orders slice (≤ |orders|/partitions rows per
  * task), so the hash build skips SMJ's per-partition O(n log n) fact
  * sort while AQE skew handling still applies. Semi/anti variants keep
  * the build side to the filtered probe list. No query materializes an
  * unbounded intermediate: the correlated-avg in q17 is a pre-aggregated
  * per-key join, q13's outer join aggregates before the distribution
  * count, the q18 HAVING sum IS the output sum (one fact pass), q21's
  * EXISTS pair decorrelates to per-order min/max aggregates, and the
  * q15/q22 scalar subqueries broadcast one row.
  */
object RelationalGates {

  private val D12 = DecimalType(12, 2)
  /** Σ extendedprice·(1−discount) in 1e-4 dollar units. */
  private def revCentsE4: Column =
    sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
  private def revenueSum: Column = revCentsE4.cast(DoubleType) / 10000.0
  private def ts(s: String): Column = lit(s).cast(TimestampType)

  /** Shared oracle fragment for sum(extendedprice * (1 - discount)). */
  private val revSql =
    """SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2))))""".stripMargin

  /** q1's oracle, shared by its cents plan variant and by
    * layout_derived_cents: all three must give the same answer. */
  private[gates] val q1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing_summary", { (s, d) =>
      val li = Tables.lineitem(s, d)
      val dec = (c: String) => col(c).cast(DecimalType(12, 2))
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
          sum(dec("l_extendedprice")).cast(DoubleType).as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(4, 2)) - dec("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, q1Oracle),
    Gate("q1_pricing_summary_cents", { (s, d) =>
      // q1 with fixed-point long accumulation: money/quantity are 2-dp
      // values, so summing them as integer cents is exact and ~2× faster
      // than Spark's Decimal partial aggregation (boxed Decimal math vs
      // primitive longs in codegen). Overflow envelope: the widest term,
      // Σ price_cents·(100−disc_cents) per group, stays under 2^63 up to
      // ~9×10⁹ max-price rows per group (≈ TB-scale lineitem); ANSI mode
      // throws rather than silently wrapping beyond it. The DECIMAL form
      // (q1_pricing_summary) remains the unbounded-scale path; both
      // hash-match the same DECIMAL oracle.
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(cents("l_quantity")).cast(DoubleType) / 100.0).as("sum_qty"),
          (sum(cents("l_extendedprice")).cast(DoubleType) / 100.0).as("sum_base_price"),
          (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).cast(DoubleType) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // plan variants share their base query's oracle: results must be
      // bit-identical, only the physical strategy differs
      q1Oracle),
    Gate("join_orders_customer", { (s, d) =>
      // Embedding-lookup-shaped equi-join: fact ids x dim table
      // (reference: embedding/sharding.py:168-205 — semantically a
      // distributed hash equi-join preserving input multiplicity).
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(
          col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"), col("o_totalprice"))
    }, """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
         |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),
    Gate("q3_shipping_priority", { (s, d) =>
      // TPC-H Q3 shape: 3-way join + filtered agg + ordered top-k
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      // integer-cents accumulation (q1_pricing_summary_cents discipline):
      // exact, primitive-long codegen, same result as the DECIMAL oracle.
      // The aggregation is pushed BELOW the join: the group key equals the
      // join key, and the customer-segment predicate filters whole orders,
      // so per-order revenue is reduced first and joined to the
      // segment-filtered orders after — the join probes order-grained
      // rows, not line-grained (4× less at TPC-H line fan-out).
      val bldgOrders = o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      // runtime bloom semi-reduction on the fact side: Spark's own
      // InjectRuntimeFilter rejects this shape (the selective predicate
      // sits across the semi join from the creation key's lineage), so
      // inject the identical machinery by hand — at ~20% segment
      // selectivity the per-order aggregate and its exchange shrink 5×;
      // the false positives the bloom lets through are removed by the
      // exact join below (BloomReduce scaladoc has the full story)
      val lBldg = operators.BloomReduce.semiReduce(
        l, col("l_orderkey"), bldgOrders.select(col("o_orderkey")),
        col("o_orderkey"))
      // bloom survivors still carry ~7M spread order groups — shuffle the
      // raw rows first so the aggregate's first pass actually reduces
      // (operators.Aggregates scaladoc has the measured trade-off)
      val revPerOrder = operators.Aggregates.byShuffledKey(lBldg, col("l_orderkey"))
        .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .cast(DoubleType) / 10000.0).as("revenue"))
      revPerOrder.join(bldgOrders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, """SELECT l_orderkey,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Gate("topk_orders", { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }, """SELECT o_orderkey, o_totalprice FROM orders
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    Gate("join_full_outer", { (s, d) =>
      val users = Tables.events(s, d).select(col("user_id")).distinct()
      val vecs = Tables.embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"))
      users.join(vecs, users("user_id") === vecs("vec_id"), "full_outer")
        .select(col("user_id"), col("vec_id"))
    }, """SELECT user_id, vec_id
         |FROM (SELECT DISTINCT user_id FROM events) u
         |FULL OUTER JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 30) v
         |ON user_id = vec_id""".stripMargin),
    Gate("window_topn_per_user", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn"))
    }, """SELECT user_id, event_id, value,
         |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rn
         |FROM events
         |QUALIFY rn <= 3""".stripMargin),
    Gate("q6_forecast_revenue", { (s, d) =>
      // TPC-H Q6 shape: multi-predicate filtered aggregate — all three
      // predicates must reach the parquet scan
      Tables.lineitem(s, d)
        .filter(col("l_discount").between(0.02, 0.04) && col("l_quantity") < 20)
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2))
          * col("l_discount").cast(DecimalType(12, 2)))
          .cast(DoubleType).as("revenue"))
    }, """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 20""".stripMargin),
    Gate("q14_promo_share", { (s, d) =>
      // TPC-H Q14 shape: join + conditional aggregation (CASE inside SUM)
      val p = Tables.part(s, d)
      val l = Tables.lineitem(s, d)
      // integer-cents accumulation; the /10000.0 on each sum mirrors the
      // oracle's per-sum decimal→double cast before the share division
      val revE4 = cents("l_extendedprice") * (lit(100L) - cents("l_discount"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(((sum(when(col("p_type") === "PROMO", revE4).otherwise(lit(0L)))
          .cast(DoubleType) / 10000.0) * 100.0
          / (sum(revE4).cast(DoubleType) / 10000.0)).as("promo_share"))
    }, """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
         |         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))
         |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0
         |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         |  AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    // ---- embedding lookup joins (reference §2.6) -----------------------
    Gate("lookup_join", { (s, d) =>
      EmbeddingLookup.lookup(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        "user_id", Tables.embeddings(s, d), "vec_id", Seq("label"),
        broadcastDim = true)
    }, lookupLabelOracle),
    Gate("lookup_dedup_join", { (s, d) =>
      EmbeddingLookup.lookupDedup(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        "user_id", Tables.embeddings(s, d), "vec_id", Seq("label"))
    }, lookupLabelOracle),
    Gate("lookup_cache_miss", { (s, d) =>
      val cache = Tables.embeddings(s, d).filter(col("vec_id") < 50)
      val (_, misses) = EmbeddingLookup.cacheSplit(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        "user_id", cache, "vec_id")
      misses
    }, """SELECT event_id, user_id FROM events
         |WHERE user_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id < 50)""".stripMargin),
    Gate("join_salted_skew", { (s, d) =>
      // skew-mitigated equi-join: result set identical to the plain join
      val dim = Tables.embeddings(s, d).select(col("vec_id").as("user_id"), col("label"))
      SkewJoin.salted(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        dim, "user_id", saltFactor = 8, saltBy = Seq("event_id"))
    }, """SELECT user_id, event_id, label
         |FROM events JOIN embeddings ON user_id = vec_id""".stripMargin),
    // ---- ordered collect / range clip (reference §2.7-2.8) -------------
    Gate("groupby_collect_sorted", { (s, d) =>
      RangeClip.collectHistory(
        Tables.events(s, d), col("user_id"), col("event_id"), col("event_type"))
        .select(col("key"), rawCsv(col("history")).as("history"))
    }, """SELECT user_id AS key,
         |  array_to_string(list(event_type ORDER BY event_id), ',') AS history
         |FROM events GROUP BY user_id""".stripMargin),
    Gate("range_clip_window", { (s, d) =>
      val e = Tables.events(s, d).withColumn("tsec", col("ts").cast("long"))
      val w = RangeClip.recentWindow(col("user_id"), col("tsec"), 3600L)
      e.select(
        col("event_id"),
        count(lit(1)).over(w).as("n_recent"),
        numCsv(sort_array(collect_list(col("value")).over(w))).as("recent_vals"))
    }, """SELECT event_id,
         |  COUNT(*) OVER w AS n_recent,
         |  COALESCE(array_to_string(list_transform(list_sort(COALESCE(list(value) OVER w, [])),
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ','), '') AS recent_vals
         |FROM (SELECT event_id, user_id, value,
         |        CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS tsec FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
         |             RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)""".stripMargin),
    Gate("q5_local_supplier", { (s, d) =>
      // TPC-H Q5 shape: 6-way join chain + filtered agg; exercises
      // Catalyst join ordering + broadcast selection across dims
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      // Selective-first join order (what a stats-fed CBO would pick):
      // region→nation→customer reduce orders to the ASIA slice BEFORE
      // the fact join, so the one non-broadcast join builds the
      // 1/|regions| orders slice as a shuffle_hash (no SMJ fact sort).
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val custAsia = Tables.customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      // no broadcast hint on the customer slice: AQE broadcasts it at
      // bench proportions from stats; at cluster scale it's a shuffle
      // join at orders grain (25× smaller than line grain)
      // NOT bloom-reduced, deliberately: unlike q3 (where pruning feeds
      // a 30M-group reducing aggregate), the pruned fact here feeds a
      // JOIN, so the saved exchange bytes equal the bloom's build+probe
      // cost — measured at x200: 7.4 s plain vs 7.8–8.9 s across three
      // bloom/checkpoint variants. The fact exchange is the floor.
      val ordersAsia = Tables.orders(s, d)
        .join(custAsia.select(col("c_custkey"), col("c_nationkey"), col("n_name")),
          col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, d)
        .join(ordersAsia.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .cast(DoubleType) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc)
    }, """SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC""".stripMargin),
    // ---- window functions / sorts (reference §2.8 + superset) ----------
    Gate("window_rank_lag", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).withColumn("tsec", col("ts").cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      e.select(
        col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(DecimalType(12, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("run_sum"))
    }, """WITH e AS (SELECT event_id, user_id, value,
         |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS tsec FROM events)
         |SELECT event_id,
         |  CAST(row_number() OVER w AS BIGINT) AS rn,
         |  lag(value, 1) OVER w AS prev_value,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
         |    (PARTITION BY user_id ORDER BY tsec, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)""".stripMargin),
    // ---- set operations (reference §2.9, superset) ---------------------
    Gate("setop_users", { (s, d) =>
      val e = Tables.events(s, d)
      val err = e.filter(col("event_type") === "error").select(col("user_id")).distinct()
      val pur = e.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      err.intersect(pur).withColumn("op", lit("both"))
        .unionAll(err.except(pur).withColumn("op", lit("error_only")))
    }, """SELECT user_id, 'both' AS op FROM (
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
         |  INTERSECT
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         |UNION ALL
         |SELECT user_id, 'error_only' AS op FROM (
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
         |  EXCEPT
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')""".stripMargin),
    // ---- as-of / range joins (time-series superset) --------------------
    Gate("asof_join_attribution", { (s, d) =>
      // each event attributed to the user's most recent purchase at or
      // before it (AsofJoin: one exchange + one sort, never a range join)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("ts"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsofJoin.backward(ev, purchases, Seq("user_id"), "ts", "ts",
        joinType = "inner", matchedAs = "m")
        .select(col("event_id"), col("m.event_id").as("purchase_id"),
          (unix_micros(col("ts")) - unix_micros(col("m.ts"))).as("micros_since"))
    }, """SELECT e.event_id, p.event_id AS purchase_id,
         |  epoch_us(e.ts) - epoch_us(p.ts) AS micros_since
         |FROM events e ASOF JOIN (
         |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
         |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),
    Gate("asof_join_forward", { (s, d) =>
      // the forward direction: each event's NEXT purchase (>= ts)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("ts"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsofJoin.forward(ev, purchases, Seq("user_id"), "ts", "ts",
        joinType = "inner", matchedAs = "m")
        .select(col("event_id"), col("m.event_id").as("next_purchase_id"))
    }, """SELECT e.event_id, p.event_id AS next_purchase_id
         |FROM events e ASOF JOIN (
         |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
         |ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin),
    Gate("range_join_purchase_window", { (s, d) =>
      // keyless interval join: views landing in the hour before ANY
      // purchase, binned to an equi-join (RangeJoin — no nested loop),
      // then aggregated per purchase; zero-view purchases kept via the
      // final left join
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("v_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("lo"), col("ts").as("hi"))
      val pairs = RangeJoin.pointsInIntervals(
        views, purchases, "v_ts", "lo", "hi", binWidthMicros = 3600L * 1000000L)
      val agg = pairs.groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"), min(col("view_id")).as("first_view"))
      purchases.select(col("purchase_id")).join(agg, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"), col("first_view"))
    }, """WITH v AS (SELECT event_id AS view_id, ts FROM events WHERE event_type = 'view'),
         |p AS (SELECT event_id AS purchase_id, ts FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, v.view_id FROM p JOIN v
         |  ON v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts),
         |a AS (SELECT purchase_id, count(*) AS n, min(view_id) AS fv FROM j GROUP BY 1)
         |SELECT p.purchase_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_views,
         |  a.fv AS first_view
         |FROM p LEFT JOIN a USING (purchase_id)""".stripMargin),
    Gate("fuzzy_join_lev1", { (s, d) =>
      // SymSpell deletion-neighborhood fuzzy self-join: equi-join over
      // single-deletion variants finds EVERY Levenshtein<=1 pair (exact
      // recall, proof in FuzzyJoin scaladoc); the oracle is the O(n²)
      // all-pairs semantic definition. Customer names are 9-digit-coded,
      // so one-digit-apart keys form a real fuzzy population.
      FuzzyJoin.selfJoinLev1(Tables.customer(s, d), col("c_custkey"), col("c_name"))
    }, """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin),
    Gate("window_trailing_range", { (s, d) =>
      // Trailing event-time RANGE window: per-user count + exact sum
      // over the last hour at every event — the point-in-time feature
      // primitive (operators.Rolling).
      Rolling.trailingSumCount(Tables.events(s, d),
          col("user_id"), col("ts"), col("value"), 3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          col("trailing_cnt"), col("trailing_sum"))
    }, """SELECT event_id, user_id,
         |  CAST(count(*) OVER w AS BIGINT) AS trailing_cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS trailing_sum
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    Gate("q4_order_priority", { (s, d) =>
      // Q4 shape: EXISTS → left-semi join, then priority histogram. The
      // probe side is pre-filtered to returned lines so the semi join's
      // build never exceeds the returned-line key set.
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-07-01"))
      val ret = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      o.join(ret.hint("shuffle_hash"), o("o_orderkey") === ret("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }, """SELECT o_orderpriority, COUNT(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("q7_volume_shipping", { (s, d) =>
      // Q7 shape: two aliased copies of the same dimension (supplier
      // nation x customer nation) + disjunctive pair predicate + yearly
      // rollup. Both nation copies broadcast.
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
        .join(Tables.orders(s, d).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenueSum.as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }, s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |  CAST($revSql AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Gate("q8_market_share", { (s, d) =>
      // Q8 shape: 7-relation join + share-of-total conditional agg.
      // Round-7 restructure (bit-identical output): the textbook order
      // carried line-grained rows through the custkey and suppkey joins
      // after the orderkey exchange. Now every dim prunes or decorates
      // WITHOUT touching a fact exchange — promo parts and the
      // supplier→is-NATION_8 flag broadcast onto the lines, and the
      // ASIA membership moves to the ORDERS side as a broadcast-semi
      // chain (region→nation keys → customer keys → orders), so the
      // one remaining shuffle pairs the promo lines against a 5×
      // smaller, 2-column orders slice. (A further bloom semi-reduction
      // of the lines by those order keys was A/B'd and rejected — same
      // verdict as q5/q10: no downstream reducing aggregate to pay for
      // the build.)
      val rKeys = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"), "left_semi")
        .select(col("n_nationkey"))
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(rKeys), col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("c_custkey"))
      val asiaOrders = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
      val suppN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_8").as("is_n8"))
      val revE4 = cents("l_extendedprice") * (lit(100L) - cents("l_discount"))
      val lp = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      lp.join(asiaOrders.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        // the /10000.0 on BOTH sums mirrors the oracle's decimal→double
        // casts exactly (cancelling the factors would round differently)
        .agg(((sum(when(col("is_n8"), revE4).otherwise(lit(0L)))
            .cast(DoubleType) / 10000.0)
          / (sum(revE4).cast(DoubleType) / 10000.0)).as("mkt_share"))
        .orderBy(col("o_year"))
    }, """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_8'
         |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
         |         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))
         |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         |  AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q9_nation_margin", { (s, d) =>
      // Q9 shape (adapted: retailprice stands in for ps_supplycost —
      // no partsupp table): per-nation, per-year margin with a mixed
      // +/− DECIMAL amount that must accumulate exactly.
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
      val amountE4 = cents("l_extendedprice") * (lit(100L) - cents("l_discount")) -
        cents("p_retailprice") * cents("l_quantity")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(amountE4).cast(DoubleType) / 10000.0).as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }, """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))
         |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
         |    AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_type = 'ECONOMY'
         |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin),
    Gate("q10_returned_items", { (s, d) =>
      // Q10 shape: returned-revenue top-k per customer (4-way join +
      // agg + TakeOrdered). A round-7 bloom semi-reduction of the
      // R-line scan by the 3-month order keys was A/B'd and REJECTED
      // (2.95 s → 4.17 s at x200): unlike q3, the pruned fact feeds no
      // heavy reducing aggregate — the orders join is already the
      // reducer — so the bloom's build + the subquery gating both scan
      // stages serially (and constraint propagation re-probing it on
      // the orders side) cost more than the saved exchange. Exactly the
      // BloomReduce-scaladoc lesson, now with a second data point.
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-04-01"))
          .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenueSum.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, s"""SELECT c_custkey, c_name, c_acctbal, n_name,
          |  CAST($revSql AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          |GROUP BY 1, 2, 3, 4
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Gate("q12_priority_class", { (s, d) =>
      // Q12 shape (adapted: linestatus stands in for shipmode): CASE
      // counting of priority classes per line status.
      val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
        .join(Tables.orders(s, d).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
      // CASTs on the SUMs: avoid DuckDB HUGEINT, which the driver's
      // pandas bridge degrades to float64 and hash-diverges from int64
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Gate("q13_customer_distribution", { (s, d) =>
      // Q13 shape: LEFT OUTER join with an extra join-condition filter
      // (not a WHERE — NULL-extended rows must survive), per-customer
      // count, then the distribution of counts.
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o.hint("shuffle_hash"), c("c_custkey") === o("o_custkey") &&
          o("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, """SELECT c_count, COUNT(*) AS custdist FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM customer LEFT OUTER JOIN orders
         |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey)
         |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Gate("q15_top_supplier", { (s, d) =>
      // Q15 shape: aggregate view + scalar-subquery max. The max is a
      // one-row broadcast cross-join, never a global sort.
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(revenueSum.as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
      rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }, s"""WITH revenue AS (
          |  SELECT l_suppkey, CAST($revSql AS DOUBLE) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin),
    Gate("q17_small_quantity", { (s, d) =>
      // Q17 shape: correlated scalar subquery (per-part 0.2×avg
      // threshold) decorrelated into a pre-aggregated equi-join. The
      // avg divides an exact DECIMAL sum by the count in DOUBLE, so
      // the threshold is bit-identical on both engines.
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
      val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((sum(cents("l_quantity")).cast(DoubleType) / 100.0 / count(lit(1)))
          .as("avg_qty"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(cents("l_extendedprice")).cast(DoubleType) / 100.0 / 7.0)
          .as("avg_yearly"))
    }, """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         |  AS avg_yearly
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN (SELECT l_partkey AS t_partkey,
         |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         |      FROM lineitem GROUP BY l_partkey) t ON l_partkey = t_partkey
         |WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty""".stripMargin),
    Gate("q18_large_volume", { (s, d) =>
      // Q18 shape: HAVING on a grouped fact. The textbook form re-scans
      // lineitem through an IN-subquery semi join and re-aggregates the
      // detail; since the outer GROUP BY key set is functionally
      // determined by the order key, the per-order sum computed for the
      // HAVING IS the final sum_qty — one lineitem aggregation total,
      // and the surviving handful of big orders joins orders/customer
      // as a broadcast. Identical output, half the fact passes.
      val li = Tables.lineitem(s, d)
      // spread per-order key: shuffle raw rows before aggregating
      // (Aggregates scaladoc — partial agg can't reduce this layout).
      // No explicit narrow select: Catalyst prunes to the two columns
      // anyway, and a hand projection would BLOCK RewriteStoredCents
      // from serving the stored l_quantity_cents on derived layouts
      // (the rule only rewrites where the stored column stays in scope)
      val big = graft.operators.Aggregates
        .byShuffledKey(li, col("l_orderkey"), col("l_orderkey").as("b_orderkey"))
        .agg(sum(cents("l_quantity")).as("b_qty_cents"))
        .filter(col("b_qty_cents") > 300L * 100)
      val o = Tables.orders(s, d)
      big.join(o, col("b_orderkey") === o("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          (col("b_qty_cents").cast(DoubleType) / 100.0).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }, """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_orderkey IN (
         |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Gate("q19_discounted_revenue", { (s, d) =>
      // Q19 shape: disjunction of conjunctive ranges across the join —
      // Catalyst must still push the partkey equi-key and the common
      // quantity bound to the scan.
      val p = Tables.part(s, d)
      val li = Tables.lineitem(s, d)
      val branch = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(branch("Brand#11", 1, 15, 1, 11) ||
          branch("Brand#22", 1, 25, 10, 20) ||
          branch("Brand#33", 1, 35, 20, 30))
        .agg(revenueSum.as("revenue"))
    }, s"""SELECT CAST($revSql AS DOUBLE) AS revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    Gate("q21_waiting_supplier", { (s, d) =>
      // Q21 shape (adapted: returnflag='R' stands in for the
      // receipt>commit lateness predicate): EXISTS another supplier in
      // the order AND NOT EXISTS another late supplier. The textbook
      // form is two self-joins of the fact (semi + anti, order key with
      // a <> residual); both EXISTS conditions are per-order facts, so
      // they reduce to plain min/max aggregates instead — "another
      // supplier exists" ⟺ min(supp) ≠ max(supp), "exactly one late
      // supplier" ⟺ min(late supp) = max(late supp), and every late line
      // then belongs to that one supplier. One aggregation pass of the
      // fact (shuffle-first, see below) replaces ~3× the fact through
      // semi/anti exchanges with sorts; identical output.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_returnflag") === "R").as("r"))
      val lateS = when(col("r"), col("l_suppkey"))
      // 29M order groups spread across the layout: partial aggregation
      // reduces ~nothing, so shuffle raw rows first (Aggregates scaladoc;
      // measured 10.9 -> 6.2 s for this aggregate alone at x200)
      val per = graft.operators.Aggregates
        .byShuffledKey(li, col("l_orderkey"), col("l_orderkey").as("g_ok"))
        .agg(min(col("l_suppkey")).as("minS"), max(col("l_suppkey")).as("maxS"),
          min(lateS).as("minRS"), max(lateS).as("maxRS"),
          sum(when(col("r"), 1L).otherwise(0L)).as("nR"))
        .filter(col("minS") =!= col("maxS") &&
          col("minRS").isNotNull && col("minRS") === col("maxRS"))
      val n = Tables.nation(s, d).filter(col("n_name") === "NATION_3")
      // join the most selective reduction FIRST: supplier⋈nation is a
      // 1/25-nation broadcast, shrinking the per-order frame ~25× before
      // orders ever enters — the F-status orders then hash-join against
      // the small surviving side instead of the full per-order frame
      val suppN = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("sn_suppkey"), col("s_name"))
      val perN = per.join(broadcast(suppN), col("minRS") === col("sn_suppkey"))
      val oF = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      perN.hint("shuffle_hash").join(oF, col("g_ok") === col("o_orderkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("nR")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }, """SELECT s_name, COUNT(*) AS numwait
         |FROM lineitem l1
         |JOIN orders ON l1.l_orderkey = o_orderkey
         |JOIN supplier ON l1.l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F' AND n_name = 'NATION_3'
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |                AND l3.l_returnflag = 'R')
         |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
    Gate("q22_global_sales", { (s, d) =>
      // Q22 shape (adapted: c_name digits stand in for the phone
      // country code, and "no URGENT order" for "no order" — the driver
      // data gives every customer at least one order): scalar-subquery
      // threshold (broadcast one row) + NOT EXISTS anti join, rolled up
      // by code.
      val codes = Seq("00", "11", "22", "33", "44")
      val cust = Tables.customer(s, d)
        .withColumn("cntrycode", substring(col("c_name"), 17, 2))
        .filter(col("cntrycode").isin(codes: _*))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(D12)).cast(DoubleType) / count(lit(1))).as("avg_bal"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(D12)).cast(DoubleType).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }, """WITH cust AS (
         |  SELECT substring(c_name, 17, 2) AS cntrycode, c_custkey, c_acctbal
         |  FROM customer
         |  WHERE substring(c_name, 17, 2) IN ('00', '11', '22', '33', '44'))
         |SELECT cntrycode, COUNT(*) AS numcust,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
         |FROM cust
         |WHERE c_acctbal > (
         |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
         |    FROM cust WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),
  )
}
