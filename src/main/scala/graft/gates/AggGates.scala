package graft
package gates

import graft.functions.{Sketches, TextFunctions}
import graft.operators.{Profile, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Aggregate gates: grouped and grid aggregates, sketches,
  * profiles, scalar function families and upsert/snapshot maintenance. */
object AggGates {

  val gates: Seq[Gate] = Seq(
    Gate("agg_distinct_parts", { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
    }, """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    Gate("scalar_strings", { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 3).as("prefix"),
        concat_ws("|", col("p_brand"), col("p_type")).as("tag"),
        length(col("p_name")).cast("long").as("name_len"),
        col("p_name").like("%widget%").as("is_widget"),
        replace(col("p_name"), lit(" "), lit("_")).as("snake"))
    }, """SELECT p_partkey,
         |  upper(p_name) AS uname,
         |  substr(p_name, 1, 3) AS prefix,
         |  concat_ws('|', p_brand, p_type) AS tag,
         |  CAST(strlen(p_name) AS BIGINT) AS name_len,
         |  p_name LIKE '%widget%' AS is_widget,
         |  replace(p_name, ' ', '_') AS snake
         |FROM part""".stripMargin),
    Gate("scalar_arrays", { (s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        array_max(col("embedding")).as("vmax"),
        array_min(col("embedding")).as("vmin"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).as("first"),
        numCsv(slice(col("embedding"), 1, 4)).as("head4"),
        array_contains(col("embedding"), lit(0.0f)).as("has_zero"))
    }, """SELECT vec_id,
         |  list_max(embedding) AS vmax,
         |  list_min(embedding) AS vmin,
         |  CAST(len(embedding) AS BIGINT) AS dim,
         |  embedding[1] AS first,
         |  array_to_string(list_transform(embedding[1:4],
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',') AS head4,
         |  list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero
         |FROM embeddings""".stripMargin),
    Gate("sketch_kmv_overlap", { (s, d) =>
      // contamination screening sketch: how much of corpus B's content
      // already appears in corpus A, estimated from two O(64) KMV
      // sketches over text fingerprints — the oracle reproduces the
      // estimate bit-for-bit from the same mod-P hashes
      val docs = Tables.documents(s, d)
      Sketches.kmvOverlap(
        docs.filter(col("doc_id") % 2 === 0), TextFunctions.polyHash(col("text")),
        docs.filter(col("doc_id") % 3 === 0), TextFunctions.polyHash(col("text")),
        k = 64, seed = 17L)
    }, s"""WITH ka AS (SELECT DISTINCT ${OracleFragments.modPHashSql(
             s"(${OracleFragments.polyHashSql("text")})", 17L)} AS h
          |  FROM documents WHERE doc_id % 2 = 0 ORDER BY h LIMIT 64),
          |kb AS (SELECT DISTINCT ${OracleFragments.modPHashSql(
             s"(${OracleFragments.polyHashSql("text")})", 17L)} AS h
          |  FROM documents WHERE doc_id % 3 = 0 ORDER BY h LIMIT 64),
          |ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
          |  ORDER BY h LIMIT 64),
          |fl AS (SELECT h,
          |  CASE WHEN h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
          |    THEN 1 ELSE 0 END AS inboth FROM ku)
          |SELECT CAST(count(*) AS BIGINT) AS n_union_kept,
          |  CAST(COALESCE(SUM(inboth), 0) AS BIGINT) AS n_both,
          |  CASE WHEN count(*) = 0 THEN 0.0
          |    ELSE CAST(COALESCE(SUM(inboth), 0) AS DOUBLE) / count(*)
          |  END AS jaccard_est,
          |  CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
          |    ELSE 63.0 * 1000000007 / MAX(h) END AS union_est
          |FROM fl""".stripMargin),
    // ---- grouping sets / rollup / cube (superset) ----------------------
    Gate("agg_rollup", { (s, d) =>
      Tables.events(s, d)
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
    }, """SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY ROLLUP(event_type)""".stripMargin),
    Gate("agg_cube", { (s, d) =>
      Tables.events(s, d)
        .cube(col("event_type"), pmod(col("user_id"), lit(2)).as("par"))
        .agg(count(lit(1)).as("n"))
    }, """SELECT event_type, user_id % 2 AS par, COUNT(*) AS n
         |FROM events GROUP BY CUBE(event_type, user_id % 2)""".stripMargin),
    // ---- scalar function families (reference §2.10) --------------------
    Gate("scalar_funcs", { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("ln"),
        pmod(col("l_orderkey"), lit(7)).as("pm"),
        expr("l_orderkey div 7").as("dv"),
        round(log(lit(1.0) + col("l_extendedprice")), 9).as("log_price"),
        (col("l_extendedprice") / 32.0).as("price_norm"),
        rawCsv(sequence(lit(1L), col("l_linenumber").cast("long"))).as("seq"),
        rawCsv(array_repeat(col("l_linenumber").cast("long"), 3)).as("rep"),
        element_at(sequence(lit(1L), col("l_linenumber").cast("long")), 1).as("first_elem"))
    }, """SELECT l_orderkey,
         |  CAST(l_linenumber AS BIGINT) AS ln,
         |  l_orderkey % 7 AS pm,
         |  l_orderkey // 7 AS dv,
         |  round(ln(1.0 + l_extendedprice), 9) AS log_price,
         |  l_extendedprice / 32.0 AS price_norm,
         |  array_to_string(range(1, CAST(l_linenumber AS BIGINT) + 1), ',') AS seq,
         |  array_to_string([CAST(l_linenumber AS BIGINT), CAST(l_linenumber AS BIGINT),
         |   CAST(l_linenumber AS BIGINT)], ',') AS rep,
         |  range(1, CAST(l_linenumber AS BIGINT) + 1)[1] AS first_elem
         |FROM lineitem""".stripMargin),
    Gate("scalar_json", { (s, d) =>
      // JSON column extraction (superset; reference stores plain columns)
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"))
    }, """SELECT event_id,
         |  json_extract_string(props, '$.k') AS k_str,
         |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
         |FROM events""".stripMargin),
    Gate("scalar_dates", { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        trunc(col("o_orderdate"), "month").as("month_start")) // DateType
    }, """SELECT o_orderkey,
         |  CAST(year(o_orderdate) AS BIGINT) AS y,
         |  CAST(month(o_orderdate) AS BIGINT) AS m,
         |  CAST(day(o_orderdate) AS BIGINT) AS dom,
         |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
         |FROM orders""".stripMargin),
    Gate("agg_percentiles", { (s, d) =>
      // exact interpolated percentiles (median etc.)
      Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        round(expr("percentile(l_quantity, 0.5)"), 9).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 9).as("p90"))
    }, """SELECT l_returnflag,
         |  round(quantile_cont(l_quantity, 0.5), 9) AS p50,
         |  round(quantile_cont(l_quantity, 0.9), 9) AS p90
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    Gate("sketch_kmv_distinct", { (s, d) =>
      // portable KMV cardinality sketch over event users: O(k) state,
      // TakeOrderedAndProject top-k of an 8-byte hash — the estimate is
      // reproduced bit-for-bit by the oracle from the same hash
      Sketches.kmvDistinct(Tables.events(s, d), col("user_id"), k = 64, seed = 11L)
    }, s"""WITH h AS (SELECT DISTINCT ${OracleFragments.modPHashSql("user_id", 11L)} AS h FROM events),
          |k AS (SELECT h FROM h ORDER BY h LIMIT 64),
          |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hashes_kept, MAX(h) AS hk FROM k)
          |SELECT CASE WHEN n_hashes_kept < 64 THEN CAST(n_hashes_kept AS DOUBLE)
          |       ELSE 63.0 * ${TextFunctions.P} / hk END AS kmv_estimate, n_hashes_kept
          |FROM s""".stripMargin),
    Gate("sketch_kmv_per_group", { (s, d) =>
      // one O(k) KMV sketch per event type (k=64 < the 150 distinct
      // users, so the estimator path — not the exact-count shortcut —
      // is what the oracle must reproduce)
      Sketches.kmvDistinctPerGroup(Tables.events(s, d),
        col("event_type"), col("user_id"), k = 64, seed = 17L)
        .withColumnRenamed("grp", "event_type")
    }, s"""WITH h AS (SELECT DISTINCT event_type,
          |    ${OracleFragments.modPHashSql("user_id", 17L)} AS h FROM events),
          |r AS (SELECT event_type, h,
          |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
          |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hashes_kept, max(h) AS hk
          |  FROM r WHERE rn <= 64 GROUP BY event_type)
          |SELECT event_type,
          |  CASE WHEN n_hashes_kept < 64 THEN CAST(n_hashes_kept AS DOUBLE)
          |       ELSE 63.0 * ${TextFunctions.P} / hk END AS kmv_estimate,
          |  n_hashes_kept
          |FROM k""".stripMargin),
    Gate("agg_grid_quantiles", { (s, d) =>
      // deterministic two-pass grid quantiles over event values: exact
      // min/max/count, 256-cell integer occupancy, midpoint read-out —
      // the mergeable, engine-portable alternative to approx_percentile
      Sketches.gridQuantiles(Tables.events(s, d), col("value"),
        buckets = 256, qs = Seq(0.5, 0.9, 0.99))
    }, """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
         |mm AS (SELECT min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n FROM v),
         |b AS (SELECT CASE WHEN hi = lo THEN 0
         |    ELSE least(255, CAST(floor((v - lo) / ((hi - lo) / 256)) AS INT)) END AS b
         |  FROM v, mm),
         |c AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY b),
         |cum AS (SELECT a.b, SUM(x.c) AS cum FROM c a JOIN c x ON x.b <= a.b GROUP BY a.b),
         |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
         |t AS (SELECT q, lo, hi, n,
         |    greatest(1, CAST(ceil(q * n) AS BIGINT)) AS tgt FROM qs, mm),
         |m AS (SELECT t.q, t.lo, t.hi, t.n, min(cum.b) AS mb
         |  FROM t JOIN cum ON cum.cum >= t.tgt GROUP BY t.q, t.lo, t.hi, t.n)
         |SELECT q, round(lo + (CAST(mb AS DOUBLE) + 0.5) * ((hi - lo) / 256), 9)
         |    AS grid_quantile, n
         |FROM m""".stripMargin),
    Gate("agg_fixedstep_quantiles", { (s, d) =>
      // ONE-pass quantiles on a fixed-point grid: cell(v)=floor(v/2),
      // so occupancy is a single map-combinable scan and min/max never
      // gates a second pass (the scale path beside the exact two-pass
      // gridQuantiles — see Sketches scaladoc for the contract trade).
      // step=2 is a power of two: (cell+0.5)*2 is exact binary, so the
      // DuckDB mirror is bit-identical.
      Sketches.fixedStepQuantiles(Tables.events(s, d), col("value"),
        step = 2.0, qs = Seq(0.5, 0.9, 0.99))
    },
      // grid math mirrored term-for-term: same bucket expression, same
      // ceil(q*n) target rank, same midpoint read-out
      // isfinite mirrors the Spark side's finite-domain filter (NULL, NaN
      // and ±Inf all dropped on BOTH sides), and the LEFT join mirrors its
      // left-join read-out: an empty domain still yields one row per q
      // (NULL quantile, n = 0) — the two engines agree on ALL inputs, not
      // just the current events data
      """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))),
        |c AS (SELECT CAST(floor(v / 2.0) AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1),
        |n AS (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT) AS n FROM c),
        |cum AS (SELECT a.cell, SUM(x.c) AS cum FROM c a JOIN c x ON x.cell <= a.cell
        |  GROUP BY a.cell),
        |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        |t AS (SELECT q, n, greatest(1, CAST(ceil(q * n) AS BIGINT)) AS tgt FROM qs, n),
        |m AS (SELECT t.q, t.n, min(cum.cell) AS mc
        |  FROM t LEFT JOIN cum ON cum.cum >= t.tgt GROUP BY t.q, t.n)
        |SELECT q, round((CAST(mc AS DOUBLE) + 0.5) * 2.0, 9) AS fixed_quantile, n
        |FROM m""".stripMargin),
    Gate("sketch_cms_heavy_hitters", { (s, d) =>
      // count-min-sketch frequent terms: 3x512 counters of bounded state
      // regardless of corpus size; heavy = estimate >= 1/200 of all
      // occurrences (integer comparison, no FP); exact counts ride
      // along as gate instrumentation proving estimate >= exact
      Sketches.cmsHeavyHitters(
        Tables.documents(s, d)
          .select(explode(TextFunctions.tokenize(col("text"))).as("term")),
        col("term"), width = 512, hhDenom = 200)
    }, {
      // the oracle rebuilds the same 3x512 sketch from the same hash
      // families (CmsMults) and takes the same min-over-rows estimate
      val rows = graft.functions.Sketches.CmsMults.zipWithIndex.map { case (m, i) =>
        s"SELECT term, $i AS r, (${OracleFragments.polyHashSql("term", m)}) % 512 AS b FROM ex"
      }.mkString("\n  UNION ALL ")
      s"""WITH ex AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |hb AS (
         |  $rows),
         |cms AS (SELECT r, b, COUNT(*) AS c FROM hb GROUP BY r, b),
         |cand AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n FROM ex GROUP BY term),
         |cb AS (SELECT DISTINCT term, r, b FROM hb),
         |est AS (SELECT cb.term, CAST(MIN(c.c) AS BIGINT) AS cms_est
         |  FROM cb JOIN cms c USING (r, b) GROUP BY cb.term)
         |SELECT e.term, e.cms_est, t.exact_n
         |FROM est e JOIN cand t USING (term)
         |WHERE e.cms_est * 200 >= (SELECT COUNT(*) FROM ex)""".stripMargin
    }),
    // ---- profiling / snapshot maintenance ------------------------------
    Gate("profile_summary", { (s, d) =>
      // one-pass per-column data-quality profile (exact-DECIMAL means)
      Profile.summary(Tables.events(s, d), Seq("event_id", "user_id", "value"))
    }, """SELECT 'event_id' AS "column", COUNT(*) AS n,
         |  COUNT(*) - COUNT(event_id) AS n_null,
         |  CAST(MIN(event_id) AS DOUBLE) AS min, CAST(MAX(event_id) AS DOUBLE) AS max,
         |  CAST(SUM(CAST(event_id AS DECIMAL(30,10))) AS DOUBLE) / COUNT(event_id) AS mean
         |FROM events
         |UNION ALL
         |SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
         |  CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
         |  CAST(SUM(CAST(user_id AS DECIMAL(30,10))) AS DOUBLE) / COUNT(user_id)
         |FROM events
         |UNION ALL
         |SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
         |  CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE),
         |  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(value)
         |FROM events""".stripMargin),
    Gate("profile_histogram", { (s, d) =>
      // 20-bin equi-width histogram of event values over the observed
      // range; range derived lazily and broadcast, never collected
      Profile.histogram(Tables.events(s, d), col("value"), bins = 20)
    }, """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(value)),
         |s AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
         |binned AS (SELECT CASE WHEN hi <= lo THEN 0
         |    ELSE LEAST(CAST(FLOOR((v - lo) / (hi - lo) * 20) AS BIGINT), 19) END AS bin,
         |  lo AS glo, hi AS ghi FROM v CROSS JOIN s)
         |SELECT bin, glo + bin * (ghi - glo) / 20 AS lo,
         |  glo + (bin + 1) * (ghi - glo) / 20 AS hi,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM binned GROUP BY bin, glo, ghi""".stripMargin),
    Gate("profile_expectations", { (s, d) =>
      // snapshot-commit gate: four expectations in ONE scan — a pass, a
      // ppm-tolerated check, and (deliberately) failing checks so both
      // verdicts are real; null predicate counts as violation
      Profile.expect(Tables.events(s, d), Seq(
        Profile.Expectation("ids_present", col("event_id").isNotNull && col("user_id").isNotNull),
        Profile.Expectation("known_type",
          col("event_type").isin("view", "click", "purchase", "error", "login", "logout")),
        Profile.Expectation("value_in_range", col("value") >= 0 && col("value") < 150,
          maxPpm = 50000L),
        Profile.Expectation("value_small", col("value") < 1.0)))
    },
      // CASTs on the SUMs: avoid DuckDB HUGEINT (see agg_incremental_merge)
      """WITH a AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN COALESCE(event_id IS NOT NULL AND user_id IS NOT NULL, false) THEN 0 ELSE 1 END) AS BIGINT) AS v0,
        |  CAST(SUM(CASE WHEN COALESCE(event_type IN ('view','click','purchase','error','login','logout'), false) THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |  CAST(SUM(CASE WHEN COALESCE(value >= 0 AND value < 150, false) THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN COALESCE(value < 1.0, false) THEN 0 ELSE 1 END) AS BIGINT) AS v3
        |  FROM events)
        |SELECT 'ids_present' AS name, v0 AS violations, n AS n_rows, v0 * 1000000 <= 0 * n AS pass FROM a
        |UNION ALL SELECT 'known_type', v1, n, v1 * 1000000 <= 0 * n FROM a
        |UNION ALL SELECT 'value_in_range', v2, n, v2 * 1000000 <= 50000 * n FROM a
        |UNION ALL SELECT 'value_small', v3, n, v3 * 1000000 <= 0 * n FROM a""".stripMargin),
    Gate("upsert_merge", { (s, d) =>
      // SCD-1 snapshot merge: every 10th event re-arrives mutated, every
      // 17th re-arrives under a fresh key; updates win wholesale
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val updates = base.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), col("user_id"),
          lit("updated").as("event_type"), (col("value") * 2).as("value"))
        .unionAll(base.filter(pmod(col("event_id"), lit(17)) === 0)
          .select((col("event_id") + 10000000L).as("event_id"), col("user_id"),
            lit("new").as("event_type"), col("value")))
      Upsert.merge(base, updates, Seq("event_id"))
    }, """WITH b AS (SELECT event_id, user_id, event_type, value FROM events),
         |u AS (SELECT event_id, user_id, 'updated' AS event_type, value * 2 AS value
         |    FROM b WHERE event_id % 10 = 0
         |  UNION ALL
         |  SELECT event_id + 10000000, user_id, 'new', value
         |    FROM b WHERE event_id % 17 = 0)
         |SELECT COALESCE(u.event_id, b.event_id) AS event_id,
         |  CASE WHEN u.event_id IS NOT NULL THEN u.user_id ELSE b.user_id END AS user_id,
         |  CASE WHEN u.event_id IS NOT NULL THEN u.event_type ELSE b.event_type END AS event_type,
         |  CASE WHEN u.event_id IS NOT NULL THEN u.value ELSE b.value END AS value
         |FROM b FULL OUTER JOIN u ON b.event_id = u.event_id""".stripMargin),
    Gate("agg_incremental_merge", { (s, d) =>
      // materialized-view maintenance: the corpus arrives as two batches
      // (even/odd event ids), each aggregated independently, partials
      // merged with mergeAggState — the oracle aggregates everything at
      // once, so the gate IS the incremental==full proof. Sums in exact
      // integer cents (2-dp values).
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      def aggOf(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      Upsert.mergeAggState(
        aggOf(e.filter(pmod(col("event_id"), lit(2)) === 0)),
        aggOf(e.filter(pmod(col("event_id"), lit(2)) === 1)),
        Seq("event_type"))
    },
      // outer CAST: DuckDB types integer SUM as HUGEINT, which the
      // driver's pandas bridge degrades to float64 and hash-diverges
      // from Spark's int64 on identical values
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin),
    Gate("upsert_scd2", { (s, d) =>
      // SCD-2 history merge: open rows of matched keys close at the
      // update timestamp, updates append as new open rows, closed
      // history is immutable (Upsert.scd2; one key shuffle + union)
      val ts = (x: String) => lit(x).cast(TimestampType)
      val c = Tables.customer(s, d)
      val open = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        ts("2020-01-01").as("valid_from"),
        lit(null).cast(TimestampType).as("valid_to"))
      val closedOld = c.filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") * 0.5).as("c_acctbal"),
          ts("2018-01-01").as("valid_from"), ts("2020-01-01").as("valid_to"))
      val hist = closedOld.unionByName(open)
      val upd = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"),
          ts("2024-06-01").as("ts"))
      Upsert.scd2(hist, upd, Seq("c_custkey"), "ts")
    }, """WITH open AS (
         |  SELECT c_custkey, c_name, c_acctbal,
         |    TIMESTAMP '2020-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
         |  FROM customer),
         |closedOld AS (
         |  SELECT c_custkey, c_name, c_acctbal * 0.5 AS c_acctbal,
         |    TIMESTAMP '2018-01-01' AS valid_from, TIMESTAMP '2020-01-01' AS valid_to
         |  FROM customer WHERE c_custkey % 13 = 0),
         |hist AS (SELECT * FROM closedOld UNION ALL SELECT * FROM open),
         |upd AS (
         |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
         |    TIMESTAMP '2024-06-01' AS uts
         |  FROM customer WHERE c_custkey % 7 = 0)
         |SELECT h.c_custkey, h.c_name, h.c_acctbal, h.valid_from,
         |  CASE WHEN h.valid_to IS NULL AND u.c_custkey IS NOT NULL
         |       THEN u.uts ELSE h.valid_to END AS valid_to
         |FROM hist h LEFT JOIN upd u ON h.c_custkey = u.c_custkey
         |UNION ALL
         |SELECT c_custkey, c_name, c_acctbal, uts AS valid_from,
         |  CAST(NULL AS TIMESTAMP) AS valid_to
         |FROM upd""".stripMargin),
    Gate("snapshot_diff", { (s, d) =>
      // reconciliation: classify keys of two snapshots added / removed /
      // changed (NULL-safe attr compare), unchanged dropped
      val a = Tables.customer(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val b = a.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 89 === 0, col("c_acctbal") + 50.0)
            .otherwise(col("c_acctbal")))
        .unionByName(a.filter(col("c_custkey") % 101 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_name"), col("c_acctbal")))
      Upsert.snapshotDiff(a, b, Seq("c_custkey"))
    }, """WITH a AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         |b AS (
         |  SELECT c_custkey, c_name,
         |    CASE WHEN c_custkey % 89 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal
         |  FROM a WHERE c_custkey % 97 <> 0
         |  UNION ALL
         |  SELECT c_custkey + 1000000, c_name, c_acctbal FROM a WHERE c_custkey % 101 = 0),
         |j AS (
         |  SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
         |    CASE WHEN a.c_custkey IS NULL THEN 'added'
         |         WHEN b.c_custkey IS NULL THEN 'removed'
         |         WHEN a.c_name IS DISTINCT FROM b.c_name
         |           OR a.c_acctbal IS DISTINCT FROM b.c_acctbal THEN 'changed'
         |    END AS status
         |  FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
         |SELECT c_custkey, status FROM j WHERE status IS NOT NULL""".stripMargin),
  )
}
