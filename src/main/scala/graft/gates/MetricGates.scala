package graft
package gates

import graft.functions.Metrics
import graft.operators.Classifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Metric gates: accuracy, AUC/GAUC, ranking and calibration
  * metrics, and the distributed classifier. */
object MetricGates {

  /** Shared by metric_gauc and its sorted-scan plan variant, whose
    * results must be bit-identical. */
  private val gaucOracle =
    s"""WITH ${OracleFragments.gaucCtes},
       |pa AS (
       |  SELECT g, (posRankSum - p * (p + 1) / 2.0) / (CAST(p AS DOUBLE) * n) AS auc, cnt
       |  FROM pg WHERE p > 0 AND n > 0)
       |SELECT ROUND(SUM(auc * cnt) / SUM(cnt), 9) AS gauc FROM pa""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("metric_mean_aggregator", { (s, d) =>
      // the typed Aggregator surface (reference's streaming mean
      // metric-variable form) through the gate
      val agg = udaf(new Metrics.MeanAggregator)
      Tables.lineitem(s, d)
        .agg(round(agg(col("l_quantity"), col("l_discount")), 9).as("wmean"))
    }, """SELECT round(SUM(l_quantity * l_discount) / SUM(l_discount), 9) AS wmean
         |FROM lineitem""".stripMargin),
    // ---- metrics (reference §2.7) --------------------------------------
    Gate("metric_weighted_mean", { (s, d) =>
      // weighted mean in exact decimal arithmetic for oracle parity
      val dec = (c: String) => col(c).cast(DecimalType(12, 2))
      Tables.lineitem(s, d).agg(
        (sum(dec("l_quantity") * dec("l_discount")).cast(DoubleType)
          / sum(dec("l_discount")).cast(DoubleType)).as("wmean"))
    }, """SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
         |     / CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS wmean
         |FROM lineitem""".stripMargin),
    Gate("metric_accuracy", { (s, d) =>
      Tables.events(s, d).agg(
        Metrics.accuracy(col("event_type") === "error", col("value") > 100.0)
          .as("accuracy"))
    }, """SELECT CAST(SUM(CASE WHEN (event_type = 'error') = (value > 100) THEN 1 ELSE 0 END) AS DOUBLE)
         |     / COUNT(*) AS accuracy FROM events""".stripMargin),
    Gate("metric_auc", { (s, d) =>
      Metrics.aucExact(Tables.events(s, d), col("event_type") === "error", col("value"))
    }, """WITH g AS (
         |  SELECT value AS s, COUNT(*) AS cnt,
         |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS pos
         |  FROM events GROUP BY value),
         |r AS (
         |  SELECT pos, cnt,
         |         COALESCE(SUM(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumBefore
         |  FROM g)
         |SELECT (SUM(pos * (cumBefore + (cnt + 1) / 2.0)) - SUM(pos) * (SUM(pos) + 1) / 2.0)
         |     / (CAST(SUM(pos) AS DOUBLE) * SUM(cnt - pos)) AS auc
         |FROM r""".stripMargin),
    Gate("metric_gauc", { (s, d) =>
      Metrics.gauc(Tables.events(s, d), col("user_id"), col("event_type") === "error", col("value"))
        .select(round(col("gauc"), 9).as("gauc"))
    }, gaucOracle),
    Gate("metric_gauc_sorted", { (s, d) =>
      // the sorted-scan per-group kernel (reference gauc.cc design) —
      // same oracle as metric_gauc: results are bit-identical
      Metrics.gaucSorted(Tables.events(s, d), col("user_id"), col("event_type") === "error", col("value"))
        .select(round(col("gauc"), 9).as("gauc"))
    }, gaucOracle),
    Gate("metric_gauc_per_group", { (s, d) =>
      Metrics.gaucPerGroup(
        Tables.events(s, d), col("user_id"), col("event_type") === "error", col("value"))
    }, s"""WITH ${OracleFragments.gaucCtes}
          |SELECT g AS "group",
          |       (posRankSum - p * (p + 1) / 2.0) / (CAST(p AS DOUBLE) * n) AS auc, cnt
          |FROM pg WHERE p > 0 AND n > 0""".stripMargin),
    Gate("metric_ndcg", { (s, d) =>
      // graded-relevance ranking quality per user: purchase(3) > click(2)
      // > view(1) > error(0), model order = value desc, NDCG@10
      val rel = when(col("event_type") === "purchase", 3)
        .when(col("event_type") === "click", 2)
        .when(col("event_type") === "view", 1).otherwise(0)
      Metrics.ndcgAtK(Tables.events(s, d), col("user_id"), rel,
        col("value"), col("event_id"), k = 10)
    }, """WITH e AS (SELECT user_id AS g,
         |    CAST(CASE WHEN event_type = 'purchase' THEN 3
         |         WHEN event_type = 'click' THEN 2
         |         WHEN event_type = 'view' THEN 1 ELSE 0 END AS DOUBLE) AS r,
         |    value, event_id FROM events),
         |p AS (SELECT g, r,
         |    row_number() OVER (PARTITION BY g ORDER BY value DESC, event_id) AS pos,
         |    row_number() OVER (PARTITION BY g ORDER BY r DESC, event_id) AS ipos
         |  FROM e),
         |d AS (SELECT g,
         |    SUM(CASE WHEN pos <= 10 THEN (pow(2, r) - 1) / log2(pos + 1) ELSE 0 END) AS dcg,
         |    SUM(CASE WHEN ipos <= 10 THEN (pow(2, r) - 1) / log2(ipos + 1) ELSE 0 END) AS idcg
         |  FROM p GROUP BY g)
         |SELECT g AS "group", round(dcg / idcg, 9) AS ndcg FROM d WHERE idcg > 0""".stripMargin),
    Gate("metric_mrr", { (s, d) =>
      // where does the first purchase land in each user's value-ranked
      // feed? (mean reciprocal rank@10)
      Metrics.mrrAtK(Tables.events(s, d), col("user_id"),
        col("event_type") === "purchase", col("value"), col("event_id"), k = 10)
    }, """WITH p AS (SELECT user_id AS g,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS pos
         |  FROM events),
         |f AS (SELECT g, MIN(CASE WHEN y = 1 AND pos <= 10 THEN pos END) AS firstRel
         |  FROM p GROUP BY g)
         |SELECT round(AVG(COALESCE(CAST(1 AS DOUBLE) / firstRel, 0.0)), 9) AS mrr,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups FROM f""".stripMargin),
    Gate("metric_calibration", { (s, d) =>
      // is value/200 an honest error-probability? 10-bin ECE. value is
      // pre-filtered for null/NaN BEFORE the least() clamp so the gate
      // mirrors the oracle's WHERE even on dirty data (Spark's least()
      // would otherwise skip NULL and clamp NaN to 1.0)
      Metrics.calibrationError(
        Tables.events(s, d).filter(col("value").isNotNull && !isnan(col("value"))),
        col("event_type") === "error", least(col("value") / 200.0, lit(1.0)), bins = 10)
    }, """WITH b AS (SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
         |    least(value / 200.0, 1.0) AS p FROM events
         |    WHERE value IS NOT NULL AND NOT isnan(value)),
         |bb AS (SELECT LEAST(GREATEST(CAST(FLOOR(p * 10) AS BIGINT), 0), 9) AS bin,
         |    p, y FROM b),
         |agg AS (SELECT bin, COUNT(*) AS nb, SUM(p) AS sp, SUM(y) AS sy
         |  FROM bb GROUP BY bin)
         |SELECT round(SUM(abs(sp / nb - CAST(sy AS DOUBLE) / nb) * nb) / SUM(nb), 9) AS ece,
         |  CAST(SUM(nb) AS BIGINT) AS n
         |FROM agg""".stripMargin),
    Gate("classifier_train_lr", { (s, d) =>
      // distributed full-batch GD on hard-sigmoid logistic loss (the
      // corpus-curation quality-classifier loop) — pure fixed-point:
      // one d-long Aggregator buffer per iteration, driver holds only
      // weights; the oracle re-trains bit-for-bit
      val feats = Classifier.embeddingFeatures(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), col("label") < 5, scale = 1000.0)
      Classifier.weightsFrame(feats, d = 65, iters = 3, lrMilli = 4000L)
    }, s"""WITH ${OracleFragments.lrCtes(65, 3, 4000L, "label < 5")}
          |SELECT j, w AS w_nano FROM w3""".stripMargin),
    Gate("classifier_lr_confusion", { (s, d) =>
      // the trained model applied back over the corpus: confusion
      // matrix of [p >= 1/2] vs the weak label — one narrow map over a
      // weight literal + a 4-group aggregate
      val feats = Classifier.embeddingFeatures(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), col("label") < 5, scale = 1000.0)
      Classifier.confusion(feats, d = 65, iters = 3, lrMilli = 4000L)
    }, s"""WITH ${OracleFragments.lrCtes(65, 3, 4000L, "label < 5")},
          |zf AS (SELECT xj.vec_id, xj.y, CAST(SUM(xj.xv * w.w) AS BIGINT) // 1000 AS zn
          |  FROM xj JOIN w3 w ON w.j = xj.j GROUP BY xj.vec_id, xj.y)
          |SELECT y, CASE WHEN GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000000000 AS BIGINT),
          |    500000000 + zn // 4)) >= 500000000
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM zf GROUP BY y, pred""".stripMargin),
    // ---- reference-exact consecutive GAUC (gauc.cc:100-116) ------------
    Gate("metric_gauc_consecutive", { (s, d) =>
      // run-detection needs a GLOBAL order (single-partition window by
      // design — the documented reference-exact mode; gauc/gaucSorted
      // are the scale paths), so the gate evaluates it on a bounded
      // slice: a no-op at gate scale (sf0.01 has 10k events) that stops
      // the one legitimately-serial mode from serializing a 100x bench
      Metrics.gaucConsecutive(
        Tables.events(s, d).filter(col("event_id") < 50000),
        col("event_id"), col("user_id"),
        col("event_type") === "error", col("value"))
    }, """WITH base AS (
         |  SELECT event_id AS o, user_id AS ind, value AS s,
         |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
         |  FROM events WHERE event_id < 50000),
         |runs AS (
         |  SELECT *, CASE WHEN lag(ind) OVER (ORDER BY o) IS NULL
         |                   OR lag(ind) OVER (ORDER BY o) != ind THEN 1 ELSE 0 END AS isNew
         |  FROM base),
         |grps AS (
         |  SELECT *, SUM(isNew) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM runs),
         |ranked AS (
         |  SELECT grp, y,
         |         rank() OVER (PARTITION BY grp ORDER BY s)
         |           + (COUNT(*) OVER (PARTITION BY grp, s) - 1) / 2.0 AS avgRank
         |  FROM grps WHERE grp > 1),
         |pg AS (
         |  SELECT grp, SUM(CASE WHEN y = 1 THEN avgRank ELSE 0 END) AS posRankSum,
         |         SUM(y) AS p, SUM(1 - y) AS n, COUNT(*) AS cnt
         |  FROM ranked GROUP BY grp),
         |pa AS (
         |  SELECT (posRankSum - p * (p + 1) / 2.0) / (CAST(p AS DOUBLE) * n) AS auc, cnt
         |  FROM pg WHERE p > 0 AND n > 0)
         |SELECT ROUND(SUM(auc * cnt) / SUM(cnt), 9) AS gauc FROM pa""".stripMargin),
    // ---- streaming thresholded AUC (reference metrics/auc.py) ----------
    Gate("metric_auc_thresholded", { (s, d) =>
      val agg = udaf(new Metrics.ThresholdedAuc(200))
      Tables.events(s, d)
        .select(
          when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"),
          least(col("value") / 200.0, lit(1.0)).as("p"))
        .agg(round(agg(col("y"), col("p")), 9).as("auc"))
    }, thresholdedAucOracle),
  )
}
