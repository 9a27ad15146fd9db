package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, round}

/** Helpers used by gates of more than one family: the array
  * serializations and the money idiom on the query side, shared oracle
  * SQL on the other. */
object Shared {

  /** Driver-checkable serialization of numeric array columns: the gate's
    * pandas checker cannot sort ndarray cells, so every gated query's
    * final projection must be scalar. Float→string formatting differs
    * between engines, but `round(x*1e6)` in double math is bit-identical
    * on both sides (IEEE widening + multiply + half-away-from-zero
    * round), so arrays of floats/doubles travel as CSV of micro-scaled
    * integers. Array-typed forms stay available via the operators and
    * are covered by ScalaTest specs. */
  private[gates] def numCsv(arr: Column): Column =
    graft.functions.expressions.GraftExpressions.micro_csv(arr)

  /** CSV of an integer/string array (formatting is engine-invariant). */
  private[gates] def rawCsv(arr: Column): Column =
    graft.functions.expressions.GraftExpressions.raw_csv(arr)

  /** 2-dp money as exact integer cents — the q1_pricing_summary_cents
    * accumulation discipline: primitive-long partial aggregation in
    * codegen (~2.5× the boxed Decimal path on wide scans) with the SAME
    * bit-exact result as the DECIMAL oracle (both are exact integer
    * arithmetic; the one double division at the end mirrors the oracle's
    * decimal→double cast). Overflow envelope as documented on q1_cents:
    * Σ price_cents·(100−disc_cents) stays under 2^63 to ~9×10⁹ max-price
    * rows per group; ANSI mode throws beyond it rather than wrapping.
    * It is the expression [[graft.plans.RewriteStoredCents.moneyIdiom]]
    * matches, so a stored-cents layout serves it. */
  private[graft] def cents(c: String): Column = round(col(c) * 100).cast("long")

  /** Every event's label through a LEFT lookup on the embeddings table —
    * the batch lookup joins and the streaming enrichment gate answer it. */
  private[gates] val lookupLabelOracle: String =
    """SELECT event_id, user_id, label
      |FROM events LEFT JOIN embeddings ON user_id = vec_id""".stripMargin

  /** Quality-score SQL expression over a `t(doc_id, toks)` CTE —
    * mirrors TextFunctions.qualityScore; shared by the score and
    * quantile-filter gates. */
  private[gates] def qualityExprSql: String =
    s"""(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
       |  + (CAST(len(list_filter(toks, x -> x IN ${OracleFragments.stopwordListSql})) AS DOUBLE)
       |     / CAST(len(toks) AS DOUBLE)) * 0.3
       |  + least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.3""".stripMargin

  /** BM25 oracle CTE chain, final CTE `lex(query_id, doc_id,
    * score_nano, rn)` capped at k — shared by the BM25 gate and the
    * RRF fusion gate. Constants interpolate from the same Scala
    * doubles the Spark side uses (Double.toString round-trips
    * exactly); idf is rounded to 9 decimals before the product and
    * contributions sum as nano BIGINTs. */
  private[gates] def bm25OracleCtes(k: Int): String = {
    val (k1, b) = (1.2, 0.75)
    s"""tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY doc_id, term),
       |dlt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
       |q(query_id, term) AS (VALUES (CAST(0 AS BIGINT), 'spark'), (0, 'join'),
       |  (1, 'hash'), (1, 'table'), (2, 'window'), (2, 'sort'), (2, 'merge')),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
       |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(toks)) AS BIGINT) AS sdl FROM tok),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |    CAST(round(round(ln((n - df + 0.5) / (df + 0.5) + 1.0), 9)
       |      * ((tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl / (CAST(sdl AS DOUBLE) / n))))
       |      * 1e9) AS BIGINT) AS nano
       |  FROM tf JOIN q USING (term) JOIN dfq USING (term) JOIN dlt USING (doc_id) CROSS JOIN st),
       |ag AS (SELECT query_id, doc_id, CAST(sum(nano) AS BIGINT) AS score_nano FROM sc GROUP BY 1, 2),
       |lex AS (SELECT query_id, doc_id, score_nano,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_nano DESC, doc_id) AS BIGINT) AS rn
       |  FROM ag QUALIFY rn <= $k)""".stripMargin
  }

  /** Thresholded-AUC oracle (tf.metrics.auc threshold layout) — shared by
    * the batch and streaming gates, which must agree bit-for-bit. */
  private[gates] def thresholdedAucOracle: String =
    """WITH base AS (
      |  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
      |         least(value / 200.0, 1.0) AS p
      |  FROM events),
      |th AS (
      |  SELECT i, CASE WHEN i = 0 THEN -0.0000001
      |                 WHEN i = 199 THEN 1.0000001
      |                 ELSE i / 199.0 END AS t
      |  FROM range(200) r(i)),
      |cm AS (
      |  SELECT i,
      |    SUM(CASE WHEN p > t AND y = 1 THEN 1 ELSE 0 END) AS tp,
      |    SUM(CASE WHEN p > t AND y = 0 THEN 1 ELSE 0 END) AS fp
      |  FROM th CROSS JOIN base GROUP BY i),
      |tot AS (SELECT SUM(y) AS pos, SUM(1 - y) AS neg FROM base),
      |seg AS (
      |  SELECT i,
      |    tp / CAST(pos AS DOUBLE) AS tpr, fp / CAST(neg AS DOUBLE) AS fpr,
      |    lead(tp) OVER (ORDER BY i) / CAST(pos AS DOUBLE) AS tprN,
      |    lead(fp) OVER (ORDER BY i) / CAST(neg AS DOUBLE) AS fprN
      |  FROM cm, tot)
      |SELECT ROUND(SUM((fpr - fprN) * (tpr + tprN) / 2.0), 9) AS auc
      |FROM seg WHERE i < 199""".stripMargin
}
