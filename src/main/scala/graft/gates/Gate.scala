package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: `build` returns its result over a sf dir, and
  * `oracleSql` is the ANSI SQL that DuckDB runs on the same parquet
  * tables and that must give the same answer. An operator with no SQL
  * formulation gates its SQL-provable invariants instead (BPE
  * losslessness in `text_bpe_tokens`; Bessel, centering and variance
  * ordering in `embedding_pca_project`).
  *
  * Numeric discipline for oracle parity: money/quantity sums are
  * accumulated in DECIMAL (exact, order-independent) and cast to DOUBLE
  * in the final projection, so Spark and DuckDB produce bit-identical
  * results regardless of aggregation order. Every computed column is
  * aliased identically in the Spark plan and the oracle SQL.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

object Gate {

  /** `gates` as given, once no two share a name: a map keyed by name
    * would silently keep only the last of them. */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val dup = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty, s"duplicate gate names: ${dup.toSeq.sorted.mkString(", ")}")
    gates
  }
}
