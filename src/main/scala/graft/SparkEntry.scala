package graft

import graft.gates._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. Each query and the oracle SQL
  * that checks it are declared once, as one [[graft.gates.Gate]] in its
  * family's file under `gates/`; both maps below derive from that list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The Taobao-shaped pipeline is the reference's canonical workload:
    * scan -> per-user ordered history collect -> left join + []-fill ->
    * per-row event-time window clip (SURVEY §6). */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_taobao_shaped")(spark, "/root/testdata/sf0.001")

  private[graft] val gates: Seq[Gate] = Gate.unique(
    RelationalGates.gates ++ ScanGates.gates ++ AggGates.gates ++
      DedupGates.gates ++ TextGates.gates ++ LayoutGates.gates ++
      MetricGates.gates ++ StreamGates.gates ++ SampleGates.gates ++
      VectorGates.gates ++ MultimodalGates.gates ++ FeatureGates.gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracleSql).toMap
}
