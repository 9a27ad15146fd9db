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

  /** Fails, naming every unknown query (sorted), unless all `names`
    * are declared — the dev mains call it before they start Spark. */
  def requireKnown(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(queries.contains).toSeq.sorted
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** The names of a comma-separated list, trimmed, empty ones dropped;
    * fails on an empty list or (see [[requireKnown]]) an unknown name.
    * Every dev main reads its name list through here. */
  def parseNames(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "empty query list")
    requireKnown(names)
    names
  }
}
