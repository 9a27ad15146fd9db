package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided test tables (TESTDATA.md). */
object Tables {

  /** Layout redirection: point a (data dir, table) at a staged catalog
    * table (e.g. a LayoutAdvisor-advised bucketed layout) so EVERY
    * query in the engine — the shipped q1–q22 included — reads the
    * optimized layout with zero query changes. This is the thin local
    * stand-in for a catalog that resolves logical table names to
    * physical layouts at cluster scale. Empty by default: gates and
    * Verify always read the flat driver data unless a probe/session
    * explicitly installs redirects. Redirects live in `spark`'s
    * [[graft.plans.LayoutState]]: a session on another Spark context
    * does not see them. */
  def redirect(spark: SparkSession, sfDir: String, name: String, table: String): Unit =
    graft.plans.LayoutState(spark).redirects.put((sfDir, name), table)
  def clearRedirects(spark: SparkSession): Unit = graft.plans.LayoutState(spark).redirects.clear()

  /** Freshness guard on the serving path: a staged layout's record
    * ([[graft.plans.Freshness.RecordFile]]) holds one `base <path>
    * <fingerprint>` line per member, and every serve re-fingerprints
    * those bases (`Freshness.drift`: one listing per member, no job).
    * A drifted base — appended to, or a file rewritten in place —
    * THROWS instead of silently serving stale rows; re-stage is the
    * recovery. Tables without a record (fixtures, layouts staged before
    * the record existed) are unchecked by contract. */
  private def verifyRedirect(spark: SparkSession, sfDir: String, name: String,
      table: String): Unit = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.getPath
    graft.plans.Freshness.read(loc).flatMap(graft.plans.Freshness.drift(spark, _)).foreach { d =>
      throw new IllegalStateException(s"Tables.redirect($sfDir, $name -> $table): $d " +
        "— re-stage the layout (serving it would silently return stale rows)")
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val redirected = Option(graft.plans.LayoutState(spark).redirects.get((sfDir, name)))
    redirected.foreach(verifyRedirect(spark, sfDir, name, _))
    // redirected layouts get the SAME normalization as the flat path:
    // a layout staged from a raw parquet read (stage/stageSorted read
    // the base files directly) carries the un-normalized schema,
    // and serving it raw would silently hand a query long nanos where
    // the flat path hands TimestampType (both transforms below are
    // no-ops on already-normalized schemas)
    val raw = redirected.map(spark.table)
      .getOrElse(graft.sources.FileSchemas.read(spark, Seq(s"$sfDir/$name.parquet")))
    // TIMESTAMP(NANOS) columns arrive as long nanos (nanosAsLong); convert
    // to TimestampType at µs precision — identical to DuckDB's ns→µs
    // truncation, keeping oracle parity. `div` (integer division —
    // truncation toward zero, which EQUALS floor on this non-negative
    // post-epoch nanos domain) avoids the double-precision loss of `/`
    // on epoch-nanos magnitudes.
    val nanosFixed = raw.schema.fields.filter(f => f.name == "ts" && f.dataType == LongType)
      .foldLeft(raw)((df, f) =>
        df.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000"))))
    // µs-naive layouts read as TIMESTAMP_NTZ when a session predates
    // GraftSession's inferTimestampNTZ=false default: normalize to LTZ
    // (session zone is UTC, so the mapping is value-identical to DuckDB's
    // naive read). No-op under GraftSession-built sessions.
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed)((df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = apply(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = apply(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = apply(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = apply(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = apply(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = apply(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = apply(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = apply(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")
}
