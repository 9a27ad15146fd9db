package graft.plans

import graft.sources.{FileSchemas, GraftFiles}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table statistics as PRODUCT: (rowCount, per-column NDV) measured
  * once, persisted beside the session warehouse, and consumed by the
  * engine's cost-aware decisions —
  *
  *  - [[EagerAggregation]] declines a pre-aggregate whose grouping key
  *    is measured ≈unique (NDV ≥ factor × rowCount): every group is a
  *    singleton, so the fire is pure cost. This replaces the
  *    hand-declared `spark.graft.eagerAggregation.uniqueKeys` conf with
  *    measurement wherever stats exist (the conf remains as the
  *    no-stats fallback and user override).
  *  - [[LayoutAdvisor]]'s benefit signal prices equality/IN predicates
  *    at 1/NDV instead of the Selinger 1/10 constant, so the
  *    stage/don't-stage threshold reflects the table actually measured.
  *
  * Estimation is Spark's native HLL++ (`approx_count_distinct`,
  * codegen'd, mergeable across partitions — the same order-free
  * sketch role the engine's KMV aggregators play in queries; default
  * rsd 5%, plenty for the ≈unique / 1-in-N decisions consumed here).
  * One aggregate pass per table, O(|cols| × sketch) driver state.
  *
  * Persistence is one small text file per analyzed identity under
  * `<warehouse>/_graft_stats/`, read and written through
  * [[graft.sources.GraftFiles]] on the warehouse's own filesystem —
  * the local-mode stand-in for a metastore's ANALYZE TABLE output, as
  * [[graft.sources.TabularWriter.attach]] stands in for its table
  * registry. An identity is either a read PATH (comma-joined roots,
  * the advisor's table key) or a staged CATALOG TABLE name
  * ([[alias]] records the staged copy of a base table's stats).
  *
  * Staleness contract: stats only tune optimizer choices — a stale
  * NDV can cost performance, never correctness (EagerAggregation's
  * rewrite is exact whenever it fires; the advisor only ranks).
  * Re-[[analyze]] after a bulk append to restore measurement
  * ([[analyzePathIfMissing]] does so by itself). Staged
  * rollups never go stale this way: staging and every refresh record
  * the rollup's stats from their own write ([[recordWrite]]).
  *
  * Reference analog: the reference hand-tunes its shard counts and
  * fusion choices per pipeline (sharding.py:168-205 fixes the shard
  * key; data_pipeline benchmarks fix batch sizes); measurement-driven
  * choice is superset work the Spark-side optimizer rules can consume.
  */
object TableStats {

  /** Measured statistics for one table identity. `fingerprint` = the
    * [[Freshness]] fingerprint of the files the measurement ran over
    * (None for pre-round-12 records and multi-leaf frames). Consumers
    * holding the live relation ([[EagerAggregation.uniqueKeyBlocks]])
    * compare and IGNORE a measurement whose base drifted — a stale NDV
    * can only cost performance, but a stale ≈unique verdict would
    * silently disable an optimization the grown table now wants (and
    * vice versa). Re-[[analyze]] restores measurement. */
  case class Stats(key: String, rowCount: Long, ndv: Map[String, Long],
      fingerprint: Option[String] = None) {
    /** True when `col` was measured ≈unique: NDV ≥ factor × rowCount.
      * HLL++ at rsd 0.05 estimates a true PK within ±5%, so the 0.9
      * default clears real keys and never triggers below 0.86× true
      * distinctness. */
    def uniqueish(col: String, factor: Double = 0.9): Boolean =
      ndv.get(col).exists(n => rowCount > 0 && n.toDouble >= factor * rowCount)

    /** Measured equality selectivity 1/NDV, None when unmeasured. */
    def selectivityEq(col: String): Option[Double] =
      ndv.get(col).filter(_ > 0).map(n => math.min(1.0, 1.0 / n.toDouble))
  }

  /** JVM-wide: it mirrors the record files, keyed by warehouse and
    * identity, which outlive any one context. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[Stats]]()

  /** Identity normalization: Hadoop qualifies local roots as
    * `file:/x`, users and the driver pass `/x` — both must resolve to
    * ONE registry record (per comma-joined root). */
  private def norm(key: String): String =
    key.split(',').map(_.stripPrefix("file:")).mkString(",")

  /** `key`'s record under the session warehouse's qualified location
    * (the runtime value, `file:` kept; the dir is created on demand). */
  private def fileFor(spark: SparkSession, key: String): Path = new Path(
    spark.conf.get("spark.sql.warehouse.dir"), s"_graft_stats/${FileSchemas.sha1(norm(key))}.stats")

  /** Warehouse dir of a live session (runtime value is file-qualified). */
  def warehouseOf(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** One aggregate pass over `df`: exact rowCount + HLL++ NDV per
    * column of `cols` (columns absent from the frame are skipped, so a
    * projection-advised column list can be passed as-is). Persists
    * under `key` and returns the measurement. */
  def analyze(spark: SparkSession, df: DataFrame, key: String,
      cols: Seq[String]): Stats = {
    val (present, aggs) = measures(df, cols)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    record(spark, key, present, row.getAs[Long], df)
  }

  /** Write `df` through `write` (which must leave catalog table `table`
    * holding exactly `df`'s rows) and record `table`'s stats from that
    * same pass: the written frame carries an `Observation` of
    * [[analyze]]'s aggregates, read once `write` has returned
    * (`Observation.get` blocks until the write's metrics arrive). The
    * record equals what [[analyze]] over the written table records —
    * the row count is exact, HLL++ registers do not depend on row order
    * or partitioning, and the fingerprint is taken of the table's files
    * after `write` — without a second scan of what was just written.
    * Staged rollups record their stats here. */
  def recordWrite(spark: SparkSession, df: DataFrame, table: String,
      cols: Seq[String])(write: DataFrame => Unit): Stats = {
    val (present, aggs) = measures(df, cols)
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, aggs.head, aggs.tail: _*))
    val row = obs.get
    record(spark, table, present, row(_).asInstanceOf[Long], spark.table(table))
  }

  /** The stats aggregates over `df`, named [[RowsCol]] (exact row
    * count) and after each column of `cols` present in the frame
    * (HLL++ NDV; the present columns are returned first). */
  private def measures(df: DataFrame, cols: Seq[String]) = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
    val present = cols.distinct.filter(df.columns.contains)
    (present, count(lit(1L)).as(RowsCol) +:
      present.map(c => approx_count_distinct(col(c)).as(c)))
  }

  private val RowsCol = "_graft_rows"

  /** Persist the [[measures]] values (`value` by name) under `key`,
    * fingerprinted by the file scan under `measured`. */
  private def record(spark: SparkSession, key: String, present: Seq[String],
      value: String => Long, measured: DataFrame): Stats = {
    val stats = Stats(key, value(RowsCol), present.map(c => c -> value(c)).toMap,
      fingerprint = Freshness.leafEntries(measured).map(FileSchemas.fingerprint))
    persist(spark, stats)
    stats
  }

  /** [[analyze]] a parquet read of `path` (comma-joined roots — the
    * advisor's table identity) unless the registry already holds it for
    * the files now under `path`; `refresh` forces re-measurement.
    * Columns missing from an existing record trigger re-analysis so
    * callers can widen the column set, and a record whose fingerprint
    * no longer matches (the files changed, or an older build recorded
    * it) is measured again over the same columns. */
  def analyzePathIfMissing(spark: SparkSession, path: String,
      cols: Seq[String], refresh: Boolean = false): Stats = {
    val existing = if (refresh) None else lookup(spark, path)
    existing.filter(st => st.fingerprint.forall(_ == Freshness.ofPath(spark, path)) &&
      cols.forall(st.ndv.contains)).getOrElse {
      val merged = existing.map(_.ndv.keys.toSeq).getOrElse(Nil) ++ cols
      analyze(spark, FileSchemas.read(spark, path.split(',').toIndexedSeq),
        path, merged.distinct)
    }
  }

  /** Record `stats` under a second identity (e.g. the catalog table a
    * layout was staged as — same rows, same NDV). The fingerprint is
    * DROPPED: it proves the measurement of the SOURCE files, and the
    * aliased identity's own files are different bytes (the staged
    * copy) — an aliased record stays advisory-unchecked, exactly the
    * pre-round-12 contract. */
  def alias(spark: SparkSession, stats: Stats, asKey: String): Unit =
    persist(spark, stats.copy(key = asKey, fingerprint = None))

  /** Lookup by identity: in-process cache, then the registry file.
    * Negative results are cached too — [[analyze]]/[[alias]] update the
    * cache, so a same-process write is always visible; a DIFFERENT
    * process's later write shows up in the next JVM (documented: stats
    * are advisory, never load-bearing for correctness). Runs inside the
    * optimizer ([[EagerAggregation]]), so a file that cannot be read (a
    * failed checksum included) counts as absent, never fails the query. */
  def lookup(spark: SparkSession, key: String): Option[Stats] =
    cache.computeIfAbsent((warehouseOf(spark), norm(key)), { _ =>
      val text = try GraftFiles.read(spark, fileFor(spark, key))
        catch { case _: java.io.IOException => None }
      // format: `key <id>` / `rows <n>` / `fp <hash>` / `ndv <col> <n>`...;
      // a corrupt file is treated as absent (advisory data)
      val kv = text.toSeq.flatMap(_.split("\n")).map(_.trim.split(" ", 2))
        .collect { case Array(k, v) => (k, v) }
      kv.collectFirst { case ("rows", v) if v.forall(_.isDigit) => v.toLong }.map { rows =>
        val ndv = kv.collect { case ("ndv", v) => v.split(" ") }
          .collect { case Array(c, n) if n.forall(_.isDigit) => c -> n.toLong }.toMap
        Stats(key, rows, ndv, kv.collectFirst { case ("fp", v) => v })
      }
    })

  /** Drop every cached entry (tests; cross-process refresh). */
  def invalidateCache(): Unit = cache.clear()

  /** Delete the record of every file read under `df` and drop the
    * cache: a spec that needs unmeasured tables creates that state. */
  private[graft] def forget(spark: SparkSession, df: DataFrame): Unit = {
    df.queryExecution.analyzed.collectLeaves()
      .collect { case FileLeaf(_, _, key) => GraftFiles.delete(spark, fileFor(spark, key)) }
    invalidateCache()
  }

  private def persist(spark: SparkSession, stats: Stats): Unit = {
    val body = (Seq(s"key ${stats.key}", s"rows ${stats.rowCount}") ++
      stats.fingerprint.map(f => s"fp $f").toSeq ++
      stats.ndv.toSeq.sortBy(_._1).map { case (c, n) => s"ndv $c $n" })
      .mkString("", "\n", "\n")
    GraftFiles.write(spark, fileFor(spark, stats.key), body)
    cache.put((warehouseOf(spark), norm(stats.key)), Some(stats))
  }
}
