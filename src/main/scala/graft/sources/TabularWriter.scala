package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Columnar sinks — the reference writes Parquet with pyarrow
  * (SNAPPY/ZSTD, dictionary encoding; reference:
  * docs/tutorial/ranking/taobao/data/prep_2_bahavior.py:54-59). Spark's
  * writers cover the same surface; this wrapper pins the options. */
object TabularWriter {

  def toParquet(df: DataFrame, path: String,
      compression: String = "snappy", overwrite: Boolean = true): Unit =
    df.write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .option("compression", compression)
      .parquet(path)

  def toOrc(df: DataFrame, path: String,
      compression: String = "snappy", overwrite: Boolean = true): Unit =
    df.write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .option("compression", compression)
      .orc(path)

  /** Hive-layout partitioned write: one directory tree level per
    * partition column, so downstream reads with partition-key
    * predicates plan `PartitionFilters` and never open non-matching
    * files (asserted in PruningSpec). */
  def toPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      compression: String = "snappy"): Unit =
    df.write.mode("overwrite")
      .option("compression", compression)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Co-located bucketed layout: hash-bucket the rows on `key` into
    * `buckets` files per partition at WRITE time and register the
    * result as a catalog table. Every later per-`key` aggregate or
    * `key`-equi-join over the table plans WITHOUT an exchange — the
    * write IS the shuffle, paid once (PERF.md round-8: the x200
    * per-order rollup drops 11.7→3.8 s, full q18 10.2→4.1 s — 2×
    * faster than DuckDB — q21 9.3→6.1 s, q5 8.7→5.7 s). Carry only the
    * columns the query class needs: bucketed-scan cost is linear in
    * stored width. Reference analog: the id-partitioned embedding
    * layout (embedding/sharding.py:168-205) — reduction happens where
    * the key lives, not where the row was read. */
  def toBucketedTable(df: DataFrame, table: String, key: String,
      buckets: Int, sorted: Boolean = true): Unit = {
    require(buckets > 0, s"toBucketedTable: buckets must be positive, got $buckets")
    // sorted layout: pre-repartition on the key into exactly `buckets`
    // partitions (the writer-side murmur3 mapping is identical to the
    // bucket-id function), so every bucket lands as ONE sorted file.
    // Spark only trusts — and only REPORTS — a bucketed table's sort
    // order when each bucket is a single file; with that proven, a
    // per-key aggregate can plan as a streaming SortAggregate holding
    // one group's state at a time instead of a groups-sized hash table
    // (PERF.md round-9: the x200 per-order rollup drops 2.4→1.6 s on
    // the identical layout; requires the two confs GraftSession sets —
    // legacy.bucketedTableScan.outputOrdering + replaceHashWithSortAgg).
    // Scan parallelism is unchanged (bucketed scans are one task per
    // bucket regardless of file count); size `buckets` so one bucket's
    // rows fit a task, exactly like the reference's id-partitioned
    // embedding shards (embedding/sharding.py:168-205).
    import org.apache.spark.sql.functions.col
    val src = if (sorted) df.repartition(buckets, col(key)) else df
    val w = src.write.mode("overwrite").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
    // post-write assertion: the streaming-plan property is PHYSICAL
    // (one file per bucket) and Spark degrades silently when it breaks
    // — the scan just stops reporting order and every reader falls back
    // to hash aggregation. Fail here, at the write, instead.
    if (sorted) assertOneFilePerBucket(df.sparkSession, table)
    // sidecar for attach(): bucket membership is physical — BOTH the
    // count and the KEY travel with the files (empty trailing buckets
    // write no file, so the file list alone cannot prove the staged
    // count; nothing in the files proves the hash key at all)
    GraftFiles.write(df.sparkSession, new Path(GraftFiles.locationOf(df.sparkSession, table),
      BucketSidecar), s"$buckets $key")
  }

  private[graft] val BucketSidecar = "_graft_buckets"

  /** Append rows to an existing bucketed table created by
    * [[toBucketedTable]], preserving the bucket spec (validated against
    * the catalog — a mismatched spec is rejected by Spark's writer
    * rather than silently corrupting the bucketing).
    *
    * WHAT SURVIVES an append: the co-location property. The bucket-id
    * function is deterministic (murmur3 pmod buckets), so appended rows
    * land in the same bucket as existing rows with the same key —
    * per-key aggregates and key-equi-joins still plan with ZERO
    * exchange.
    *
    * WHAT BREAKS: the streaming-sort property. Each bucket now holds
    * ≥2 files (sorted internally, but Spark only trusts — and only
    * reports — a bucketed scan's sort order when every bucket is ONE
    * file), so per-key aggregates fall back from the streaming
    * SortAggregate to an exchange-free HashAggregate, and co-located
    * joins re-sort at query time. Run [[compactBuckets]] after an
    * append batch (or on a cadence — the classic LSM-style tradeoff) to
    * restore the streaming plans; BucketingSpec pins both plan shapes.
    *
    * The appended frame is pre-repartitioned onto the bucket function,
    * so one append adds at most ONE new file per bucket — without it,
    * every writing task would emit a file into every bucket it holds
    * rows for and N appends × M tasks files would swamp the scan.
    * Reference analog: the reference re-shards the whole embedding
    * table on every variable rebuild (embedding/sharding.py:168-205) —
    * this is the same rewrite-vs-append tension, resolved as
    * cheap-append + explicit compaction instead of always-rewrite. */
  def appendToBucketedTable(df: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spec = bucketSpecOf(df.sparkSession, table)
    val key = spec.bucketColumnNames.head
    val src = df.repartition(spec.numBuckets, col(key))
    val w = src.write.mode("append").bucketBy(spec.numBuckets, key)
    (if (spec.sortColumnNames.nonEmpty)
       w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else w).saveAsTable(table)
  }

  /** Rewrite a bucketed table so every bucket is again ONE sorted file,
    * restoring the streaming SortAggregate / no-query-time-sort plans
    * after [[appendToBucketedTable]] calls have accumulated files. The
    * rewrite is a single data pass with NO exchange on the read side
    * (the scan is already bucketed) and lands via [[swap]] (table →
    * `__precompact`, compacted `__compacting` → table, drop aside).
    * Cost model at 100 TB: one sequential rewrite of the table — the
    * same price as the original layout write — amortized over every
    * append since the last compaction (LSM economics). */
  def compactBuckets(spark: SparkSession, table: String): Unit = {
    val spec = bucketSpecOf(spark, table)
    val key = spec.bucketColumnNames.head
    // one task per bucket merging that bucket's files: a single pass,
    // ZERO exchange — compaction costs IO, not a shuffle
    swap(spark, table, "__compacting", "__precompact") { tmp =>
      withBucketedScan(spark)(
        toBucketedTable(spark.table(table), tmp, key, spec.numBuckets, sorted = true))
    }
  }

  /** Run `body` with every bucketed table read as a BUCKETED scan (one
    * task per bucket), restoring the session's setting afterwards. A
    * V1 write declares no distribution requirement, so
    * DisableUnnecessaryBucketedScan would plan a per-FILE scan of a
    * table being rewritten into its own bucketing — while the
    * repartition inside [[toBucketedTable]] is elided because the
    * relation reports the matching hash partitioning — and each
    * file-task would write its own per-bucket file: a compaction would
    * REPRODUCE the multi-file state it exists to fix (observed, not
    * hypothetical), and a rollup refresh's merge would lose the
    * partitioning its exchange-free aggregate relies on. */
  private[graft] def withBucketedScan[T](spark: SparkSession)(body: => T): T = {
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(auto)
    spark.conf.set(auto, "false")
    try body finally spark.conf.set(auto, prev)
  }

  /** Replace catalog table `table` in place with what `write` creates
    * under `table + tmpSuffix` — the one RENAME-ASIDE swap
    * ([[compactBuckets]], `MaterializedAggs.refreshRollup`): clear a
    * stale tmp, write tmp, clear a stale aside, rename `table` aside,
    * rename tmp in, drop the aside copy. Not drop-then-rename: a
    * managed-table DROP deletes its data, so a crash between the two
    * would leave the new copy as the ONLY copy under the wrong name;
    * here every crash window keeps BOTH copies on disk.
    * RECOVERY RUNBOOK (a crash between the renames leaves no `table`):
    * `ALTER TABLE `<table><asideSuffix>` RENAME TO `<table>`` restores
    * the original; the new copy under `<table><tmpSuffix>` can be
    * dropped or swapped in by hand, and the next swap clears it anyway.
    * [[compactCrashHook]] fires in that window — BucketingSpec
    * (compaction) and MaterializedAggSpec (refresh) prove the recovery.
    * On an object store `RENAME TO` is copy-then-delete, so each rename
    * is a crash window that can leave part of a copy at `table`'s
    * location. A refreshed rollup's layout record refuses every such
    * state on attach: the new copy has none until the swap returns, the
    * original's no longer matches its grown base (StagingLifecycleSpec
    * shows `no layout record` after a crash between the renames). A
    * compaction's copies carry only `_graft_buckets`, which cannot tell
    * a partial copy: re-stage after such a crash. */
  private[graft] def swap(spark: SparkSession, table: String, tmpSuffix: String,
      asideSuffix: String)(write: String => Unit): Unit = {
    val (tmp, aside) = (table + tmpSuffix, table + asideSuffix)
    clearStale(spark, tmp)
    write(tmp)
    clearStale(spark, aside)
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$aside`")
    compactCrashHook()
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$aside`")
  }

  /** Test-only injection point: invoked between [[swap]]'s two renames
    * — the widest crash window the swap has. Production no-op. */
  private[graft] var compactCrashHook: () => Unit = () => ()

  /** Drop catalog table `table` if registered and delete its default
    * warehouse location: the warehouse outlives the in-memory catalog,
    * and CREATE / saveAsTable refuse a location a previous JVM or a
    * crashed swap left behind. */
  private[graft] def clearStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    GraftFiles.delete(spark, GraftFiles.locationOf(spark, table))
  }

  /** Register ALREADY-STAGED bucketed data (written by a previous
    * session's [[toBucketedTable]]) as an EXTERNAL catalog table — no
    * data rewrite, one DDL statement. Spark's local catalog is
    * in-memory, so a fresh JVM forgets every staged layout while the
    * warehouse files live on; at cluster scale a persistent metastore
    * holds this mapping, and `attach` is its local-mode stand-in. The
    * bucket-file naming is the writer's own, so the re-registered scan
    * keeps the full co-location (and, via [[assertOneFilePerBucket]],
    * streaming-sort) properties. Schema is read from the parquet
    * footers. */
  def attach(spark: SparkSession, table: String, path: String, key: String,
      buckets: Int, sorted: Boolean = true): Unit = {
    // Spark trusts the DECLARED spec: a wrong count or key makes every
    // co-located plan skip its exchange over misplaced rows — silent
    // corruption. The files' bucket ids bound the count; only the
    // writer's sidecar proves it AND the key (empty trailing buckets
    // write no file, no file records the key): files without it refuse.
    val ids = bucketIds(spark, new Path(path))
    require(ids.nonEmpty, s"attach($table): no bucketed data files under $path")
    require(ids.max < buckets,
      s"attach($table): declared $buckets buckets but files carry bucket id " +
        s"${ids.max} — the location was staged with a different bucket count; " +
        "attach with the ORIGINAL count (bucket membership is physical)")
    val sidecar = new Path(path, BucketSidecar)
    val raw = GraftFiles.read(spark, sidecar).getOrElse(throw new IllegalArgumentException(
      s"attach($table): no $BucketSidecar under $path — nothing proves its bucket " +
        "count and key; re-stage the layout (toBucketedTable writes the sidecar)")).trim
    val (staged, stagedKey) = raw.split("\\s+") match {
      case Array(n, k) if n.forall(_.isDigit) => (n.toInt, k)
      case _ => throw new IllegalArgumentException(s"attach($table): sidecar $sidecar is " +
        s"corrupt — expected `<bucketCount> <key>`, found `$raw`; re-stage the layout " +
        "(toBucketedTable rewrites the sidecar)")
    }
    require(staged == buckets,
      s"attach($table): declared $buckets buckets but $path was staged " +
        s"with $staged (sidecar $BucketSidecar) — attach with the staged count")
    require(stagedKey.equalsIgnoreCase(key),
      s"attach($table): declared bucket key `$key` but $path was staged " +
        s"hashed on `$stagedKey` (sidecar $BucketSidecar) — bucket " +
        "membership is physical; attach with the staged key")
    val schema = FileSchemas.read(spark, Seq(path)).schema.toDDL
    val sortClause = if (sorted) s"SORTED BY (`$key` ASC) " else ""
    spark.sql(
      s"CREATE TABLE `$table` ($schema) USING parquet " +
        s"CLUSTERED BY (`$key`) ${sortClause}INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
    if (sorted) assertOneFilePerBucket(spark, table)
  }

  private def bucketSpecOf(spark: SparkSession, table: String) = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not a bucketed table (use toBucketedTable to create one)"))
  }

  /** Bucket id of every data file of the [[FileSchemas.inventory]] of
    * `loc` (ids parsed from the writer's `part-NNNNN-<uuid>_<bucketId>.c000…`
    * naming; sidecars and markers are not in the inventory). */
  private def bucketIds(spark: SparkSession, loc: Path): Seq[Int] = {
    val bucketId = "_(\\d{5})\\.".r
    FileSchemas.inventory(spark, Seq(loc.toString)).toSeq.flatMap(_.entries)
      .flatMap(e => bucketId.findFirstMatchIn(new Path(e.path).getName).map(_.group(1).toInt))
  }

  /** Asserts every bucket of `table` is one data file — the physical
    * precondition for the scan to report its per-bucket sort order. */
  private[graft] def assertOneFilePerBucket(spark: SparkSession, table: String): Unit = {
    val ids = bucketIds(spark, GraftFiles.locationOf(spark, table))
    val dup = ids.groupBy(identity).collect { case (id, fs) if fs.length > 1 => id }
    require(dup.isEmpty,
      s"toBucketedTable($table): bucket(s) ${dup.toSeq.sorted.mkString(",")} have " +
        "multiple files — the streaming sorted-scan plan needs ONE file per " +
        "bucket; appends accumulate files, run compactBuckets to restore it")
  }

  /** Sort-clustered layout: range-partition the rows on `sortCols` and
    * sort within each output file, so every file (and every row group
    * inside it) covers a DISJOINT key range. Parquet footers then carry
    * tight min/max stats and a range predicate prunes whole files/row
    * groups at scan time — the sorted-layout analogue of hive
    * partitioning for high-cardinality or continuous keys, where a
    * directory per value is infeasible. PruningSpec proves the
    * disjointness from the written footers. */
  def toRangeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      numFiles: Int, compression: String = "snappy"): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").option("compression", compression).parquet(path)
  }

  /** Z-ordered (Morton-curve) two-dimensional layout: sort the data by
    * the bit-interleave of two keys before writing, so each output
    * file's footer stats carry a NARROW [min, max] on BOTH keys and a
    * box predicate on either (or both) prunes whole files/row-groups.
    * The single-key answer ([[toRangeSorted]]) clusters one dimension
    * perfectly and leaves the other unclustered; z-order trades a
    * little of each for pruning power on both — the standard lakehouse
    * layout move for two-key workloads. The z column is dropped before
    * the write: the layout is carried by row ORDER + footer stats, the
    * schema is unchanged. */
  def toZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, compression: String = "snappy"): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    // normalize both keys to equal-width 15-bit buckets first: raw
    // interleave of unequal domains degenerates to a single-key sort
    // (the wider key owns every leading bit). Equi-width is the shared
    // Buckets.rangeBucket; the min/max pass is one narrow map-side agg
    // broadcast as a one-row frame, keeping the plan fully lazy.
    val bits = 15
    // FINITE domain stats (Buckets.finiteOrNull): one NaN/Inf row would
    // otherwise poison hi/lo, flatten that axis to a single bucket and
    // silently destroy the clustering (files stop carrying narrow
    // min/max, box predicates stop pruning)
    def fin(c: String) = graft.operators.Buckets.finiteOrNull(col(c).cast("double"))
    val stats = df.agg(
      min(fin(xCol)).as("__xlo"), max(fin(xCol)).as("__xhi"),
      min(fin(yCol)).as("__ylo"), max(fin(yCol)).as("__yhi"))
    val bx = graft.operators.Buckets.rangeBucket(
      col(xCol).cast("double"), col("__xlo"), col("__xhi"), 1 << bits)
    val by = graft.operators.Buckets.rangeBucket(
      col(yCol).cast("double"), col("__ylo"), col("__yhi"), 1 << bits)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", graft.functions.expressions.GraftExpressions
        .z_order(bx.cast("long"), by.cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__xlo", "__xhi", "__ylo", "__yhi")
      .write.mode("overwrite").option("compression", compression).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. The chronic 100 TB operational problem
    * — streaming ingest and fine-grained partitioning produce file
    * counts that swamp scan planning (one task + one open per tiny
    * file); compaction restores the scan-side economics. File count =
    * ceil(current bytes / target) from the source's actual on-disk
    * size. `shuffle=false` (default) coalesces — a narrow rewrite that
    * never moves rows between executors but inherits any source skew;
    * `shuffle=true` round-robins for even output sizes at the cost of
    * one exchange. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long = 128L * 1024 * 1024, shuffle: Boolean = false,
      compression: String = "snappy"): Unit = {
    // sized from the files the scan reads: the inventory walks
    // partitioned subdirectories and skips `_temporary`/hidden leftovers
    // of failed writes, which would size the rewrite from phantom data
    val bytes = FileSchemas.inventory(spark, Seq(srcDir))
      .fold(0L)(_.entries.map(_.len).sum)
    val files = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val df = FileSchemas.read(spark, Seq(srcDir))
    // coalesce can only REDUCE partition count; when the target exceeds
    // what the scan yields (few huge input files), fall through to a
    // repartition or the "~targetBytes-sized" contract silently becomes
    // "scan-partition-sized". getNumPartitions costs a listing, no job.
    val scanParts = df.rdd.getNumPartitions
    val sized =
      if (shuffle || files > scanParts) df.repartition(files)
      else df.coalesce(files)
    toParquet(sized, dstDir, compression)
  }
}
