package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults, shared by Verify, Bench
  * and the test suites. */
object GraftSession {

  /** Apply engine defaults to a builder. Notable choices:
    *  - nanosAsLong: older driver testdata stores TIMESTAMP(NANOS), which
    *    Spark's parquet reader rejects by default; reading nanos as long
    *    + explicit µs conversion (Tables.events) reproduces DuckDB's
    *    ns→µs truncation exactly.
    *  - inferTimestampNTZ off: current driver testdata stores
    *    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 would
    *    otherwise surface as TIMESTAMP_NTZ — a type `unix_micros`,
    *    watermarks and several time kernels reject. Reading it as
    *    TIMESTAMP_LTZ under the UTC session zone is value-identical to
    *    DuckDB's naive read, preserving oracle parity.
    *  - AQE on: runtime coalescing/skew-join is part of the scale story.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // TIMESTAMP_MICROS output instead of the INT96 default: INT96
    // columns carry NO parquet min/max statistics (row-group pruning on
    // any engine-written timestamp column was silently impossible —
    // date-sorted layouts pruned nothing) and decode through a slower
    // 12-byte path. µs is also what the driver's own testdata uses, so
    // round-tripped fixtures keep the exact same values.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Runtime bloom-filter semi-join reduction: build a bloom from the
    // selective side of a shuffle join and prune the fact scan before its
    // exchange — the mechanism that keeps fact⋈dim-chain joins from
    // shuffling unmatched fact rows at 100 TB. Stock thresholds (10 MB
    // creation / 10 GB application-scan) are sized for cluster scans and
    // never trip on single-node bench data; these express the same
    // intent at bench scale: gates and the sf0.1 bench stay under 512 MB
    // (no plan change, no bloom-build overhead on floor-bound queries),
    // the replicated x200 fact scans cross it and get pruned.
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "2GB")
    .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "512MB")
    // Streaming aggregation over sort-bucketed layouts
    // (TabularWriter.toBucketedTable(sorted=true)): the scan only
    // reports its per-bucket sort order under the legacy listing conf
    // (it must prove one file per bucket, which the writer guarantees),
    // and the planner only swaps an already-co-located hash aggregate
    // for a streaming SortAggregate — one group's state at a time
    // instead of a groups-sized hash table — under
    // replaceHashWithSortAgg. Both rewrites fire ONLY when the child
    // is provably sorted on the grouping keys, i.e. exchange-free
    // plans where partial+final run back-to-back on the same
    // partition, so aggregation order (and any float sum) is
    // unchanged. x200: per-order rollup 2.4→1.6 s (PERF.md round-9).
    // Deliberately session-global, not scoped to the sorted-layout
    // paths: on non-layout plans both confs are inert (r9 A/B: zero
    // plan diffs, times within noise — PERF.md "Regression check"),
    // and the listing cost of outputOrdering only arises when a
    // bucketed table is planned. Scoping would make the documented
    // plans depend on which code path set a conf.
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .config("spark.sql.execution.replaceHashWithSortAgg", "true")
    // informational unique-key constraints (ANSI RELY-style) for the
    // driver schema: EagerAggregation is cost-blind on raw parquet (no
    // NDV stats), and a pre-aggregate keyed on a unique column reduces
    // nothing — declaring the PKs lets the rule decline those provably
    // useless fires (q12 measured 3.44→4.16 s before this existed,
    // PERF.md "Round-10: eager aggregation"). Users override per
    // session; empty disables.
    .config("spark.graft.eagerAggregation.uniqueKeys",
      "orders.o_orderkey,customer.c_custkey,part.p_partkey," +
        "supplier.s_suppkey,nation.n_nationkey,region.r_regionkey," +
        "documents.doc_id,embeddings.vec_id")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    // Generated-class cache sized for a long-lived multi-query session.
    // The default (100 entries) thrashes on any workload with more than
    // ~100 distinct codegen units: every re-run of a query whose classes
    // were evicted pays Janino compilation PLUS a cold-JIT pass of the
    // freshly loaded class INSIDE the query — measured on the 212-query
    // bench as a 2–4× tax on compute-heavy queries (graph_pagerank's two
    // dominant stages: 48 s cumulative CPU cold vs 5.5–9.5 s hot over
    // identical 2.4M-row inputs; full suite 217.9 → 121.8 s, geomean
    // 0.60, from this one setting — OPTIMIZATION_r12.md). Caveat: this
    // is a STATIC conf sizing a process-global singleton — the value
    // present at the FIRST codegen in a JVM wins, a later same-JVM
    // session silently keeps that size, and the cached classes
    // (metaspace, not data) live until process exit, not session stop.
    // 8192 classes of metadata is a few hundred MB of metaspace at
    // worst, sized for a long-lived multi-query service at any data
    // scale.
    .config("spark.sql.codegen.cache.maxEntries", "8192")

  /** Between-query session hygiene for the multi-query mains (Bench,
    * Verify): gates can leave state behind — streaming memory-sink
    * tables (full result held on the driver), localCheckpoint blocks
    * (freed only when the GC'd reference reaches ContextCleaner),
    * cached frames — and accumulated over 170+ queries that storage
    * pressure steals unified memory from execution (q1 measured 6× its
    * isolated time near the end of the alphabet before this existed).
    * Best-effort by design: cleanup failure must never abort the suite
    * the callers' per-query try/catch protects. */
  def clearSessionState(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      // untimed GC: ContextCleaner frees broadcast/shuffle state only
      // when the weak references are collected — without this, a long
      // suite accumulates heap until GC pauses land INSIDE later timed
      // queries (measured: q12 3.4 s alone vs 5.8 s late in a 17-query
      // session; the driver's own q1 6x-inflation note above is the
      // same mechanism)
      System.gc()
    } catch {
      case e: Throwable =>
        System.err.println(s"[session-hygiene] cleanup failed (continuing): ${e.getMessage}")
    }

  def local(cores: String = "4", shufflePartitions: Option[Int] = None): SparkSession = {
    val b = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions",
          // local["*"] is a legal master spec but not an int — fall
          // back to the available cores instead of failing SQLConf
          // validation at session startup
          shufflePartitions.map(_.toString).getOrElse(
            if (cores.forall(_.isDigit) && cores.nonEmpty) cores
            else Runtime.getRuntime.availableProcessors().toString)))
    // ad-hoc conf overrides for experiments: SPARK_GRAFT_CONF="k=v;k=v"
    val withOverrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k, v) }
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    val s = withOverrides.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
