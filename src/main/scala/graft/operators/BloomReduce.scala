package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

/** Manual runtime bloom-filter semi-reduction ("dynamic filtering").
  *
  * Spark's own `InjectRuntimeFilter` builds a bloom over the selective
  * side of a shuffle join and prunes the fact side before its exchange —
  * the mechanism that keeps fact⋈dim-chain joins from shuffling
  * unmatched fact rows at 100 TB. Its heuristic, however, requires a
  * selective Filter on the *lineage path* of the creation-side join key;
  * when the reduction comes from a SEMI JOIN (TPC-H q3's shape: orders
  * semi-joined to BUILDING customers), the selective predicate lives on
  * the far side of the semi join, the lineage walk to the orders leaf
  * never sees it, and no filter is injected (verified empirically:
  * filter- and aggregate-shaped creation sides fire, semi-join creation
  * sides don't).
  *
  * `semiReduce` injects the identical machinery by hand: a distributed
  * `BloomFilterAggregate(xxhash64(key))` over the reduced key set,
  * attached as a lazy SCALAR SUBQUERY to a `might_contain` filter on the
  * fact side — no driver-side collect beyond the bloom bytes themselves
  * (the same cost class as the built-in filter's subquery; bits are
  * clamped by `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`,
  * 64M bits = 8 MB by default). False positives pass through and are
  * removed by the exact join that follows; false negatives cannot occur,
  * so the reduction is semantics-preserving wherever a semi join is.
  *
  * Scale story: the bloom build is a partial-merge aggregate (one pass
  * over the key set, map-side combined), the probe is a codegen'd hash +
  * bitset test per fact row before the fact's exchange — at 20%
  * join selectivity the shuffle and aggregate hash tables shrink 5×.
  * Reference analog: the fact⋈dim pruning the sharded lookup path gets
  * from its id-partitioned layout (embedding/sharding.py:168-205).
  */
object BloomReduce {

  /** Keep only fact rows whose `factKey` might appear in `keys.keyCol`
    * (exact-join the survivors afterwards for exact semantics).
    *
    * @param expectedItems sizing hint for the bloom (clamped by
    *   `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`); fpp
    *   degrades gracefully — a few % false positives just means a few %
    *   less pruning. Pass 0 (the default) to auto-size from the key
    *   side's optimizer size estimate: a fixed-size bloom would make
    *   the build cost a constant tax at small scale (measured +0.4 s
    *   per query at sf0.1 for a 48M-bit bloom whose key set has 150k
    *   rows), while under-sizing at large scale merely raises fpp.
    */
  def semiReduce(fact: DataFrame, factKey: Column, keys: DataFrame, keyCol: Column,
      expectedItems: Long = 0L): DataFrame = {
    // LAYOUT-AWARE decline (the byShuffledKey doctrine): the reduction
    // was measured for FLAT facts, where pruning rows ahead of the
    // downstream exchange+aggregate pays for the probe. On a fact
    // already BUCKETED on this key the aggregate streams exchange-free
    // and the bloom is pure cost — per-row xxhash64+bitset over the
    // full scan plus an extra key-side pass for the build. Measured at
    // x200 on q3's routed layouts: bloom 9.1 s vs skip 4.0 s (the flat
    // win that motivated the bloom was round-7's 5× shuffle shrink).
    // `spark.graft.bloomReduce.enabled=false` force-disables for A/Bs.
    if (fact.sparkSession.conf.get(
        "spark.graft.bloomReduce.enabled", "true") != "true") return fact
    // the probe is Aggregates.isCoLocatedOn — a STRAIGHT-LINE walk
    // (Project/Filter/alias chain only, renames resolved to the leaf
    // attribute actually read) to the bucketed relation. The round-11
    // version matched ANY HadoopFs leaf in the plan whose bucket columns
    // equaled the key NAME: a fact composed from a join/union containing
    // some other table bucketed on a same-named column, or a rename
    // shadowing the bucket column, would skip the bloom even though the
    // downstream work still shuffles (performance-only misfire, now
    // closed; OperatorsSpec pins the join-shaped case).
    if (Aggregates.isCoLocatedOn(fact, Seq(factKey))) return fact
    // ROLLUP-AWARE decline (round-12, the same doctrine's third leg):
    // when a registered MATERIALIZED AGGREGATE rollup exists on exactly
    // this fact's files and this key, the downstream per-key aggregate
    // is about to be served PRECOMPUTED — there are no fact rows left
    // for the bloom to prune, so the probe cost AND the build's extra
    // key-side pass are pure tax. Measured at x200 on q3 (round-12
    // sweep): rollup+bloom 6.0 s vs rollup alone ~2.4 s — the bloom's
    // 30M-row build side dominated a query whose aggregate had become
    // a 30M-row scan. Still fires on flat facts with no rollup.
    val rollupServed = Aggregates.leafColumnsOf(fact, Seq(factKey)).exists {
      case (graft.plans.FileLeaf(_, _, path), leafName) =>
        graft.plans.MaterializedAggs.all(fact.sparkSession).exists(m =>
          m.factPath == path && m.keys == Seq(leafName))
      case _ => false
    }
    if (rollupServed) return fact
    // XxHash64 is type-sensitive (hash(42: Int) != hash(42L)), while the
    // exact join that follows coerces types implicitly — hashing the raw
    // columns would make a (int fact, long key) pairing silently drop
    // matching rows. Mirror InjectRuntimeFilter's behavior (it hashes the
    // analyzer-COERCED join keys) by casting both integral sides to long;
    // any other pairing must already agree on type.
    import org.apache.spark.sql.types._
    def dt(df: DataFrame, c: Column): DataType = df.select(c).schema.head.dataType
    val (factDt, keyDt) = (dt(fact, factKey), dt(keys, keyCol))
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val (probeCol, buildCol) =
      if (integral(factDt) && integral(keyDt)) (factKey.cast("long"), keyCol.cast("long"))
      else {
        require(factDt == keyDt,
          s"semiReduce: factKey type $factDt != keyCol type $keyDt — xxhash64 is " +
            "type-sensitive, so a mixed-type bloom probe would produce false negatives")
        (factKey, keyCol)
      }
    val items = if (expectedItems > 0L) expectedItems else {
      val bytes = keys.queryExecution.optimizedPlan.stats.sizeInBytes
      (bytes / 16).min(4000000L).max(65536L).toLong
    }
    val numBits = math.min(items * 12L, 1L << 26)
    val bloomAgg = column(new BloomFilterAggregate(
      new XxHash64(Seq(expression(buildCol))),
      Literal(items), Literal(numBits)).toAggregateExpression())
    val bloomScalar = keys.select(bloomAgg.as("bf")).scalar()
    fact.filter(column(BloomFilterMightContain(
      expression(bloomScalar), new XxHash64(Seq(expression(probeCol))))))
  }
}
