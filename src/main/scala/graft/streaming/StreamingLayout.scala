package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{GraftFiles, TabularWriter}

/** Continuous ingest into a bucketed layout.
  *
  * The advised layouts ([[graft.plans.LayoutAdvisor]]) pay one
  * write-time shuffle so every later per-key aggregate and co-located
  * join runs exchange-free — but a 100 TB fact table is not written
  * once, it ARRIVES. This sink keeps the layout alive under a
  * Structured Streaming source: each micro-batch is appended through
  * [[TabularWriter.appendToBucketedTable]] (the batch — not the table —
  * is shuffled to the table's own bucket function, so co-location and
  * the zero-exchange join/aggregate plans survive every append), and
  * every `compactEvery` batches [[TabularWriter.compactBuckets]]
  * rewrites each bucket back to ONE sorted file, restoring the
  * streaming SortAggregate plan (BucketingSpec pins both plan states).
  * Between compactions the per-key plans degrade gracefully — multi-
  * file buckets plan a zero-exchange hash aggregate, never a re-shuffle
  * of the table — which is LSM economics: cheap appends, amortized
  * re-sorts, reads correct at every point of the lifecycle.
  *
  * DELIVERY CONTRACT — precisely: `foreachBatch` is at-least-once on
  * failure/recovery — a batch whose append COMMITTED but whose
  * checkpoint offset did not is replayed on restart, and a blind append
  * would duplicate its rows. The sink writes a marker file
  * `commitDir/batch-<id>` after each append and skips any batch id
  * already marked (the same ledger-outside-the-data discipline as
  * Spark's own file-sink `_spark_metadata` log, kept OUTSIDE the table
  * location because compaction rewrites that directory). This closes
  * the checkpoint-replay window — the common recovery path — but NOT
  * the narrower one between the append's commit and the marker's
  * create: a crash exactly there duplicates that one batch on restart,
  * because a plain-parquet append has no transaction that could carry
  * the marker atomically with the data. Closing it needs a
  * transactional table format whose commit log IS the ledger; with
  * this sink, audit `commitDir` against the table after such a crash
  * and re-stage the one suspect batch if they disagree.
  * Compaction needs no marker: re-running it is harmless (it lands via
  * rename-aside, so every crash window keeps both copies on disk —
  * TabularWriter.compactBuckets).
  *
  * Scale notes (100 TB, 1000 executors): the per-batch append shuffles
  * only the micro-batch (minutes of arrivals, not the table); the
  * compaction pass reads bucket-local with ZERO exchange and costs one
  * sequential rewrite amortized over `compactEvery` appends — size
  * `compactEvery` so compaction bytes ≈ a small multiple of appended
  * bytes, exactly how LSM trees pick their merge fan-in.
  *
  * Reference analog: the reference re-shards its embedding tables on
  * every variable rebuild (embedding/sharding.py:168-205); this sink
  * replaces rebuild-the-world with append + periodic re-sort. */
object StreamingLayout {

  /** Start a streaming query that appends `stream` into the existing
    * bucketed `table`, compacting every `compactEvery` committed
    * batches (0 = never; call compactBuckets manually). `commitDir`
    * holds the idempotence markers and must persist across restarts
    * alongside `checkpointDir`. */
  def intoBucketedTable(stream: DataFrame, table: String, commitDir: String,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery = {
    require(compactEvery >= 0,
      s"intoBucketedTable: compactEvery must be >= 0, got $compactEvery")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, batchId, table, commitDir, compactEvery)
      }
      .outputMode("append")
      .start()
  }

  /** The per-batch body, separated so BucketingSpec can drive a replay
    * (same batch id twice) directly against the idempotence contract. */
  private[graft] def appendBatch(batch: DataFrame, batchId: Long, table: String,
      commitDir: String, compactEvery: Int): Unit = {
    val spark = batch.sparkSession
    val marker = new Path(commitDir, f"batch-$batchId%020d")
    if (!GraftFiles.exists(spark, marker)) {
      if (!batch.isEmpty) TabularWriter.appendToBucketedTable(batch, table)
      GraftFiles.write(spark, marker, "")
    }
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      TabularWriter.compactBuckets(spark, table)
  }
}
