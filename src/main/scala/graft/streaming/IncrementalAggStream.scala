package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.IncrementalAgg

/** Streaming maintenance of an [[graft.ops.IncrementalAgg]] state
  * table: each micro-batch's partial aggregates merge into the parquet
  * summary through [[applyBatch]] (a `foreachBatch` body; the
  * `ops_incr_agg_stream` entry drives it per slice), so the table
  * converges to exactly `summarize(all rows ever delivered)` — the
  * continuously-maintained rollup shape (batch twin: `ops_incr_agg`).
  * The idempotence and crash-safety protocol (batch-id marker inside
  * the atomic swap) is [[MergeableStream]] — shared with every other
  * mergeable summary.
  *
  * Scale: per tick, one scan of the micro-batch (map-side combined to
  * one row per touched key) plus a keyed merge with the state table —
  * history is never re-read; streaming operator state stays empty, so
  * there is nothing to watermark and memory is flat however long the
  * stream runs. */
object IncrementalAggStream {

  /** One micro-batch against the state table — also the seam the spec
    * drives directly (incl. replaying a batch id to prove the no-op).
    * Returns true iff the batch was applied (false = replay skipped). */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      tablePath: String, keys: Seq[String], valCol: String,
      dateCol: String): Boolean =
    MergeableStream.applyBatch(batch, batchId, tablePath,
      IncrementalAgg.summarize(_, keys, valCol, dateCol),
      IncrementalAgg.merge(_, _, keys))
}
