package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.QuantileSketch

/** Streaming maintenance of a [[graft.ops.QuantileSketch]] histogram
  * state table — the QUANTILE member of the mergeable-summary stream
  * family (rollups: [[IncrementalAggStream]]; distinct: the HLL fold;
  * heavy hitters: the CMS stream): each micro-batch's per-(key,
  * bucket) counts merge into the parquet state through [[applyBatch]]
  * (a `foreachBatch` body; the `ops_incr_quantile_stream` entry drives
  * it per slice), so the table converges to exactly `summarize(all
  * rows ever delivered)` regardless of batch boundaries, and
  * [[graft.ops.QuantileSketch.quantiles]] reads current percentile
  * estimates off it at any time. Idempotence and crash safety ride
  * [[MergeableStream]]'s batch-id marker inside the atomic swap —
  * a replayed delivery is a proven no-op (histogram counts would
  * otherwise silently double).
  *
  * Scale: per tick one map-side-combined scan of the micro-batch
  * (one row per touched (key, bucket)) plus a keyed merge with the
  * state; history is never re-read and streaming operator state stays
  * empty — flat memory at any stream length. */
object QuantileSketchStream {

  /** One micro-batch against the state table — also the seam the spec
    * drives directly (incl. replaying a batch id to prove the no-op).
    * Returns true iff the batch was applied (false = replay skipped). */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      tablePath: String, keys: Seq[String], valCol: String,
      widthCents: Long): Boolean =
    MergeableStream.applyBatch(batch, batchId, tablePath,
      QuantileSketch.summarize(_, keys, valCol, widthCents),
      QuantileSketch.merge(_, _, keys))
}
