package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.sources.TableSwap

/** The ONE copy of the idempotent mergeable-state maintenance
  * protocol: a parquet state table updated per micro-batch by
  * `merge(state, summarize(batch))`, with batch-id replay protection
  * riding the atomic table swap. Any ASSOCIATIVE-COMMUTATIVE summary
  * plugs in — per-key rollups ([[IncrementalAggStream]]), count-min
  * cells, HLL sketch tables — and converges to exactly
  * `summarize(all rows ever delivered)` regardless of batch
  * boundaries.
  *
  * Idempotence is by BATCH ID (the marker file moves in the same
  * directory promote as the data, so state and applied-id cannot
  * diverge across a crash): unlike SCD-2's high-water mark, a
  * replayed additive batch would silently double-count, so anything
  * at or below the marker is skipped — the standard idempotent-
  * foreachBatch protocol from the Structured Streaming guide. */
object MergeableStream {

  private val Marker = "_applied_batch"

  private def appliedBatch(tablePath: String): Long =
    TableSwap.readMarker(tablePath, Marker)
      .map(_.trim.toLong).getOrElse(-1L)

  /** Returns true iff the batch was applied (false = replay skipped).
    * Marker + swap ride [[graft.sources.TableSwap]]'s Hadoop-FS
    * rename protocol, so `tablePath` may live on any storage scheme
    * (local, `file:`, `hdfs://`, …) — the state table is not pinned
    * to the driver's disk; see TableSwap's atomicity contract for
    * rename-as-copy object stores. */
  def applyBatch(batch: DataFrame, batchId: Long, tablePath: String,
      summarize: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    if (TableSwap.exists(tablePath) && batchId <= appliedBatch(tablePath))
      return false
    val delta = summarize(batch)
    TableSwap.commit(
      TableSwap.read(batch.sparkSession, tablePath).fold(delta)(merge(_, delta)),
      tablePath, Some(Marker -> batchId.toString))
    true
  }
}
