package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, struct}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Upsert
import graft.sources.TableSwap

/** CDC stream → SCD-2 history: the `foreachBatch` composition of
  * [[graft.ops.Upsert.scd2MergeSlice]] — each micro-batch of changelog
  * rows closes the affected keys' open tails and appends new validity
  * intervals, so the parquet history converges to exactly
  * `scd2FromChangelog(full changelog)` without ever re-deriving the
  * full log (the daily-ingest warehouse shape; batch twin:
  * `j8_scd2_merge`).
  *
  * Crash-safety: the checkpoint gives at-least-once batch delivery;
  * idempotence is the HIGH-WATER-MARK rule — a batch row at or before
  * its key's frontier (the key's lexicographic max
  * `(valid_from, tieBreak)` in history — ts alone would misclassify
  * the later half of an equal-timestamp pair as a replay) must be
  * a replay, because a first delivery there would violate the
  * append-only-per-key CDC contract the merge guard enforces; such
  * rows are dropped before merging, so a redelivered batch (last
  * unfinished one, or a whole stream after checkpoint loss) reduces
  * to an empty slice and the table write is skipped. (A PARTIALLY
  * applied batch cannot exist: the table swap is
  * atomic-with-recovery via [[graft.sources.TableSwap]].) The flip
  * side, as with any high-water mark: genuinely out-of-order CDC is
  * indistinguishable from replay and must be bounded upstream —
  * scd2MergeSlice's ordering guard stays on as the fail-fast backstop
  * for anything that slips past the frontier.
  *
  * Scale: per batch, only the AFFECTED keys' history re-derives
  * (scd2MergeSlice semi/anti-splits on the key); streaming operator
  * state stays empty — history lives in the table, nothing to
  * watermark. */
object Scd2Stream {

  def start(stream: DataFrame, tablePath: String, checkpoint: String,
      key: String, ts: String, attr: String,
      tieBreak: String): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, _) =>
      applyBatch(batch, tablePath, key, ts, attr, tieBreak)
      ()
    }

  /** One batch against the table — also the seam unit tests drive
    * directly. Returns the number of slice rows actually merged. */
  private[graft] def applyBatch(batch: DataFrame, tablePath: String,
      key: String, ts: String, attr: String, tieBreak: String): Long = {
    val outCols =
      Seq(key, tieBreak, attr, "valid_from", "valid_to", "is_current")
    TableSwap.read(batch.sparkSession, tablePath) match {
      case None =>
        TableSwap.commit(Upsert.scd2FromChangelog(batch, key, ts, attr,
          tieBreak).select(outCols.map(col): _*), tablePath)
        batch.count()
      case Some(hist) =>
        // high-water-mark replay filter: anything at or before the
        // key's frontier is a redelivery under the append-only
        // contract (see scaladoc) — including same-attr continuation
        // rows that never became change points. The mark is the
        // LEXICOGRAPHIC (valid_from, tieBreak) pair, not the
        // timestamp alone: equal-timestamp rows split across batches
        // are legal under the derivation's (ts, tieBreak) total
        // order, and a ts-only mark would silently drop the later
        // half of such a pair as a "replay".
        // shared field aliases so the struct comparison type-checks
        val frontier = hist.groupBy(col(key))
          .agg(max(struct(col("valid_from").as("t"),
            col(tieBreak).as("k"))).as("__hwm"))
        // a cache, not a localCheckpoint (r22): the count below
        // materializes the cache in ONE job where the eager checkpoint
        // ran its own materialization job AND the count — one fewer
        // action per micro-batch, and the cache is released as soon as
        // the batch's write lands (a checkpoint's blocks have no
        // recompute path, so they had to outlive the batch)
        val fresh = graft.CacheScope.track(batch
          .join(frontier, Seq(key), "left_outer")
          .filter(col("__hwm").isNull ||
            struct(col(ts).as("t"), col(tieBreak).as("k"))
              > col("__hwm"))
          .drop("__hwm"))
        try {
          val n = fresh.count()
          if (n > 0)
            TableSwap.commit(Upsert.scd2MergeSlice(hist, fresh, key, ts,
              attr, tieBreak).select(outCols.map(col): _*), tablePath)
          n
        } finally graft.CacheScope.release(fresh)
    }
  }
}
