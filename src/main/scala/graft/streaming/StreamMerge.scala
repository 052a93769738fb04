package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Upsert

/** The reference's poll→parse→upsert loop (get_games_from_tv.py:122-147)
  * as TRUE Structured Streaming: any `readStream` source →
  * `foreachBatch` → the same idempotent last-write-wins merge the batch
  * path uses ([[MicroBatchIngest.mergeParquet]]).
  *
  * `foreachBatch` is the canonical Spark pattern for "merge into a sink
  * Spark cannot merge natively": the checkpoint gives at-least-once
  * batch delivery across restarts, and the merge is idempotent per key,
  * so the composition is effectively-once — the same crash-safety
  * argument the reference makes for its Postgres upserts
  * (docs/failure_simulation.md), now with Spark-managed offsets.
  *
  * Scale: each micro-batch is one distributed merge (shuffle on the
  * key); streaming operator state stays EMPTY — dedup state lives in
  * the target table, so there is nothing to watermark-evict and
  * restarts replay only the unfinished batch.
  */
object StreamMerge {

  /** Start merging `stream` into the parquet table at `tablePath`.
    * `orderCols` must be columns of the stream (e.g. the event/ingest
    * timestamp) forming a total order per key. */
  def start(stream: DataFrame, tablePath: String, checkpoint: String,
      key: String, orderCols: Seq[Column]): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, _) =>
      MicroBatchIngest.mergeParquet(batch.sparkSession,
        Upsert.firstPerKey(batch, key, orderCols), tablePath, key)
      ()
    }
}
