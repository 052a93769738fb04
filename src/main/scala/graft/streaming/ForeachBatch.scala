package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` stream start of the parquet-state operators:
  * checkpointed delivery, `Trigger.AvailableNow` (drain what is there,
  * then stop), and `body(batch, batchId)` per micro-batch. Every state
  * write inside `body` goes through [[graft.sources.TableSwap]]. */
private[graft] object ForeachBatch {

  def start(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)
      .start()
}
