package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MicroBatchIngest

/** Streaming-layer tests: micro-batch PGN ingest loop (T1-T3) and
  * Structured Streaming window/dedup parity with batch (T2/T4). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def pgn(id: String, white: String, result: String) =
    s"""[Site "https://lichess.org/$id"]
       |[White "$white"]
       |[Black "opponent"]
       |[Result "$result"]
       |[Termination "Normal"]
       |1. e4 e5 $result
       |""".stripMargin

  test("T1-T3: micro-batch loop merges batches, last write wins, idempotent") {
    val dir = TestSpark.tempDir("mb").toString
    val table = s"$dir/tv_channel_games"
    val batches: Int => Seq[String] = {
      case 0 => Seq(pgn("aaaa1111", "alice", "1-0") + "\n" + pgn("bbbb2222", "bob", "0-1"))
      case 1 => Seq(pgn("aaaa1111", "alice_updated", "1/2-1/2"),
                    pgn("cccc3333", "carol", "1-0"))
      case _ => Seq.empty
    }
    val stats = MicroBatchIngest.run(spark, batches, table, numBatches = 3)
    assert(stats.map(_.tableRows) == Seq(2, 3, 3))
    val finalRows = spark.read.parquet(table)
      .select("id_game", "id_user_white", "val_result")
      .orderBy("id_game").as[(String, String, String)].collect().toSeq
    assert(finalRows == Seq(
      ("aaaa1111", "alice_updated", "1/2-1/2"),   // batch-1 overwrite (T3)
      ("bbbb2222", "bob", "0-1"),
      ("cccc3333", "carol", "1-0")))
    // idempotence: re-running the last batch converges to the same table
    MicroBatchIngest.run(spark, _ => batches(1), table, numBatches = 1)
    assert(spark.read.parquet(table).count() == 3)
  }

  test("T4: streaming tumbling-window agg matches the batch result") {
    val events = Tables.events(spark, sf0001).cache()
    val src = TestSpark.tempDir("ev").toString
    events.write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("tumbling_out")
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect().toSeq
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("T2 watermarked dropDuplicates: cross-batch dedup inside the bound, LATE rows dropped") {
    // the t2_watermark_dedup registry entry's two behaviors, pinned in
    // isolation: (a) a duplicate (event_id, ts) re-delivered in a later
    // batch while ts is still above the watermark is deduped by state;
    // (b) ANY row whose ts has fallen below the watermark — duplicate
    // or never-seen — is dropped as late data, which is exactly what
    // bounds the state (keys below the watermark are evicted)
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    def ts(offsetMin: Long) = new Timestamp(t0 + offsetMin * 60000L)
    val input = MemoryStream[(Long, Timestamp)]
    val q = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("id", "ts")
      .writeStream.format("memory").queryName("t2_wm_spec")
      .outputMode("append").start()
    try {
      // batch 1: ids 1,2 (with an in-batch dup of 1) → 2 survivors;
      // watermark after the batch: 0 - 60 min... max ts 10 → -50 min
      input.addData(Seq((1L, ts(0)), (1L, ts(0)), (2L, ts(10))))
      q.processAllAvailable()
      assert(spark.table("t2_wm_spec").count() == 2)
      // batch 2: (1, ts 0) re-delivered — ts above the watermark →
      // deduped by state, not re-emitted; (3, ts 30) is new
      input.addData(Seq((1L, ts(0)), (3L, ts(30))))
      q.processAllAvailable()
      assert(spark.table("t2_wm_spec").count() == 3)
      // batch 3: advance event time to +600 min → watermark 540
      input.addData(Seq((4L, ts(600))))
      q.processAllAvailable()
      // batch 4: BOTH late rows dropped — the old duplicate AND a
      // never-seen id with an old timestamp (late ≠ duplicate)
      input.addData(Seq((1L, ts(0)), (99L, ts(1))))
      q.processAllAvailable()
      assert(spark.table("t2_wm_spec").count() == 4)
      assert(!spark.table("t2_wm_spec")
        .collect().map(_.getLong(0)).contains(99L))
      // state holds only above-watermark keys (id 4), not history
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 1, s"state rows $stateRows")
    } finally q.stop()
  }

  test("T2 at scale: dropDuplicatesWithinWatermark dedups inside the bound, evicts state after it") {
    // Unbounded dropDuplicates keeps EVERY key in state forever — at
    // 100 TB that state is the corpus. The production form bounds state
    // to the watermark window: exact dedup for re-deliveries within the
    // delay, keys evicted once the watermark passes them (a later
    // re-delivery is then treated as new — the documented trade).
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    def ts(offsetMin: Long) = new Timestamp(t0 + offsetMin * 60000L)
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory")
      .queryName("wm_dedup_out").outputMode("append").start()
    try {
      // batch 1: 50 ids, each delivered twice → 50 survivors
      input.addData((1L to 50L).flatMap(i => Seq((i, ts(0)), (i, ts(1)))))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_out").count() == 50)
      // batch 2: same ids re-delivered 10 min later — still inside the
      // watermark, all dropped
      input.addData((1L to 50L).map(i => (i, ts(10))))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_out").count() == 50)
      // batch 3: one late-window event pushes the watermark past the
      // old keys; batch 4 re-delivers them — state was evicted, so they
      // pass through as new (bounded state, not amnesia-free dedup)
      input.addData(Seq((999L, ts(600))))
      q.processAllAvailable()
      input.addData((1L to 50L).map(i => (i, ts(601))))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_out").count() == 50 + 1 + 50)
      // and the state store is holding the recent keys only, not every
      // key ever seen (51 live: the 50 re-delivered + the late marker)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 51, s"state rows $stateRows")
    } finally q.stop()
  }

  test("T2: streaming dropDuplicates removes cross-batch re-deliveries") {
    val events = Tables.events(spark, sf0001).limit(100).cache()
    val src = TestSpark.tempDir("dup").toString
    // two identical files = the same events delivered twice
    events.write.mode("overwrite").parquet(s"$src/a")
    events.write.mode("overwrite").parquet(s"$src/b")
    val stream = spark.readStream
      .schema(events.schema)
      .option("recursiveFileLookup", "true")
      .parquet(src)
      .dropDuplicates("event_id")
      .groupBy().count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("dedup_out").as[Long].head() == 100L)
  }
}
