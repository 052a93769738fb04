package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamMerge

/** Structured-Streaming sink semantics:
  *   - StreamMerge: checkpointed incremental processing + idempotent
  *     merge = effectively-once across restarts and replays;
  *   - append-mode watermarking: late rows are dropped and only
  *     finalized windows emit — the state-bounding contract that makes
  *     streaming aggs safe at scale.
  */
class StreamMergeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("StreamMerge: checkpointed foreachBatch merge is incremental and replay-safe") {
    val src = TestSpark.tempDir("sm_src").toString
    val cp = TestSpark.tempDir("sm_cp").toString
    val table = TestSpark.tempDir("sm_tbl").toString + "/games"

    def fileA() = Seq(
      ("g1", "alice", ts("2025-05-01 10:00:00")),
      ("g2", "bob", ts("2025-05-01 10:00:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    def fileB() = Seq(
      ("g1", "alice_updated", ts("2025-05-01 10:05:00")),
      ("g3", "carol", ts("2025-05-01 10:05:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")

    def runOnce(checkpoint: String): Unit = {
      val stream = spark.readStream.schema(fileA().schema).parquet(src)
      val q = StreamMerge.start(stream, table, checkpoint,
        key = "id_game", orderCols = Seq(desc("tm_ingested")))
      q.awaitTermination(60000)
    }
    def tableRows(): Set[(String, String)] =
      spark.read.parquet(table).select("id_game", "id_user_white")
        .as[(String, String)].collect().toSet

    fileA().write.mode("append").parquet(src)
    runOnce(cp)
    assert(tableRows() === Set("g1" -> "alice", "g2" -> "bob"))

    // second delivery overlaps g1: the checkpoint must make this run
    // process ONLY the new file, and the merge must overwrite g1
    fileB().write.mode("append").parquet(src)
    runOnce(cp)
    val expected = Set("g1" -> "alice_updated", "g2" -> "bob", "g3" -> "carol")
    assert(tableRows() === expected)

    // full replay (lost checkpoint): reprocessing everything converges
    // to the same table — idempotent merge absorbs at-least-once
    val cp2 = TestSpark.tempDir("sm_cp2").toString
    runOnce(cp2)
    assert(tableRows() === expected)
  }

  test("Scd2Stream.applyBatch: sliced merges converge to the full " +
      "derivation; last-slice redelivery is a no-op") {
    import graft.ops.Upsert
    import graft.streaming.Scd2Stream
    val table = TestSpark.tempDir("scd2s").toString + "/hist"
    val log = Tables.events(spark, sf001)
      .select("user_id", "ts", "event_type", "event_id")
    // terciles on the raw long micros (exact, deterministic)
    val micros = log.select(col("ts").cast("long")).as[Long].collect().sorted
    val (c1, c2) = (micros(micros.length / 3), micros(2 * micros.length / 3))
    val s1 = log.filter(col("ts").cast("long") <= c1)
    val s2 = log.filter(col("ts").cast("long") > c1 &&
      col("ts").cast("long") <= c2)
    val s3 = log.filter(col("ts").cast("long") > c2)
    for (s <- Seq(s1, s2, s3))
      Scd2Stream.applyBatch(s, table, "user_id", "ts", "event_type",
        "event_id")
    val got = spark.read.parquet(table)
    val want = Upsert.scd2FromChangelog(log, "user_id", "ts",
        "event_type", "event_id")
      .select("user_id", "event_id", "event_type", "valid_from",
        "valid_to", "is_current")
    assert(got.select(want.columns.map(col): _*).except(want).count() == 0)
    assert(want.except(got.select(want.columns.map(col): _*)).count() == 0)
    // at-least-once: redelivering ANY batch — middle or last, change
    // points and continuations alike — leaves the CONTENT unchanged
    // (the high-water mark drops rows at/before each key's frontier;
    // trailing continuations past it re-merge to identical intervals,
    // possibly rewriting files — hence row compare, not file compare)
    def snapshot(): Seq[String] =
      spark.read.parquet(table)
        .orderBy("user_id", "valid_from", "event_id")
        .collect().map(_.toString).toSeq
    val before = snapshot()
    for (s <- Seq(s2, s3, s1))
      Scd2Stream.applyBatch(s, table, "user_id", "ts", "event_type",
        "event_id")
    assert(snapshot() == before)
  }

  test("Scd2Stream: equal-timestamp rows split across batches merge " +
      "correctly (lexicographic high-water mark, not ts-only)") {
    import graft.ops.Upsert
    import graft.streaming.Scd2Stream
    val table = TestSpark.tempDir("scd2eq").toString + "/hist"
    val t = ts("2025-06-01 12:00:00")
    // same user, same timestamp, consecutive tie-breaks — legal under
    // the derivation's (ts, tieBreak) total order
    val b1 = Seq((7L, t, "free", 1L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val b2 = Seq((7L, t, "pro", 2L))
      .toDF("user_id", "ts", "event_type", "event_id")
    Scd2Stream.applyBatch(b1, table, "user_id", "ts", "event_type",
      "event_id")
    val merged = Scd2Stream.applyBatch(b2, table, "user_id", "ts",
      "event_type", "event_id")
    assert(merged == 1L, "equal-ts later-tie row must NOT be dropped")
    val got = spark.read.parquet(table)
      .select("user_id", "event_id", "event_type", "valid_from",
        "valid_to", "is_current")
    val want = Upsert.scd2FromChangelog(b1.unionByName(b2), "user_id",
        "ts", "event_type", "event_id")
      .select("user_id", "event_id", "event_type", "valid_from",
        "valid_to", "is_current")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // true replay of b2 (same tieBreak) is still dropped
    assert(Scd2Stream.applyBatch(b2, table, "user_id", "ts",
      "event_type", "event_id") == 0L)
  }

  test("Scd2Stream: checkpointed stream builds history incrementally " +
      "and a fresh-checkpoint replay of change-point batches converges") {
    import graft.ops.Upsert
    import graft.streaming.Scd2Stream
    val src = TestSpark.tempDir("scd2_src").toString
    val cp = TestSpark.tempDir("scd2_cp").toString
    val table = TestSpark.tempDir("scd2_tbl").toString + "/hist"
    // change-point-only changelog: every row flips the attr
    def slice(ids: Seq[Long], t0: String, attr: String) = ids.map(u =>
      (u, ts(t0), attr, u * 10 + attr.length.toLong))
      .toDF("user_id", "ts", "event_type", "event_id")
    val a = slice(Seq(1L, 2L), "2025-05-01 10:00:00", "free")
    val b = slice(Seq(1L, 2L), "2025-05-02 10:00:00", "pro")
    a.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(200)
    b.coalesce(1).write.mode("append").parquet(src)

    def runOnce(checkpoint: String): Unit = {
      val stream = spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = Scd2Stream.start(stream, table, checkpoint,
        "user_id", "ts", "event_type", "event_id")
      q.awaitTermination(60000)
    }
    runOnce(cp)
    val full = a.unionByName(b)
    val want = Upsert.scd2FromChangelog(full, "user_id", "ts",
        "event_type", "event_id")
      .select("user_id", "event_id", "event_type", "valid_from",
        "valid_to", "is_current")
    def table_(): org.apache.spark.sql.DataFrame =
      spark.read.parquet(table).select(want.columns.map(col): _*)
    assert(table_().except(want).count() == 0 &&
      want.except(table_()).count() == 0)
    // lost checkpoint, full redelivery: every change point already in
    // history → both batches drop to empty slices, table unchanged
    runOnce(TestSpark.tempDir("scd2_cp2").toString)
    assert(table_().except(want).count() == 0 &&
      want.except(table_()).count() == 0)
  }

  test("mergeParquet recovers the table from a backup left by a crashed swap") {
    import java.nio.file.Paths
    import graft.streaming.MicroBatchIngest.mergeParquet
    val table = TestSpark.tempDir("rc").toString + "/t"
    val batch1 = Seq(("k1", "v1", ts("2025-05-01 10:00:00")),
      ("k2", "v1", ts("2025-05-01 10:00:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    mergeParquet(spark, batch1, table, "id_game")
    // simulate a crash in the swap window: old table moved to .bak, the
    // new table never arrived
    Files.move(Paths.get(table), Paths.get(table + ".bak"))
    val batch2 = Seq(("k2", "v2", ts("2025-05-01 10:05:00")),
      ("k3", "v1", ts("2025-05-01 10:05:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    mergeParquet(spark, batch2, table, "id_game")
    val rows = spark.read.parquet(table)
      .select("id_game", "id_user_white")
      .as[(String, String)].collect().toSet
    // batch1's rows survived the crash; batch2 merged on top
    assert(rows === Set("k1" -> "v1", "k2" -> "v2", "k3" -> "v1"))
  }

  test("mergeParquet returns the merged row count, empty deliveries included") {
    import graft.streaming.MicroBatchIngest.mergeParquet
    val dir = TestSpark.tempDir("mc").toString
    val batch = Seq(("k1", "v0", ts("2025-05-01 09:00:00")),
      ("k1", "v1", ts("2025-05-01 10:00:00")),
      ("k2", "v1", ts("2025-05-01 10:00:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    val latest = graft.ops.Upsert.firstPerKey(batch, "id_game",
      Seq(desc("tm_ingested")))
    assert(mergeParquet(spark, latest, dir + "/t", "id_game") === 2L)
    assert(mergeParquet(spark, latest.limit(0), dir + "/t", "id_game") === 2L)
    assert(mergeParquet(spark, latest.limit(0), dir + "/e", "id_game") === 0L)
    assert(spark.read.parquet(dir + "/t").count() === 2L)
  }

  test("TableSwap.commit counts its write and moves the marker with the " +
      "data; read recovers a crashed swap") {
    import java.nio.file.Paths
    import graft.sources.TableSwap
    val table = TestSpark.tempDir("swap").toString + "/t"
    assert(TableSwap.read(spark, table).isEmpty)
    assert(TableSwap.commit(Seq(1L, 2L, 3L).toDF("v"), table,
      Some("_m" -> "7")) === 3L)
    assert(TableSwap.readMarker(table, "_m") === Some("7"))
    assert(TableSwap.commit(Seq(4L).toDF("v"), table) === 1L)
    assert(TableSwap.readMarker(table, "_m") === None)
    // a crash between the two moves: only the backup is left
    Files.move(Paths.get(table), Paths.get(table + ".bak"))
    assert(TableSwap.read(spark, table).map(_.as[Long].collect().toSeq) ===
      Some(Seq(4L)))
    assert(!Files.exists(Paths.get(table + ".bak")))
  }

  test("append-mode watermark: late rows dropped, only finalized windows emit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[Timestamp]
    val agg = input.toDF().withColumnRenamed("value", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()

    // batch 1: 2 / 3 / 1 / 4 events in the 10:00 / 11:00 / 12:00 / 13:00
    // hourly windows; max ts 13:59 → watermark advances to 13:29, which
    // finalizes (emits + evicts) the 10/11/12 windows
    input.addData(Seq(
      "2025-05-01 10:10:00", "2025-05-01 10:20:00",
      "2025-05-01 11:05:00", "2025-05-01 11:15:00", "2025-05-01 11:25:00",
      "2025-05-01 12:30:00",
      "2025-05-01 13:10:00", "2025-05-01 13:20:00", "2025-05-01 13:30:00",
      "2025-05-01 13:59:00").map(ts))
    q.processAllAvailable()

    // batch 2: one LATE row (10:15 — below the 13:29 watermark, its
    // window is already finalized → must be dropped) and one on-time
    // row (14:30 — advances the watermark to 14:00, finalizing 13:00;
    // its own 14:00 window stays open and must NOT emit)
    input.addData(Seq("2025-05-01 10:15:00", "2025-05-01 14:30:00").map(ts))
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("wm_out")
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .as[(String, Long)].collect().toMap
    // 10:00 stays at 2 — the late row was dropped, not re-aggregated;
    // 13:00 emitted once finalized; 14:00 absent (still open state)
    assert(emitted === Map(
      "10:00" -> 2L, "11:00" -> 3L, "12:00" -> 1L, "13:00" -> 4L))
  }
}
