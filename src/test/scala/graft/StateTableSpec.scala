package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Upsert
import graft.streaming.{MicroBatchIngest, Scd2Stream, StreamAdmission}

/** The parquet-state merges on a scheme-prefixed (`file:`) table path —
  * each must find the table it wrote, on the path's own filesystem —
  * plus the source rule that keeps every state touch in
  * `graft.streaming` on `TableSwap` and every stream start on one
  * `foreachBatch` chain. */
class StateTableSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def fileUri(prefix: String): String =
    "file:" + TestSpark.tempDir(prefix).toString

  private def ts(s: String) = Timestamp.valueOf(s)

  test("mergeParquet on a file: path keeps the first delivery's rows") {
    val table = fileUri("st_merge") + "/t"
    val first = Seq(("k1", "v1", ts("2025-05-01 10:00:00")),
      ("k2", "v1", ts("2025-05-01 10:00:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    val second = Seq(("k2", "v2", ts("2025-05-01 10:05:00")),
      ("k3", "v1", ts("2025-05-01 10:05:00")))
      .toDF("id_game", "id_user_white", "tm_ingested")
    MicroBatchIngest.mergeParquet(spark, first, table, "id_game")
    assert(MicroBatchIngest.mergeParquet(spark, second, table, "id_game")
      === 3L)
    val rows = spark.read.parquet(table).select("id_game", "id_user_white")
      .as[(String, String)].collect().toSet
    assert(rows === Set("k1" -> "v1", "k2" -> "v2", "k3" -> "v1"))
  }

  test("Scd2Stream.applyBatch on a file: path converges to the full derivation") {
    val table = fileUri("st_scd2") + "/hist"
    def slice(rows: Seq[(Long, String, String, Long)]) = rows
      .map { case (u, t, a, e) => (u, ts(t), a, e) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val b1 = slice(Seq((1L, "2025-05-01 10:00:00", "free", 1L),
      (2L, "2025-05-01 10:00:00", "free", 2L)))
    val b2 = slice(Seq((1L, "2025-05-02 10:00:00", "pro", 3L),
      (3L, "2025-05-02 10:00:00", "free", 4L)))
    for (b <- Seq(b1, b2))
      Scd2Stream.applyBatch(b, table, "user_id", "ts", "event_type",
        "event_id")
    val cols = Seq("user_id", "event_id", "event_type", "valid_from",
      "valid_to", "is_current").map(col)
    val got = spark.read.parquet(table).select(cols: _*)
    val want = Upsert.scd2FromChangelog(b1.unionByName(b2), "user_id",
      "ts", "event_type", "event_id").select(cols: _*)
    assert(got.count() === 4L)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("StreamAdmission on a file: path decides against the seeded state") {
    val state = fileUri("st_admit")
    val text = "the quick brown fox jumps over the lazy dog near the river"
    StreamAdmission.seed(spark, Seq((1L, text)).toDF("doc_id", "text"),
      state, "doc_id", "text")
    val flags = StreamAdmission.admitAndCommit(spark,
        Seq((10L, text)).toDF("doc_id", "text"), state, "doc_id", "text",
        0.3, 1000L, 1000L)
      .select("id", "exact_dup", "admitted").as[(Long, Boolean, Boolean)]
      .collect().toSeq
    assert(flags === Seq((10L, true, false)))
    val e = intercept[IllegalArgumentException](StreamAdmission.seed(spark,
      Seq((2L, "other")).toDF("doc_id", "text"), state, "doc_id", "text"))
    assert(e.getMessage.contains("state already exists"), e.getMessage)
    assert(spark.read.parquet(s"$state/docs").count() === 1L)
  }

  test("graft.streaming touches state only through TableSwap and starts " +
      "streams through one writeStream") {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"missing $root")
    val sources = Files.list(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
    def hits(needle: String): Seq[String] = sources.flatMap { case (f, src) =>
      Seq.fill(java.util.regex.Pattern.quote(needle).r.findAllIn(src).size)(f)
    }
    for (needle <- Seq("Files.exists(Paths.get", "\".tmp\"", "promoteTmp"))
      assert(hits(needle).isEmpty, s"$needle in ${hits(needle)}")
    assert(hits(".writeStream").size === 1, hits(".writeStream"))
  }
}
