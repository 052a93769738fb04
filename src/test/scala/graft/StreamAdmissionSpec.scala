package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamAdmission

/** Streaming incremental-dedup admission: per-batch exact+near checks
  * against persisted state, idempotent commits, convergence under
  * re-delivery, and equality with the sequential batch truth. */
class StreamAdmissionSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String) =
    TestSpark.tempDir(prefix).toString

  // near-dup pair: 12-word docs sharing 11 words → ~10/13 shingles
  // shared, Jaccard well above 0.3
  private val baseText =
    "the quick brown fox jumps over the lazy dog near the river"
  private val nearText =
    "the quick brown fox jumps over the lazy dog near the woods"
  private val freshText =
    "completely different content about spark streaming state here now"

  private def seedCorpus: DataFrame = Seq(
    (1L, baseText),
    (2L, "some entirely unrelated seeded document text body")
  ).toDF("doc_id", "text")

  test("flagBatch: exact, near, fresh against seeded state") {
    val state = tmp("adm_state")
    StreamAdmission.seed(spark, seedCorpus, state, "doc_id", "text")
    val batch = Seq(
      (10L, baseText),     // exact copy of seeded doc 1
      (11L, nearText),     // near-dup of seeded doc 1
      (12L, freshText)     // novel
    ).toDF("doc_id", "text")
    val flags = StreamAdmission.flagBatch(batch,
        StreamAdmission.loadState(spark, state), "doc_id", "text",
        tau = 0.3, maxShingleDf = 1000L, expectedBatch = 1000L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"),
          r.getAs[Boolean]("admitted"))).toMap
    assert(flags(10L) === ((true, true, false)))
    assert(flags(11L)._2 === true && flags(11L)._3 === false)
    assert(flags(12L) === ((false, false, true)))
  }

  test("within-batch exact copies: min id wins, copy flagged") {
    val state = tmp("adm_state2")
    StreamAdmission.seed(spark, seedCorpus, state, "doc_id", "text")
    val batch = Seq(
      (20L, freshText), (21L, freshText)
    ).toDF("doc_id", "text")
    val flags = StreamAdmission.admitAndCommit(spark, batch, state,
        "doc_id", "text", 0.3, 1000L, 1000L)
      .collect().map(r => r.getLong(0) ->
        r.getAs[Boolean]("admitted")).toMap
    assert(flags === Map(20L -> true, 21L -> false))
    val docs = spark.read.parquet(s"$state/docs")
    assert(docs.filter($"id" === 20L).count() === 1)
    assert(docs.filter($"id" === 21L).count() === 0)
  }

  test("sequential commits: a doc admitted in batch 1 rejects its near-dup in batch 2") {
    val state = tmp("adm_state3")
    StreamAdmission.seed(spark, seedCorpus.filter($"doc_id" === 2),
      state, "doc_id", "text")
    StreamAdmission.admitAndCommit(spark,
      Seq((30L, baseText)).toDF("doc_id", "text"),
      state, "doc_id", "text", 0.3, 1000L, 1000L)
    val flags2 = StreamAdmission.admitAndCommit(spark,
        Seq((31L, nearText)).toDF("doc_id", "text"),
        state, "doc_id", "text", 0.3, 1000L, 1000L)
      .head()
    assert(flags2.getAs[Boolean]("near_dup") === true)
    assert(flags2.getAs[Boolean]("admitted") === false)
    // state grew by exactly the batch-1 admission
    assert(spark.read.parquet(s"$state/docs").count() === 2)
  }

  test("re-delivery of a committed batch is a no-op (replay converges)") {
    val state = tmp("adm_state4")
    StreamAdmission.seed(spark, seedCorpus, state, "doc_id", "text")
    val batch = Seq((40L, freshText)).toDF("doc_id", "text")
    StreamAdmission.admitAndCommit(spark, batch, state,
      "doc_id", "text", 0.3, 1000L, 1000L)
    val before = spark.read.parquet(s"$state/docs")
      .orderBy("id").collect().toSeq
    val replay = StreamAdmission.admitAndCommit(spark, batch, state,
      "doc_id", "text", 0.3, 1000L, 1000L)
    assert(replay.count() === 0)   // nothing left to decide
    val after = spark.read.parquet(s"$state/docs")
      .orderBy("id").collect().toSeq
    assert(after === before)
    // df counts untouched by the replay
    val df = spark.read.parquet(s"$state/shdf")
      .agg(sum("df")).head().getLong(0)
    val sh = spark.read.parquet(s"$state/shingles").count()
    assert(df === sh)   // every posting counted exactly once
  }

  test("state reads recover a swap interrupted between its two moves") {
    val state = tmp("adm_state6")
    StreamAdmission.seed(spark, seedCorpus, state, "doc_id", "text")
    // simulate a crash after `live → bak` but before `tmp → live`:
    // only the backup exists when the next batch starts
    for (t <- Seq("docs", "shdf")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$state/$t"),
        java.nio.file.Paths.get(s"$state/$t.bak"))
    }
    val flags = StreamAdmission.admitAndCommit(spark,
      Seq((60L, baseText), (61L, freshText)).toDF("doc_id", "text"),
      state, "doc_id", "text", 0.3, 1000L, 1000L)
      .collect().map(r => r.getLong(0) ->
        r.getAs[Boolean]("admitted")).toMap
    // the recovered docs table must still reject the seeded duplicate —
    // without recovery-on-read the whole corpus would re-admit
    assert(flags === Map(60L -> false, 61L -> true))
    // and the recovered shdf keeps its accumulated counts (seed + new)
    val df = spark.read.parquet(s"$state/shdf").agg(sum("df"))
      .head().getLong(0)
    val sh = spark.read.parquet(s"$state/shingles").count()
    assert(df === sh)
  }

  test("checkpointed stream: increments process once, state matches batch truth") {
    val src = tmp("adm_src")
    val cp = tmp("adm_cp")
    val state = tmp("adm_state5")
    StreamAdmission.seed(spark, seedCorpus, state, "doc_id", "text")

    def deliver(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(seedCorpus.schema).parquet(src)
      val done = StreamAdmission.start(stream, state, cp,
        "doc_id", "text", tau = 0.3, maxShingleDf = 1000L,
        expectedBatch = 1000L).awaitTermination(120000)
      assert(done, "admission stream timed out")
    }
    deliver(Seq((50L, nearText), (51L, freshText)))
    deliver(Seq((52L, baseText),                       // exact vs seed
      (53L, "yet another unique text about windowed aggregation")))
    // truth: 51 and 53 admitted; 50 near-dup, 52 exact-dup
    val ids = spark.read.parquet(s"$state/docs")
      .select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 51L, 53L))
    // second start over the same checkpoint reprocesses nothing
    deliver(Seq.empty[(Long, String)])
    assert(spark.read.parquet(s"$state/docs").count() === 4)
  }
}
