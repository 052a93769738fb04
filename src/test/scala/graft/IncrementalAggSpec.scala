package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IncrementalAgg
import graft.streaming.IncrementalAggStream

/** The incremental-rollup algebra (`ops_incr_agg` /
  * `ops_incr_agg_stream`): merge(summarize(A), summarize(B)) must
  * equal summarize(A ∪ B) EXACTLY, in any association order, including
  * null-valued rows — plus the streaming path's batch-id idempotence
  * (a replayed batch is a byte-for-byte no-op on the state table). */
class IncrementalAggSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Keys = Seq("k")

  private def mk(rows: Seq[(Long, java.lang.Double, String)]): DataFrame =
    rows.map { case (k, v, d) =>
      (k, Option(v).map(_.doubleValue), Timestamp.valueOf(d + " 00:00:00"))
    }.toDF("k", "v", "d")

  private val batchA = mk(Seq(
    (1L, 10.5, "2024-01-01"), (1L, 2.25, "2024-01-03"),
    (2L, -4.0, "2024-01-02"), (3L, null, "2024-01-05")))
  private val batchB = mk(Seq(
    (1L, 0.75, "2024-01-02"), (2L, 100.0, "2024-01-01"),
    (4L, 7.0, "2024-01-09")))
  private val batchC = mk(Seq(
    (3L, 5.5, "2024-01-04"), (3L, null, "2024-01-01"),
    (1L, -10.5, "2024-01-07")))

  private def sum3(df: DataFrame) =
    IncrementalAgg.summarize(df, Keys, "v", "d")

  private def rows(df: DataFrame): Set[String] =
    IncrementalAgg.finalizeView(df).orderBy("k")
      .collect().map(_.toString).toSet

  test("merge(summarize(A), summarize(B)) ≡ summarize(A ∪ B) exactly") {
    val merged = IncrementalAgg.merge(sum3(batchA), sum3(batchB), Keys)
    val direct = sum3(batchA.unionByName(batchB))
    assert(rows(merged) == rows(direct))
  }

  test("association order never changes a bit ((A+B)+C ≡ A+(B+C) ≡ direct)") {
    def m(a: DataFrame, b: DataFrame) = IncrementalAgg.merge(a, b, Keys)
    val left = m(m(sum3(batchA), sum3(batchB)), sum3(batchC))
    val right = m(sum3(batchA), m(sum3(batchB), sum3(batchC)))
    val direct = sum3(batchA.unionByName(batchB).unionByName(batchC))
    assert(rows(left) == rows(direct))
    assert(rows(right) == rows(direct))
  }

  test("all-null batch for a key: count advances, value summary survives") {
    val nulls = mk(Seq((7L, null, "2024-02-01"), (7L, null, "2024-02-02")))
    val vals = mk(Seq((7L, 3.0, "2024-02-03")))
    val merged = IncrementalAgg.merge(sum3(nulls), sum3(vals), Keys)
    val r = IncrementalAgg.finalizeView(merged).collect().head
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Double]("sum_v") == 3.0)
    assert(r.getAs[Double]("min_v") == 3.0)
    // avg divides by the FULL count (3), like a recompute's sum/count(*)
    assert(r.getAs[Double]("avg_v") == 1.0)
    assert(r.getAs[Timestamp]("min_d") ==
      Timestamp.valueOf("2024-02-01 00:00:00"))
  }

  test("stream applyBatch: replayed batch id is a no-op on state") {
    val dir = TestSpark.tempDir("incr_spec").toString + "/state"
    assert(IncrementalAggStream.applyBatch(batchA, 0L, dir, Keys, "v", "d"))
    assert(IncrementalAggStream.applyBatch(batchB, 1L, dir, Keys, "v", "d"))
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    // replays of both already-applied ids must be skipped entirely
    assert(!IncrementalAggStream.applyBatch(batchB, 1L, dir, Keys, "v", "d"))
    assert(!IncrementalAggStream.applyBatch(batchA, 0L, dir, Keys, "v", "d"))
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(before.sameElements(after))
    // the next FRESH id still applies, and converges to the full union
    assert(IncrementalAggStream.applyBatch(batchC, 2L, dir, Keys, "v", "d"))
    assert(rows(spark.read.parquet(dir)) ==
      rows(sum3(batchA.unionByName(batchB).unionByName(batchC))))
  }

  test("stream applyBatch on a file:-scheme'd Hadoop path: replay skip + crash recovery") {
    import java.nio.file.Paths
    val local = TestSpark.tempDir("incr_fs").toString
    // explicit URI scheme: the marker + swap must route through the
    // Hadoop FileSystem for this path, not java.nio (which would
    // misread "file:/..." as a relative path)
    val dir = "file:" + local + "/state"
    assert(IncrementalAggStream.applyBatch(batchA, 0L, dir, Keys, "v", "d"))
    assert(IncrementalAggStream.applyBatch(batchB, 1L, dir, Keys, "v", "d"))
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(!IncrementalAggStream.applyBatch(batchB, 1L, dir, Keys, "v", "d"))
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted
      .sameElements(before))
    // crash in the swap window: live moved to .bak, replacement never
    // arrived — the next applyBatch must recover the backup first and
    // then merge on top (same contract as the nio-era crash spec)
    Files.move(Paths.get(s"$local/state"), Paths.get(s"$local/state.bak"))
    assert(IncrementalAggStream.applyBatch(batchC, 2L, dir, Keys, "v", "d"))
    assert(rows(spark.read.parquet(dir)) ==
      rows(sum3(batchA.unionByName(batchB).unionByName(batchC))))
  }
}
