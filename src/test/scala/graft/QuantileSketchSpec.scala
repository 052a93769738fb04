package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QuantileSketch

/** The quantile member of the mergeable-summary family
  * (`ops_incr_quantile*`): merge algebra (associativity /
  * commutativity / batch-boundary independence), the one-bucket-width
  * error bound against exact order statistics, and streamed replay
  * idempotence. */
class QuantileSketchSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val W = 1000L   // $10 buckets on the synthetic frame
  private val keys = Seq("k")

  private lazy val batches: Seq[DataFrame] = Seq(
    Seq(("a", 12.34), ("a", 55.00), ("b", 7.77)),
    Seq(("a", 55.00), ("b", 120.50), ("b", 0.00)),
    Seq(("a", 999.99), ("b", 7.78), ("b", 7.76)))
    .map(_.toDF("k", "v"))

  private def state(df: DataFrame): DataFrame =
    QuantileSketch.summarize(df, keys, "v", W)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("merge is associative, commutative, and batch-boundary " +
      "independent (fold ≡ recompute of the union)") {
    val Seq(s0, s1, s2) = batches.map(state)
    val leftFold = QuantileSketch.merge(
      QuantileSketch.merge(s0, s1, keys), s2, keys)
    val rightFold = QuantileSketch.merge(
      s0, QuantileSketch.merge(s1, s2, keys), keys)
    val reversed = QuantileSketch.merge(
      QuantileSketch.merge(s2, s1, keys), s0, keys)
    val recompute = state(batches.reduce(_ unionByName _))
    assert(rows(leftFold) == rows(recompute))
    assert(rows(rightFold) == rows(recompute))
    assert(rows(reversed) == rows(recompute))
  }

  test("estimates sit within one bucket width above the exact " +
      "quantile, for every key and percent") {
    val all = batches.reduce(_ unionByName _)
    val est = QuantileSketch.quantiles(
      state(all), keys, Seq(50, 95), W)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val byKey = all.as[(String, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(v => math.round(v._2 * 100)).sorted).toMap
    for ((k, vs) <- byKey; p <- Seq(50, 95)) {
      val exact = vs((vs.length * p + 99) / 100 - 1)
      val e = est((k, p))
      assert(e >= exact && e < exact + W,
        s"key=$k p=$p exact=$exact est=$e")
    }
  }

  test("quantiles walks cumulative counts correctly on a hand case") {
    // k=x: 1 row in bucket 0, 3 rows in bucket 2 → n=4;
    // p50 target=2 → bucket 2; p95 target=4 → bucket 2
    val df = Seq(("x", 1.00), ("x", 25.00), ("x", 25.01), ("x", 29.99))
      .toDF("k", "v")
    val q = QuantileSketch.quantiles(state(df), keys, Seq(50, 95), W)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(q(50) == 3 * W - 1)
    assert(q(95) == 3 * W - 1)
  }

  test("streamed state: three deliveries + a replayed batch id " +
      "converge to the batch fold (replay is a no-op)") {
    val dir = TestSpark.tempDir("qsketch")
      .toString + "/state"
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(graft.streaming.QuantileSketchStream.applyBatch(
        b, i.toLong, dir, keys, "v", W))
    }
    val before = rows(spark.read.parquet(dir))
    assert(!graft.streaming.QuantileSketchStream.applyBatch(
      batches(1), 1L, dir, keys, "v", W))
    assert(rows(spark.read.parquet(dir)) == before)
    val recompute = state(batches.reduce(_ unionByName _))
    assert(before == rows(recompute))
  }
}
