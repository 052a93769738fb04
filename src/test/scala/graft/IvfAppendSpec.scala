package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity

/** Incremental IVF maintenance: appending under frozen centroids must
  * be EXACTLY the index a frozen-centroid rebuild over the union
  * produces — no recall loss beyond centroid drift, by construction. */
class IvfAppendSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.as[(Long, Int, Long, Double)].collect().toSet

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val base =
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 7 =!= 3),
      numCells = 8, iters = 2)

  test("append ≡ frozen-centroid rebuild over the union, exactly") {
    val appended = Similarity.appendToIvfIndex(
      base, emb.filter(col("vec_id") % 7 === 3))
    val rebuilt = Similarity.reassignIndex(base, emb)
    for (nprobe <- Seq(2, 8)) {
      val a = rows(Similarity.ivfQuery(appended,
        col("vec_id") % 50 === 0, k = 10, nprobe = nprobe))
      val r = rows(Similarity.ivfQuery(rebuilt,
        col("vec_id") % 50 === 0, k = 10, nprobe = nprobe))
      assert(a === r, s"nprobe=$nprobe")
      assert(a.nonEmpty)
    }
  }

  test("appended index is complete: exhaustive probe ≡ brute force") {
    val appended = Similarity.appendToIvfIndex(
      base, emb.filter(col("vec_id") % 7 === 3))
    val ex = rows(Similarity.ivfQuery(appended,
      col("vec_id") % 50 === 0, k = 10, nprobe = 8))
    val bf = rows(Similarity.bruteForceTopK(emb,
      col("vec_id") % 50 === 0, 10))
    assert(ex === bf)
  }

  test("overlapping vec_ids are rejected") {
    val err = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(base, emb.filter(col("vec_id") % 7 =!= 3))
    }
    assert(err.getMessage.contains("overlap"))
  }
}
