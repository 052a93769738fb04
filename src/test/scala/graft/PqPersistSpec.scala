package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Pq

/** PQ model + encoded-corpus persistence: save → load serves
  * bit-identical `pqTopK`/`pqRerank` results (the
  * [[graft.sim.Similarity.saveIvfIndex]] round-trip proof, for PQ).
  * Doubles round-trip parquet exactly, so no tolerance anywhere. */
class PqPersistSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val model = Pq.trainPq(emb, m = 8, ksub = 16, iters = 2)
  private val pred = col("vec_id") % 50 === 0

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("model save → load round-trips codebooks and sqNorms bit-exactly") {
    val dir = TestSpark.tempDir("pq_save")
      .toString + "/pq"
    Pq.savePqModel(model, dir, spark)
    val loaded = Pq.loadPqModel(spark, dir)
    assert(loaded.ds == model.ds)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // the saved sqnorm column matches the fixed-order ‖centroid‖²
    // fold the model derives internally (same sequential left fold)
    val savedSq = spark.read.parquet(s"$dir/codebooks")
      .select("sub", "code", "sqnorm").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    def sq(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    for (j <- loaded.codebooks.indices; c <- loaded.codebooks(j).indices)
      assert(savedSq((j, c)) == sq(loaded.codebooks(j)(c)))
  }

  test("loaded model serves bit-identical pqTopK and pqRerank") {
    val dir = TestSpark.tempDir("pq_save2")
      .toString + "/pq"
    Pq.savePqModel(model, dir, spark)
    val loaded = Pq.loadPqModel(spark, dir)
    assert(rows(Pq.pqTopK(emb, pred, 10, loaded)) ===
      rows(Pq.pqTopK(emb, pred, 10, model)))
    assert(rows(Pq.pqRerank(emb, pred, 10, 50, loaded)) ===
      rows(Pq.pqRerank(emb, pred, 10, 50, model)))
  }

  test("persisted encoded corpus serves bit-identical results without " +
      "re-encoding (topk + rerank stage-1 pool)") {
    val dir = TestSpark.tempDir("pq_enc")
      .toString + "/pq"
    Pq.savePqEncoded(emb, model, dir)
    val enc = Pq.loadPqEncoded(spark, dir)
    assert(rows(Pq.pqTopKEncoded(enc, emb, pred, 10, model)) ===
      rows(Pq.pqTopK(emb, pred, 10, model)))
    val pool = Pq.pqTopKEncoded(enc, emb, pred, 50, model)
    assert(rows(Pq.pqRerankWith(pool, emb, pred, 10, 50)) ===
      rows(Pq.pqRerank(emb, pred, 10, 50, model)))
  }
}
