package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{Pq, Similarity}

/** Recall-vs-dial sweep for the retrieval tier — pins the tuning knobs
  * as NUMBERS (recall@10 against the exact brute-force truth on the
  * sf0.01 corpus) instead of prose: IVF nprobe, LSH planes × probe
  * flips, PQ rerank pool. Every assertion is a monotonicity law or a
  * floor the operator's contract promises; the printed table is the
  * dial-position reference. */
class AnnSweepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def embs = Tables.embeddings(spark, sf001)
  private val pred = col("vec_id") % 50 === 0

  private lazy val exact: Map[Long, Set[Long]] =
    Similarity.bruteForceTopK(embs, pred, 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recallOf(df: DataFrame): Double = {
    val approx = df.select("query_id", "cand_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.keysIterator.map(q =>
      approx.get(q).map(a => (a & exact(q)).size).getOrElse(0))
      .sum.toDouble / (exact.size * 10)
  }

  test("IVF recall@10 is monotone in nprobe and exact at nprobe=cells") {
    val idx = Similarity.buildIvfIndex(embs, numCells = 8, iters = 2)
    val recalls = Seq(1, 2, 4, 8).map(np =>
      np -> recallOf(Similarity.ivfQuery(idx, pred, 10, np)))
    info("IVF(numCells=8) recall@10: " + recalls.map { case (n, r) =>
      f"nprobe=$n%d→$r%.3f" }.mkString("  "))
    assert(recalls.sliding(2).forall {
      case Seq((_, a), (_, b)) => b >= a - 1e-9
      case _ => true
    }, s"recall not monotone in nprobe: $recalls")
    // probing every cell IS brute force (asserted bit-exact elsewhere)
    assert(recalls.last._2 === 1.0)
    assert(recalls.head._2 >= 0.3,
      s"nprobe=1 recall ${recalls.head._2} collapsed")
  }

  test("LSH recall@10: multi-probe flips raise recall; coarser buckets beat finer at flips=0") {
    val grid = for (planes <- Seq(2, 4, 6); flips <- Seq(0, 1))
      yield (planes, flips,
        recallOf(Similarity.lshTopKMultiProbe(embs, pred, 10,
          planes, flips)))
    val r = grid.map { case (p, f, v) => (p, f) -> v }.toMap
    info("LSH recall@10: " + grid.map { case (p, f, v) =>
      f"planes=$p%d,flips=$f%d→$v%.3f" }.mkString("  "))
    for (p <- Seq(2, 4, 6))
      assert(r(p -> 1) >= r(p -> 0) - 1e-9,
        s"flips must not lower recall at planes=$p: $grid")
    // 4 buckets of ~1/4 corpus vs 64 buckets of ~1/64: candidate-pool
    // size dominates recall on this corpus
    assert(r(2 -> 0) >= r(6 -> 0),
      s"coarse buckets should outrecall fine ones at flips=0: $grid")
  }

  test("PQ recall@10 is monotone in the rerank pool (superset candidates)") {
    val model = Pq.trainPq(embs, m = 8, ksub = 16, iters = 2)
    val enc = Pq.pqEncode(embs, model)
    val recalls = Seq(10, 30, 100).map(m =>
      m -> recallOf(Pq.pqRerankWith(
        Pq.pqTopKEncoded(enc, embs, pred, m, model), embs, pred, 10, m)))
    info("PQ(m=8,ksub=16) rerank recall@10: " + recalls.map {
      case (m, r) => f"pool=$m%d→$r%.3f" }.mkString("  "))
    // a larger ADC pool is a superset of a smaller one, and the exact
    // rerank picks the true top-10 of the pool — monotone by law
    assert(recalls.sliding(2).forall {
      case Seq((_, a), (_, b)) => b >= a - 1e-9
      case _ => true
    }, s"recall not monotone in pool: $recalls")
    // observed 0.28 / 0.52 / 0.82 on the near-orthogonal sf0.01 corpus
    // (8-byte codes quantize hard there — the 0.9-floor config in
    // DataOpsSpec reranks the exhaustive pool); pin with margin so a
    // codebook/ADC regression trips the sweep
    assert(recalls(1)._2 >= 0.45, s"pool=30 recall regressed: $recalls")
    assert(recalls(2)._2 >= 0.75, s"pool=100 recall regressed: $recalls")
  }

  test("pinned ADC twin: full result shape, non-degenerate code usage") {
    val out = Pq.pqTopKPinned(embs, pred, k = 10).collect()
    val nQueries = embs.filter(pred).count()
    assert(out.length === nQueries * 10, "every query gets a full top-10")
    // the pinned codebook must actually discriminate: a formula
    // regression that collapses all assignments to one code would
    // still hash-match a same-regression oracle, but not this floor
    val scores = out.map(_.getAs[Long]("score"))
    assert(scores.distinct.length > nQueries,
      "ADC scores are near-constant — codebook degenerated")
  }

  test("ANN hard negatives: recall@10 vs the exact other-label entry " +
      "clears the floor, and no same-label pair survives") {
    val exactHn = graft.queries.SimOps
      .queries("sim_hard_negatives")(spark, sf001)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = graft.queries.SimOps
      .queries("sim_hard_negatives_ann")(spark, sf001).collect()
    assert(ann.forall(r =>
      r.getAs[Int]("query_label") != r.getAs[Int]("cand_label")))
    val approx = ann.map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exactHn.keysIterator.map(q =>
      approx.get(q).map(a => (a & exactHn(q)).size).getOrElse(0))
      .sum.toDouble / (exactHn.size * 10)
    info(f"ANN hard-negative recall@10: $recall%.3f")
    assert(recall >= 0.5, f"recall $recall%.3f below floor")
  }
}
