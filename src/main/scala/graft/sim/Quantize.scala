package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization of embedding vectors + quantized top-k —
  * the memory-bandwidth lever of large-scale similarity search (4×
  * smaller vectors than float32, integer dot products).
  *
  * Quantizer: code = clamp(⌊x · scale⌋, -128, 127) with a power-of-two
  * `scale`. Power-of-two multiply is an exponent shift (IEEE-exact for
  * every float input), floor is unambiguous, and the clamp is integer —
  * so codes are bit-identical across engines and the quantized dot
  * product (a sum of bounded integer products) is EXACT, making the
  * whole retrieval path oracle-checkable by hash, unlike float cosine
  * rankings which need careful summation-order pinning.
  *
  * Scale shape (100 TB): quantization is a pure projection inside
  * WholeStageCodegen. [[q8TopK]] streams the full corpus once per query
  * tile against a BROADCAST query block (BroadcastNestedLoopJoin — the
  * corpus side never shuffles), with the tile loop bounding the
  * broadcast size exactly like `Similarity.bruteForceTopK`'s block
  * tiles; per-tile top-k runs a rank window keyed on query_id.
  */
object Quantize {

  /** Clamped ⌊x·scale⌋ codes as array<tinyint> — 1 byte/dim in
    * Tungsten's UnsafeArrayData, the 8×-smaller representation the
    * whole quantized path exists for. `scale` must be a power of two
    * so the multiply is exact for every float input. */
  def q8Codes(emb: Column, scale: Int): Column = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a positive power of two, got $scale")
    transform(emb, x =>
      greatest(lit(-128L), least(lit(127L), floor(x.cast("double") * scale)))
        .cast("byte"))
  }

  /** Per-vector quantization report: codes (comma-joined for a stable
    * textual form) + how many dimensions the clamp saturated. */
  def quantize(df: DataFrame, embCol: String = "embedding",
      scale: Int = 64): DataFrame =
    df.withColumn("q8", q8Codes(col(embCol), scale))
      .withColumn("n_clipped",
        size(filter(transform(col(embCol), x =>
            floor(x.cast("double") * scale)),
          v => v < -128L || v > 127L)))

  /** Exact top-k by quantized dot product, `queryPred` selecting the
    * query rows. Candidates exclude self. Output: (query_id, rank,
    * cand_id, qdot) with qdot the integer dot product (BIGINT-exact).
    *
    * `numTiles` bounds the broadcast query block: each tile holds a
    * hash-assigned ~1/numTiles of the query set, so the broadcast stays
    * fixed-size as the query fraction grows with the corpus (same
    * design as the tiled `bruteForceTopK`). Per-query work is
    * tile-independent, so results are provably identical for any
    * numTiles ≥ 1. */
  def q8TopK(embeddings: DataFrame, queryPred: Column, k: Int,
      scale: Int = 64, numTiles: Int = 1): DataFrame = {
    import graft.functions.ArrayDotI8.array_dot_i8
    require(numTiles >= 1, "numTiles must be >= 1")
    // codes stay array<tinyint> end-to-end: the corpus projection and
    // the broadcast tiles are 1 byte/dim, and the codegen'd
    // array_dot_i8 kernel accumulates byte products into a long
    val codes = q8Codes(col("embedding"), scale)
    val corpus = embeddings.select(col("vec_id"), codes.as("__cc"))
    // checkpoint the (small) query projection so each tile's branch
    // re-reads it instead of re-running the corpus filter numTiles
    // times; with one tile there is one consumer and the eager
    // checkpoint job would be pure overhead
    val qProj = embeddings.filter(queryPred)
      .select(col("vec_id").as("query_id"), codes.as("__qc"))
    val qAll = if (numTiles == 1) qProj
      else graft.CacheScope.trackLocalCheckpoint(qProj)
    val w = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("cand_id"))
    val perTile = (0 until numTiles).map { t =>
      val tileQ =
        if (numTiles == 1) qAll
        else qAll.filter(pmod(hash(col("query_id")), lit(numTiles)) === t)
      corpus.join(broadcast(tileQ), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          array_dot_i8(col("__qc"), col("__cc")).as("qdot"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "cand_id", "qdot")
    }
    perTile.reduce(_ unionByName _)
  }

  /** Two-stage retrieval — the production ANN shape: a cheap quantized
    * pass proposes `m` candidates per query, an exact float cosine
    * re-ranks them down to `k`. Output: (query_id, rank, cand_id,
    * cosine). Both stages are deterministic (integer first stage;
    * index-order float sums + correctly-rounded sqrt/division in the
    * second, the same semantics the sim_cosine_topk oracle pins), so
    * the composition is oracle-checkable end to end.
    *
    * Scale: stage 1 is [[q8TopK]] (corpus never shuffles). Stage 2 is
    * [[Pq.pqRerankWith]], the one exact-cosine rerank stage, and
    * touches only query-scale data: the candidate list (queries·m
    * rows) broadcasts against the corpus scan to pick up candidate
    * vectors (BroadcastHashJoin — big side stays in place), then joins
    * the query vectors on query_id — both sides of that join are
    * query-scale, so its shuffle is small however big the corpus. */
  def q8Rerank(embeddings: DataFrame, queryPred: Column, k: Int, m: Int,
      scale: Int = 64, numTiles: Int = 1): DataFrame =
    Pq.pqRerankWith(q8TopK(embeddings, queryPred, m, scale, numTiles),
      embeddings, queryPred, k, m)
}
