package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the production ANN memory lever beyond
  * whole-vector int8 ([[Quantize]]): split each d-dim vector into `m`
  * subvectors, learn a `ksub`-entry codebook per subspace (Lloyd, like
  * [[Similarity.buildIvfIndex]] but per-subspace), and store each
  * vector as m one-byte codes — d·4 bytes → m bytes (64× at d=64,
  * m=8, vs 4× for int8), the compression that keeps a 100 TB corpus'
  * index in cluster memory.
  *
  * Retrieval is asymmetric (ADC): the query stays float; per query a
  * lookup table LUT[j][c] = ⟨q_j, codebook[j][c]⟩ (m·ksub doubles,
  * metadata) is built once, and a candidate's approximate inner
  * product is Σ_j LUT[j][code_j] — m table lookups, no float vector
  * ever touched on the corpus side. Scores are normalized by the
  * RECONSTRUCTION norm (precomputed per candidate at encode time from
  * the codebook alone), approximating cosine ranking.
  *
  * Scale shape: training touches the corpus `iters` times (one
  * mapPartitions assignment + one two-phase decimal aggregation per
  * round — the recentering sums are m·ksub·(d/m) rows, metadata);
  * encoding is one mapPartitions projection; retrieval broadcasts the
  * query LUT block against the (m bytes + 1 double)/row encoded corpus
  * scan, which never shuffles — same corpus-stays-put shape as
  * [[Quantize.q8TopK]]. Codebooks are C·d doubles on the driver, the
  * same metadata budget as the IVF centroids.
  *
  * Determinism: Lloyd recentering aggregates decimal(38,18) sums
  * (order-independent), seeds are the first-ksub vectors by id, and
  * assignment ties break to the lowest code — so codes, LUTs and
  * scores are reproducible across runs and partitionings. Like IVF/LSH
  * the trained ranking is engine-specific (float k-means), so registry
  * entries are rows-only EXCEPT the exhaustive mode: with the
  * candidate pool ≥ corpus size the rerank stage reproduces
  * [[Similarity.bruteForceTopK]] bit-for-bit (hash-proven against the
  * sim_cosine_topk oracle).
  */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` is the c-th centroid of
    * subspace j (length d/m each). */
  case class PqModel(ds: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    /** ‖codebook[j][c]‖² table, the query-independent half of the
      * reconstruction norm. */
    private[sim] lazy val sqNorms: Array[Array[Double]] =
      codebooks.map(_.map(c => dotArr(c, c)))
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def l2sq(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val d = a(off + i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest code (squared L2, ties to the lowest code) of the j-th
    * subvector of `v`. */
  private def nearest(v: Array[Double], j: Int, ds: Int,
      cb: Array[Array[Array[Double]]]): Int = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cb(j).length) {
      val dist = l2sq(v, j * ds, cb(j)(c))
      if (dist < bd) { bd = dist; best = c }
      c += 1
    }
    best
  }

  /** Train per-subspace codebooks with `iters` Lloyd rounds. Seeds are
    * the first `ksub` vectors by id (deterministic, like IVF's
    * first-C); subspaces that capture no vectors in a round keep their
    * previous centroid. */
  def trainPq(embeddings: DataFrame, m: Int, ksub: Int,
      iters: Int = 2): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1 && ksub <= 128,
      s"ksub must be in [1,128] (codes are one signed byte), got $ksub")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // localCheckpoint, not cache: the Lloyd rounds run actions against
    // vecs; registered with CacheScope so session release frees the
    // blocks deterministically (same rationale as buildIvfIndex)
    val vecs = graft.CacheScope.trackLocalCheckpoint(
      Similarity.withNorms(embeddings).select("vec_id", "vd")
        .as[(Long, Seq[Double])])
    val seeds = vecs.orderBy("vec_id").limit(ksub).collect()
    require(seeds.nonEmpty, "cannot train PQ on an empty corpus")
    val d = seeds.head._2.length
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    val ds = d / m
    // short corpora wrap seeds: duplicate centroids are harmless (the
    // lowest code wins assignment ties)
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) { (j, c) =>
      seeds(c % seeds.length)._2.toArray.slice(j * ds, (j + 1) * ds)
    }
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cb)
      val mLocal = m; val dsLocal = ds
      val assigned = vecs.mapPartitions { it =>
        val cbs = bc.value
        it.flatMap { case (_, vdSeq) =>
          val v = vdSeq.toArray
          (0 until mLocal).iterator.map { j =>
            (j, nearest(v, j, dsLocal, cbs),
              v.slice(j * dsLocal, (j + 1) * dsLocal).toSeq)
          }
        }
      }.toDF("sub", "code", "sv")
      // decimal sums: order-independent recentering, m·ksub·ds rows to
      // the driver (metadata at any corpus size)
      val sums = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg(sum(col("x").cast("decimal(38,18)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDecimal(3).doubleValue() / r.getLong(4).toDouble
      }
      cb = next
      bc.destroy()
    }
    PqModel(ds, cb)
  }

  /** Encode the corpus: (vec_id, codes array<tinyint> length m, rnorm)
    * — rnorm is the reconstruction norm ‖Σ_j codebook[j][code_j]‖
    * (block-orthogonal subspaces: the squared norm is the sum of the
    * per-subspace squared norms), precomputed here so retrieval never
    * revisits the codebook for candidates. */
  def pqEncode(embeddings: DataFrame, model: PqModel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((model.codebooks, model.sqNorms))
    val mLocal = model.m; val dsLocal = model.ds
    Similarity.withNorms(embeddings).select("vec_id", "vd")
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (cbs, sq) = bc.value
        it.map { case (id, vdSeq) =>
          val v = vdSeq.toArray
          var rsq = 0.0
          val codes = new Array[Byte](mLocal)
          var j = 0
          while (j < mLocal) {
            val c = nearest(v, j, dsLocal, cbs)
            codes(j) = c.toByte
            rsq += sq(j)(c)
            j += 1
          }
          (id, codes.toSeq, math.sqrt(rsq))
        }
      }.toDF("vec_id", "codes", "rnorm")
  }

  // The ADC accumulation Σ_j LUT[j][code_j] runs as the codegen'd
  // [[graft.functions.ArrayAdcSum]] kernel over a FLAT row-major LUT.
  // The composable zip_with/aggregate HOF form it replaced evaluates
  // interpreted and allocates per pair — at sf1 that made trained PQ
  // slower than exact brute force; ArrayAdcSumSpec keeps the HOF form
  // as the reference semantics and proves bit-parity on both shapes.

  /** ADC top-k: approximate cosine = Σ_j LUT[j][code_j] / (‖q‖·rnorm).
    * Output (query_id, rank, cand_id, score), against an
    * ALREADY-ENCODED corpus `enc = pqEncode(embeddings, model)` — the
    * serve-path shape: encode once per corpus version, and every
    * query batch pays only the (m bytes + 1 double)/row encoded scan,
    * never a re-encode.
    *
    * Plan shape mirrors [[Similarity.bruteForceTopK]]'s tiled
    * primitive-block harness — query LUTs collect into BOUNDED tiles
    * (flat Array[Double] blocks) that broadcast against one encoded-
    * corpus scan each, scored in a primitive flatMap: measured at
    * sf1, the earlier broadcast-join form paid BroadcastNestedLoop
    * row plumbing per (query, candidate) pair that kept PQ behind
    * the exact path even with the codegen ADC kernel; the primitive
    * harness makes the per-pair cost the m flat-array lookups
    * themselves (vs d mults for exact — the ADC win), on a corpus
    * scan 32× narrower. The accumulation order is IDENTICAL to
    * [[graft.functions.ArrayAdcSum]]'s (ascending j), so scores are
    * bit-equal to the declarative kernel the hash-green pinned twin
    * runs ([[pqTopKPinned]]), and tiles partition queries exactly,
    * so the union equals the untiled result row-for-row. */
  def pqTopKEncoded(enc: DataFrame, embeddings: DataFrame,
      queryPred: org.apache.spark.sql.Column,
      k: Int, model: PqModel, tileRows: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebooks)
    val mLocal = model.m; val dsLocal = model.ds
    val lutsRaw = Similarity.withNorms(embeddings).filter(queryPred)
      .select("vec_id", "vd", "norm")
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cbs = bc.value
        val ksub = cbs.head.length
        it.map { case (id, vdSeq, nrm) =>
          val v = vdSeq.toArray
          // FLAT row-major LUT (m·ksub doubles): the ADC kernel reads
          // lut[j·ksub + c] as a direct offset — no nested ArrayData
          // views on the per-pair hot path (see ArrayAdcSum scaladoc)
          val lut = new Array[Double](mLocal * ksub)
          var j = 0
          while (j < mLocal) {
            var c = 0
            while (c < ksub) {
              val cent = cbs(j)(c)
              var s = 0.0; var i = 0
              while (i < cent.length) {
                s += v(j * dsLocal + i) * cent(i); i += 1
              }
              lut(j * ksub + c) = s
              c += 1
            }
            j += 1
          }
          (id, lut.toSeq, nrm)
        }
      }.toDF("query_id", "lut", "qnorm")
    // checkpoint: each tile's collect otherwise re-runs the
    // corpus-wide filter + LUT build (same rationale as
    // bruteForceTopK's query-side checkpoint); tracked for release
    val luts = graft.CacheScope.trackLocalCheckpoint(lutsRaw)
    val numTiles = math.max(1L,
      (luts.count() + tileRows - 1) / tileRows).toInt
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    val perTile = (0 until numTiles).flatMap { t =>
      val tileQ = if (numTiles == 1) luts
        else luts.filter(pmod(hash(col("query_id")), lit(numTiles)) === t)
      val rows = tileQ.orderBy("query_id").collect()
      if (rows.isEmpty && numTiles > 1) None else {
        val qids = rows.map(_.getLong(0))
        val qluts = rows.map(_.getSeq[Double](1).toArray)
        val qnorms = rows.map(_.getDouble(2))
        val qbc = spark.sparkContext.broadcast((qids, qluts, qnorms))
        // candidate MINI-BATCHES, query-outer within each batch: a
        // query's 4 KB LUT stays L1-hot across the batch's candidates
        // (the canonical ADC loop order). Row-outer/query-inner would
        // stream the whole |Q|·m·ksub LUT block (MBs) past every
        // corpus row — measured memory-bound BEHIND the exact dot,
        // whose per-query state is ksub× smaller. Scores and the
        // (query, cand) pair SET are order-independent, so this is
        // bit-identical to any other loop order.
        val scored = enc.select("vec_id", "codes", "rnorm")
          .as[(Long, Seq[Byte], Double)]
          .mapPartitions { it =>
            val (ids, lts, nms) = qbc.value
            val nq = ids.length
            it.grouped(1024).flatMap { batch =>
              val rows = batch.toArray
              val cids = rows.map(_._1)
              val codesArr = rows.map(_._2.toArray)
              val rnorms = rows.map(_._3)
              (0 until nq).iterator.flatMap { qi =>
                val lut = lts(qi); val qn = nms(qi); val qid = ids(qi)
                cids.indices.iterator.flatMap { ri =>
                  val cid = cids(ri)
                  if (cid == qid) None
                  else {
                    val codes = codesArr(ri)
                    val m = codes.length
                    val ksub = if (m > 0) lut.length / m else 0
                    // ascending-j fold — bit-equal to ArrayAdcSum
                    var s = 0.0; var j = 0
                    while (j < m) { s += lut(j * ksub + codes(j)); j += 1 }
                    val rnorm = rnorms(ri)
                    val score =
                      if (rnorm > 0 && qn > 0) s / (qn * rnorm)
                      else Double.NegativeInfinity
                    Some((qid, cid, score))
                  }
                }
              }
            }
          }.toDF("query_id", "cand_id", "score")
        Some(scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "rank", "cand_id", "score"))
      }
    }
    perTile.reduce(_ union _)
  }

  /** The pinned integer codebook value for (subspace j, code c, dim i):
    * a fixed arithmetic formula, no training — the PQ analog of a
    * shipped `merges.txt`. Rendered identically by [[pinnedCbSql]] for
    * the DuckDB oracle, so codebook, assignment and ADC scores are all
    * BIGINT-exact cross-engine. */
  private def pinnedCbVal(j: Int, c: Int, i: Int): Int =
    ((c * (2 * i + 1) + 3 * j) % 17) - 8

  /** [[pinnedCbVal]] as a DuckDB SQL expression over the (non-negative
    * integer) SQL expressions `j`, `c`, `i`. */
  def pinnedCbSql(j: String, c: String, i: String): String =
    s"((($c) * (2*($i)+1) + 3*($j)) % 17) - 8"

  /** Pinned-integer ADC conformance twin of [[pqTopKEncoded]]: the same
    * encode → LUT → Σ_j LUT[j][code_j] → rank pipeline (including the
    * SAME codegen'd [[graft.functions.ArrayAdcSum]] table-lookup
    * kernel and the same [[nearest]] lowest-tie assignment kernel),
    * but over int8-quantized
    * vectors ([[Quantize.q8Codes]]) and the [[pinnedCbVal]] codebook —
    * every distance, LUT cell and score is integer arithmetic, so the
    * full ADC ranking is BIGINT-exact and oracle-checkable by hash.
    * The trained float path ([[pqTopKEncoded]]) stays rows-only by necessity
    * (float k-means is engine-specific); this twin is its hash anchor.
    *
    * Scale shape is the production one: the encoded corpus
    * (m bytes/row) never shuffles; the query-LUT block broadcasts. */
  def pqTopKPinned(embeddings: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      m: Int = 8, ksub: Int = 16, scale: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
      Quantize.q8Codes(col("embedding"), scale).as("__q8"))
    val d = base.select(size(col("__q8"))).head.getInt(0)
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    val ds = d / m
    val cb = Array.tabulate(m, ksub)((j, c) =>
      Array.tabulate(ds)(i => pinnedCbVal(j, c, i).toDouble))
    val bc = spark.sparkContext.broadcast(cb)
    val mL = m; val dsL = ds; val ksubL = ksub
    val enc = base.as[(Long, Seq[Byte])].mapPartitions { it =>
      val cbs = bc.value
      it.map { case (id, q) =>
        // integer values ride in doubles: products are < 2^24, far
        // inside the 2^53 exact-integer range, so nearest() is exact
        val v = new Array[Double](q.length)
        var i = 0
        while (i < q.length) { v(i) = q(i).toDouble; i += 1 }
        (id, Seq.tabulate(mL)(j => nearest(v, j, dsL, cbs).toByte))
      }
    }.toDF("vec_id", "codes")
    val luts = base.filter(queryPred)
      .as[(Long, Seq[Byte])].mapPartitions { it =>
        val cbs = bc.value
        it.map { case (id, q) =>
          // flat row-major, same layout as the trained path
          val lut = Seq.tabulate(mL * ksubL) { x =>
            val j = x / ksubL; val c = x % ksubL
            var s = 0L; var i = 0
            while (i < dsL) {
              s += q(j * dsL + i) * cbs(j)(c)(i).toLong; i += 1
            }
            s
          }
          (id, lut)
        }
      }.toDF("query_id", "lut")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    enc.join(broadcast(luts), col("query_id") =!= col("vec_id"))
      .withColumn("score",
        graft.functions.ArrayAdcSum.array_adc_sum(col("codes"), col("lut")))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "score")
  }

  /** Two-stage retrieval, stage 2: exact float cosine re-ranks a
    * stage-1 pool (query_id, cand_id) to `k` — an ADC pool
    * ([[pqTopKEncoded]] with k = `mPool`) or [[Quantize.q8Rerank]]'s
    * int8 pool; the sim_cosine_topk oracle's semantics. With mPool ≥
    * corpus size stage 1 keeps every candidate and the output equals
    * [[Similarity.bruteForceTopK]] bit-for-bit — the exhaustive-mode
    * conformance proof. */
  def pqRerankWith(pool: DataFrame, embeddings: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int, mPool: Int)
      : DataFrame = {
    import graft.functions.ArrayDotProduct.array_dot
    require(mPool >= k, s"rerank pool mPool=$mPool must be >= k=$k")
    val cands = pool.select("query_id", "cand_id")
    val v = Similarity.withNorms(embeddings)
    val cv = v.join(broadcast(cands), col("vec_id") === col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        col("vd").as("__cv"), col("norm").as("__cn"))
    val qv = v.filter(queryPred)
      .select(col("vec_id").as("__qid"),
        col("vd").as("__qv"), col("norm").as("__qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    cv.join(qv, col("query_id") === col("__qid"))
      .select(col("query_id"), col("cand_id"),
        (array_dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cosine")
  }
}
