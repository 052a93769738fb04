package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sim.{Pq, Quantize, SemDedup, Similarity}

/** Embedding-similarity conformance queries: exact cosine top-k, the
  * ANN family (hyperplane LSH, multi-probe, IVF, IVF-append, PQ/ADC,
  * int8 with two-stage rerank), centroid analytics, int8 quantization,
  * and the exhaustive-mode twins that hash-prove each approximate
  * path's machinery against the brute-force oracle. Split from
  * DataOps/TrainPrep so the similarity tier owns its fixture models
  * (trained PQ codebooks, appended IVF indexes) and oracle SQL in one
  * place.
  *
  * Scale notes live with each engine module ([[graft.sim.Similarity]],
  * [[graft.sim.Pq]], [[graft.sim.Quantize]]): the corpus side never
  * shuffles in any retrieval plan here — query tiles / LUT blocks /
  * candidate lists broadcast instead.
  */
object SimOps extends QueryModule {

  private def simCosineTopk(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10)
      .orderBy("query_id", "rank")

  // Approximate ANN — engine-specific bucketing; rows-only check here,
  // recall-vs-exact asserted in ScalaTest.
  private def simAnnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10, numPlanes = 4)
      .orderBy("query_id", "rank")

  // Multi-probe variant: Hamming-ball probes recover recall lost to
  // single-bucket LSH (monotone-recall spec in DataOpsSpec); rows-only
  // like sim_ann_lsh (engine-specific bucketing).
  private def simAnnLshMultiProbe(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopKMultiProbe(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10, numPlanes = 4, flips = 1)
      .orderBy("query_id", "rank")

  // IVF ANN — centroid index, nprobe cells per query; engine-specific
  // (Lloyd centroids), so rows-only here; nprobe=all ≡ brute-force
  // equality and recall floors asserted in ScalaTest.
  private def simIvfTopk(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10, numCells = 8, nprobe = 3)
      .orderBy("query_id", "rank")

  // PQ codebooks feed three registry entries (ADC top-k, two-stage
  // rerank, exhaustive proof) — train once per (session, dir). d=64 →
  // m=8 subspaces of 8 dims, 64 codes each: 8 bytes/vector, the 64×
  // memory lever (vs int8's 4×). ksub=64 is the recall sweet spot on
  // the synthetic (near-random — PQ's worst case) embeddings:
  // 0.95 recall@10 from a 100-candidate pool (DataOpsSpec floor 0.9).
  private def pqModel(s: SparkSession, d: String): Pq.PqModel =
    graft.CacheScope.memo(s, d, "pq_model") {
      Pq.trainPq(Tables.embeddings(s, d), m = 8, ksub = 64, iters = 2)
    }

  /** The encoded corpus (codes + rnorm), built once per (session,
    * dir) — the "encode once per corpus version" serve shape; every
    * PQ entry reads this instead of re-encoding per query batch. */
  private def pqEncoded(s: SparkSession, d: String): DataFrame = {
    val model = pqModel(s, d)   // resolved before the nested memo
    graft.CacheScope.memo(s, d, "pq_encoded") {
      graft.CacheScope.track(Pq.pqEncode(Tables.embeddings(s, d), model))
    }
  }

  // ADC ranking is trained-codebook-specific (float k-means) like IVF —
  // rows-only here; exhaustive equality and recall floors in ScalaTest.
  private def simPqTopk(s: SparkSession, d: String): DataFrame =
    Pq.pqTopKEncoded(pqEncoded(s, d), Tables.embeddings(s, d),
        col("vec_id") % 50 === 0, k = 10, pqModel(s, d))
      .orderBy("query_id", "rank")

  // Two-stage: 100 ADC candidates re-ranked by exact cosine to 10.
  private def simPqRerank(s: SparkSession, d: String): DataFrame =
    Pq.pqRerankWith(
        Pq.pqTopKEncoded(pqEncoded(s, d), Tables.embeddings(s, d),
          col("vec_id") % 50 === 0, mPool100, pqModel(s, d)),
        Tables.embeddings(s, d), col("vec_id") % 50 === 0,
        k = 10, mPool = mPool100)
      .orderBy("query_id", "rank")

  private val mPool100 = 100

  // Exhaustive-mode conformance (the IVF/LSH trick): with the pool ≥
  // corpus size stage 1 keeps every candidate, so the PQ encode → ADC
  // → rerank machinery must reproduce brute force bit-for-bit against
  // the same oracle as sim_cosine_topk.
  private def simPqExhaustive(s: SparkSession, d: String): DataFrame =
    Pq.pqRerankWith(
        Pq.pqTopKEncoded(pqEncoded(s, d), Tables.embeddings(s, d),
          col("vec_id") % 50 === 0, Int.MaxValue, pqModel(s, d)),
        Tables.embeddings(s, d), col("vec_id") % 50 === 0,
        k = 10, mPool = Int.MaxValue)
      .orderBy("query_id", "rank")

  // Hash anchor for the ADC table-lookup ranking itself (which the
  // exhaustive twin above bypasses — its rerank degenerates to brute
  // force): int8-quantized vectors against the pinned integer
  // codebook, every score BIGINT-exact. Same ArrayAdcSum kernel, same
  // nearest kernel, same broadcast-LUT plan as the trained path.
  private def simPqPinned(s: SparkSession, d: String): DataFrame =
    Pq.pqTopKPinned(Tables.embeddings(s, d), col("vec_id") % 50 === 0,
        k = 10)
      .orderBy("query_id", "rank")

  // Per-label embedding centroids (decimal-exact means — the building
  // block behind IVF recentering and class prototypes).
  private def embCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, d))
      .orderBy("label", "pos")

  // Nearest-centroid classification: every vector labeled by its
  // closest class prototype, BIGINT-exact end to end (taxonomy
  // tagging / cluster audit — the assignment step of k-means exposed
  // as an operator).
  private def embNnClassify(s: SparkSession, d: String): DataFrame =
    Similarity.nearestCentroidClassify(Tables.embeddings(s, d))
      .orderBy("vec_id")

  // Exhaustive-mode ANN conformance: with nprobe = numCells every cell
  // is probed, so the candidate set is the whole corpus and the IVF
  // join machinery (Lloyd index, cell-keyed probe join, per-query
  // window) must reproduce brute force bit-for-bit — pinned here
  // against the same DuckDB oracle as sim_cosine_topk.
  private def simIvfExhaustive(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10, numCells = 8, nprobe = 8)
      .orderBy("query_id", "rank")

  /** Index built on 6/7 of the corpus, the remaining 1/7 APPENDED
    * without retrain — built once per (session, dir). */
  private def ivfAppendedIndex(s: SparkSession, d: String)
      : Similarity.IvfIndex =
    graft.CacheScope.memo(s, d, "ivf_appended") {
      val emb = Tables.embeddings(s, d)
      val base = Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 7 =!= 3), numCells = 8, iters = 2)
      val appended = Similarity.appendToIvfIndex(base,
        emb.filter(col("vec_id") % 7 === 3))
      graft.CacheScope.release(base.cells)
      graft.CacheScope.release(base.vecs)
      appended
    }

  // Realistic probe over the appended index — trained-centroid-specific
  // like sim_ivf_topk, so rows-only; append ≡ frozen-centroid rebuild
  // is pinned exactly in IvfAppendSpec.
  private def simIvfAppend(s: SparkSession, d: String): DataFrame =
    Similarity.ivfQuery(ivfAppendedIndex(s, d),
        col("vec_id") % 50 === 0, k = 10, nprobe = 3)
      .orderBy("query_id", "rank")

  // nprobe = numCells → every posting list is scanned, so the probe is
  // exhaustive and the result must equal brute force over the FULL
  // corpus — hash-proving the appended index dropped and duplicated
  // nothing (same twin trick as sim_ivf_exhaustive).
  private def simIvfAppendExhaustive(s: SparkSession, d: String)
      : DataFrame =
    Similarity.ivfQuery(ivfAppendedIndex(s, d),
        col("vec_id") % 50 === 0, k = 10, nprobe = 8)
      .orderBy("query_id", "rank")

  // Same trick for LSH: numPlanes = 0 → one bucket ≡ exhaustive. The
  // single-bucket join is a degenerate plan (conformance-only, sf0.01);
  // production retrieval is sim_ann_lsh's real bucketing.
  private def simLshExhaustive(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10, numPlanes = 0)
      .orderBy("query_id", "rank")

  private def embQuantize(s: SparkSession, d: String): DataFrame =
    Quantize.quantize(Tables.embeddings(s, d))
      .select(col("vec_id"),
        array_join(transform(col("q8"), c => c.cast("string")), ",")
          .as("codes"),
        col("n_clipped"))
      .orderBy("vec_id")

  // Same query set as sim_cosine_topk (every 50th vector); numTiles=2
  // exercises the bounded-broadcast tile loop on the conformance path
  // (results are provably tile-count-independent).
  private def simQ8Topk(s: SparkSession, d: String): DataFrame =
    Quantize.q8TopK(Tables.embeddings(s, d),
        col("vec_id") % 50 === 0, k = 10, numTiles = 2)
      .orderBy("query_id", "rank")

  // Two-stage: 30 quantized candidates re-ranked by exact cosine to 10.
  private def simQ8Rerank(s: SparkSession, d: String): DataFrame =
    Quantize.q8Rerank(Tables.embeddings(s, d),
        col("vec_id") % 50 === 0, k = 10, m = 30, numTiles = 2)
      .orderBy("query_id", "rank")

  // Embedding-cosine near-dup pairs — EXACT all-pairs via the
  // distributed block-pair self-join (moved here from DataOps: the
  // embedding-space dedup family is similarity-tier machinery).
  private def dedupEmbedCosine(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupPairs(Tables.embeddings(s, d), 0.35)
      .orderBy("id1", "id2")

  // SemDeDup scale path: 8 k-means cells bound the pair work. Rows-only
  // by design (Lloyd isn't DuckDB-expressible); SemDedupSpec pins it to
  // the exhaustive twin (numCells=1 parity + keeper-superset), which IS
  // hash-proven below.
  private def dedupSemantic(s: SparkSession, d: String): DataFrame =
    SemDedup.semanticDedup(Tables.embeddings(s, d), 0.35, numCells = 8)
      .orderBy("vec_id")

  // Exact twin: full near-dup graph + CC keeper labels, hash-proven
  // against the recursive-CC DuckDB oracle (same 0.35 threshold as
  // dedup_embed_cosine so the pair set is the proven one).
  private def dedupSemanticExhaustive(s: SparkSession, d: String): DataFrame =
    SemDedup.semanticDedupExhaustive(Tables.embeddings(s, d), 0.35)
      .orderBy("vec_id")

  // Hard-negative mining (contrastive-pair construction): nearest
  // OTHER-label neighbors of each query — same tiled-broadcast kernel
  // and exact fold as sim_cosine_topk, label check inside the loop.
  private def simHardNegatives(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegativeTopK(Tables.embeddings(s, d),
      col("vec_id") % 50 === 0, k = 10)
      .orderBy("query_id", "rank")

  // Production-scale hard negatives: IVF candidate pool (probed
  // posting lists, m=60) → label join → other-label filter → top-10.
  // The composition SCALE.md promises for corpus-sized mining —
  // candidate cost is the probed cells, never all-pairs. Rows-only
  // (trained-centroid-specific, like sim_ivf_topk); AnnSweepSpec pins
  // recall against the exact sim_hard_negatives entry.
  private def simHardNegativesAnn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val labels = emb.select("vec_id", "label")
    val pool = Similarity.ivfTopK(emb, col("vec_id") % 50 === 0,
      k = 60, numCells = 8, nprobe = 3)
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("cand_id"))
    pool
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("query_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("cand_id"),
        col("label").as("cand_label")), Seq("cand_id"))
      .filter(col("query_label") =!= col("cand_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "query_label", "rank", "cand_id", "cand_label",
        "cosine")
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_hard_negatives"   -> (simHardNegatives _),
    "sim_hard_negatives_ann" -> (simHardNegativesAnn _),
    "dedup_embed_cosine"   -> (dedupEmbedCosine _),
    "dedup_semantic"       -> (dedupSemantic _),
    "dedup_semantic_exhaustive" -> (dedupSemanticExhaustive _),
    "emb_centroids"        -> (embCentroids _),
    "emb_nn_classify"      -> (embNnClassify _),
    "sim_cosine_topk"      -> (simCosineTopk _),
    "sim_ann_lsh"          -> (simAnnLsh _),
    "sim_ann_lsh_mp"       -> (simAnnLshMultiProbe _),
    "sim_ivf_topk"         -> (simIvfTopk _),
    "sim_ivf_exhaustive"   -> (simIvfExhaustive _),
    "sim_ivf_append"       -> (simIvfAppend _),
    "sim_ivf_append_exhaustive" -> (simIvfAppendExhaustive _),
    "sim_lsh_exhaustive"   -> (simLshExhaustive _),
    "sim_pq_topk"          -> (simPqTopk _),
    "sim_pq_rerank"        -> (simPqRerank _),
    "sim_pq_exhaustive"    -> (simPqExhaustive _),
    "sim_pq_pinned"        -> (simPqPinned _),
    "emb_quantize"    -> (embQuantize _),
    "sim_q8_topk"     -> (simQ8Topk _),
    "sim_q8_rerank"   -> (simQ8Rerank _),
  )

  /** The module's memoized fixture models (trained PQ codebooks, the
    * encoded corpus, the appended IVF index), benched as explicit
    * `*_build` entries so a single-shot run charges training to its
    * own line instead of whichever retrieval entry runs first (the
    * standing every-memoized-build rule). Note: builds run in
    * alphabetical order and `sim_pq_encode_build` resolves the model
    * memo internally, so the encode line carries BOTH costs and the
    * later model line reads ~0 — the sum is right, the split is
    * ordering-determined. */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "sim_pq_model_build" -> ((s, d) => { pqModel(s, d); () }),
      "sim_pq_encode_build" ->
        ((s, d) => { pqEncoded(s, d).queryExecution.toRdd.count(); () }),
      "sim_ivf_append_build" -> ((s, d) => { ivfAppendedIndex(s, d); () })
    )

  val oracles: Map[String, String] = Map(

    // the exact-top-k oracle with the negative constraint in the join
    "sim_hard_negatives" ->
      """WITH v AS (
           SELECT vec_id, label, embedding::DOUBLE[] AS vd FROM embeddings
         ),
         n AS (
           SELECT vec_id, label, vd,
                  sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                   (a,b) -> a + b)) AS nrm
           FROM v
         ),
         scored AS (
           SELECT q.vec_id AS query_id, q.label AS query_label,
                  c.vec_id AS cand_id, c.label AS cand_label,
                  list_reduce(list_transform(q.vd, (x,i) -> x * c.vd[i]),
                              (p,s) -> p + s) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c
             ON q.vec_id <> c.vec_id AND q.label <> c.label
           WHERE q.vec_id % 50 = 0
         )
         SELECT query_id, query_label, rank, cand_id, cand_label, cosine
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY query_id ORDER BY cosine DESC, cand_id)
                 AS rank
               FROM scored)
         WHERE rank <= 10
         ORDER BY query_id, rank""",

    "dedup_embed_cosine" ->
      """WITH v AS (
           SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
         ),
         n AS (
           SELECT vec_id, vd,
                  sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                   (a,b) -> a + b)) AS nrm
           FROM v
         )
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                list_reduce(list_transform(a.vd, (x,i) -> x * b.vd[i]),
                            (p,q) -> p + q) / (a.nrm * b.nrm) AS cosine
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_reduce(list_transform(a.vd, (x,i) -> x * b.vd[i]),
                           (p,q) -> p + q) / (a.nrm * b.nrm) > 0.35
         ORDER BY id1, id2""",

    // the exhaustive SemDeDup twin: the dedup_embed_cosine pair set fed
    // through the shared CC label rule (min reachable id), keepers =
    // label owners; every vector gets a row (singletons keep trivially)
    "dedup_semantic_exhaustive" ->
      """WITH RECURSIVE v AS (
           SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
         ),
         n AS (
           SELECT vec_id, vd,
                  sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                   (a,b) -> a + b)) AS nrm
           FROM v
         ),
         jp AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE list_reduce(list_transform(a.vd, (x,i) -> x * b.vd[i]),
                             (p,q) -> p + q) / (a.nrm * b.nrm) > 0.35
         ),
         edges AS (SELECT id1 AS a, id2 AS b FROM jp
                   UNION SELECT id2, id1 FROM jp),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         lab AS (SELECT a AS id, least(a, min(b)) AS cluster_id
                 FROM reach GROUP BY a)
         SELECT v.vec_id,
                coalesce(lab.cluster_id, v.vec_id) AS semantic_id,
                coalesce(lab.cluster_id, v.vec_id) = v.vec_id AS keep
         FROM v LEFT JOIN lab ON v.vec_id = lab.id
         ORDER BY v.vec_id""",

    // 2^24 grid snap: power-of-two multiply is IEEE-exact, floor is
    // unambiguous, integer sums are order-free — see labelCentroids
    "emb_centroids" ->
      """WITH x AS (
           SELECT label,
                  unnest(list_transform(embedding,
                    (v, i) -> struct_pack(pos := i - 1, x := CAST(v AS DOUBLE)))) AS u
           FROM embeddings)
         SELECT label,
                CAST(u.pos AS INT) AS pos,
                CAST(SUM(CAST(floor(u.x * 16777216.0) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 16777216.0) AS mean_x,
                count(*) AS n
         FROM x GROUP BY label, u.pos
         ORDER BY label, pos""",

    // same 2^24 grid, shifted +2^24 so every value is nonnegative
    // (shift-invariant distances; truncating // ≡ floor there);
    // centroid coordinate is the round-half-up integer (2s+n)//(2n);
    // distances are pure BIGINT sums of squares — argmin exact, ties
    // to the lowest label
    "emb_nn_classify" ->
      """WITH x AS (
           SELECT vec_id, label,
                  list_transform(embedding,
                    v -> CAST(floor(CAST(v AS DOUBLE) * 16777216.0)
                           AS BIGINT) + 16777216) AS gv
           FROM embeddings),
         e AS (
           SELECT vec_id, label, u.pos AS pos, u.x AS x FROM (
             SELECT vec_id, label,
                    unnest(list_transform(gv, (v, i) ->
                      struct_pack(pos := i - 1, x := v))) AS u
             FROM x)),
         c AS (
           SELECT label AS c_label, pos,
                  CAST((2 * sum(x) + count(*)) // (2 * count(*))
                    AS BIGINT) AS cx
           FROM e GROUP BY label, pos),
         d AS (
           SELECT e.vec_id, e.label, c.c_label,
                  CAST(sum((e.x - c.cx) * (e.x - c.cx)) AS BIGINT)
                    AS dist_sq
           FROM e JOIN c ON e.pos = c.pos
           GROUP BY e.vec_id, e.label, c.c_label),
         r AS (
           SELECT vec_id, label, c_label, dist_sq,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist_sq, c_label) AS rn
           FROM d)
         SELECT vec_id, label, c_label AS pred_label, dist_sq,
                CASE WHEN label = c_label THEN 1 ELSE 0 END AS is_correct
         FROM r WHERE rn = 1
         ORDER BY vec_id""",

    "sim_cosine_topk" -> cosineTopkOracle,

    // Exhaustive-mode ANN entries reduce to the same exact-top-k truth.
    // mirrors pqTopKPinned stage-for-stage: int8 quantization (the
    // emb_quantize rule), per-subspace argmin against the pinned
    // codebook (list_position-of-min ≡ nearest()'s lowest-tie), LUT
    // inner products, Σ_j lookup — all BIGINT-exact. m=8, ksub=16,
    // ds=8, scale=64, k=10.
    "sim_pq_pinned" -> {
      def cb(j: String, c: String, i: String) =
        graft.sim.Pq.pinnedCbSql(j, c, i)
      def dists =
        s"""list_transform(range(16), c ->
              list_sum(list_transform(
                list_transform(range(8), i ->
                  q8[CAST(j*8 + i + 1 AS INT)] - (${cb("j", "c", "i")})),
                dd -> dd * dd)))"""
      s"""WITH qc AS (
           SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x ->
                    CAST(greatest(-128, least(127, floor(x * 64)))
                         AS BIGINT)) AS q8
           FROM embeddings
         ),
         enc AS (
           SELECT vec_id,
                  list_transform(range(8), j ->
                    list_position($dists, list_min($dists)) - 1) AS codes
           FROM qc
         ),
         scored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
                  CAST(list_sum(list_transform(range(8), j ->
                    list_sum(list_transform(range(8), i ->
                      q.q8[CAST(j*8 + i + 1 AS INT)] *
                        (${cb("j", "e.codes[CAST(j + 1 AS INT)]", "i")})))))
                    AS BIGINT) AS score
           FROM qc q JOIN enc e ON q.vec_id <> e.vec_id
           WHERE q.vec_id % 50 = 0
         )
         SELECT query_id, rank, cand_id, score
         FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, cand_id)
                 AS INT) AS rank
               FROM scored)
         WHERE rank <= 10
         ORDER BY query_id, rank"""
    },

    "sim_ivf_exhaustive" -> cosineTopkOracle,
    "sim_ivf_append_exhaustive" -> cosineTopkOracle,
    "sim_lsh_exhaustive" -> cosineTopkOracle,
    "sim_pq_exhaustive"  -> cosineTopkOracle,

    // floor(x·64): power-of-two multiply is IEEE-exact on the
    // float→double cast, so codes are bit-identical cross-engine
    "emb_quantize" ->
      """SELECT vec_id,
                array_to_string(list_transform(embedding::DOUBLE[], x ->
                  CAST(greatest(-128, least(127, floor(x * 64)))
                       AS BIGINT)), ',') AS codes,
                CAST(len(list_filter(embedding::DOUBLE[], x ->
                  floor(x * 64) < -128 OR floor(x * 64) > 127)) AS INT)
                  AS n_clipped
         FROM embeddings ORDER BY vec_id""",

    "sim_q8_topk" ->
      """WITH qc AS (
           SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x ->
                    greatest(-128, least(127, floor(x * 64)))) AS c
           FROM embeddings
         ),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  CAST(list_reduce(list_transform(q.c, (x, i) -> x * c.c[i]),
                                   (a, b) -> a + b) AS BIGINT) AS qdot
           FROM qc q JOIN qc c ON q.vec_id <> c.vec_id
           WHERE q.vec_id % 50 = 0
         )
         SELECT query_id, rank, cand_id, qdot
         FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY qdot DESC, cand_id) AS INT)
                 AS rank
               FROM scored)
         WHERE rank <= 10
         ORDER BY query_id, rank""",

    // stage 1 = sim_q8_topk's integer ranking at m=30; stage 2 = the
    // exact float cosine of sim_cosine_topk's oracle over just those
    // candidates (index-order sums — cross-engine bit-exact)
    "sim_q8_rerank" ->
      """WITH qc AS (
           SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x ->
                    greatest(-128, least(127, floor(x * 64)))) AS c
           FROM embeddings
         ),
         s1 AS (
           SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  CAST(list_reduce(list_transform(q.c, (x, i) -> x * c.c[i]),
                                   (a, b) -> a + b) AS BIGINT) AS qdot
           FROM qc q JOIN qc c ON q.vec_id <> c.vec_id
           WHERE q.vec_id % 50 = 0
         ),
         cand AS (
           SELECT query_id, cand_id
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY qdot DESC, cand_id)
                   AS rn
                 FROM s1)
           WHERE rn <= 30
         ),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         n AS (
           SELECT vec_id, vd,
                  sqrt(list_reduce(list_transform(vd, (x, i) -> x * vd[i]),
                                   (a, b) -> a + b)) AS nrm
           FROM v
         ),
         rer AS (
           SELECT cand.query_id, cand.cand_id,
                  list_reduce(list_transform(q.vd, (x, i) -> x * c.vd[i]),
                              (a, b) -> a + b) / (q.nrm * c.nrm) AS cosine
           FROM cand
           JOIN n q ON q.vec_id = cand.query_id
           JOIN n c ON c.vec_id = cand.cand_id
         )
         SELECT query_id, rank, cand_id, cosine
         FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT)
                 AS rank
               FROM rer)
         WHERE rank <= 10
         ORDER BY query_id, rank"""
  )

  private lazy val cosineTopkOracle: String =
      """WITH v AS (
           SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
         ),
         n AS (
           SELECT vec_id, vd,
                  sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                   (a,b) -> a + b)) AS nrm
           FROM v
         ),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_reduce(list_transform(q.vd, (x,i) -> x * c.vd[i]),
                              (p,s) -> p + s) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c ON q.vec_id <> c.vec_id
           WHERE q.vec_id % 50 = 0
         )
         SELECT query_id, rank, cand_id, cosine
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
               FROM scored)
         WHERE rank <= 10
         ORDER BY query_id, rank"""
}
