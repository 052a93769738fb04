package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sim.{RetrievalEval, Similarity}

/** Retrieval-evaluation conformance: recall@k / MRR / nDCG@k over the
  * exact cosine top-10 ranking and a deterministic graded qrels table
  * — the eval tier every retriever change runs before shipping. All
  * three metrics are hash-green (see [[graft.sim.RetrievalEval]] for
  * the integer-exact metric design); the ranking side reuses the
  * proven sim_cosine_topk arithmetic.
  *
  * Qrels synthesis (both engines derive it from the same formula):
  * query q = every 50th vector; candidate c relevant iff same label
  * and |c − q| ≤ 250 (id-locality stands in for human judgments);
  * graded rel = 2 within ±100, else 1 — so nDCG exercises real graded
  * discounts, not binary gains.
  */
object EvalOps extends QueryModule {

  private val K = 10

  /** The evaluated ranking — exact cosine top-10, memoized per
    * (session, dir): three metric entries share it. */
  private def ranking(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "eval_ranking") {
      graft.CacheScope.track(Similarity.bruteForceTopK(
        Tables.embeddings(s, d), col("vec_id") % 50 === 0, k = K))
    }

  /** Sparse graded qrels: equi-join on label (the hash-join key),
    * range filter on id distance. */
  private def qrels(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "label")
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("__ql"))
    val c = e.select(col("vec_id").as("cand_id"),
      col("label").as("__cl"))
    q.join(c, col("__ql") === col("__cl") &&
        col("query_id") =!= col("cand_id") &&
        abs(col("cand_id") - col("query_id")) <= 250)
      .select(col("query_id"), col("cand_id"),
        when(abs(col("cand_id") - col("query_id")) <= 100, lit(2))
          .otherwise(lit(1)).as("rel"))
  }

  private def evalRecall(s: SparkSession, d: String): DataFrame =
    RetrievalEval.recallAtK(ranking(s, d), qrels(s, d), K)
      .orderBy("query_id")

  private def evalMrr(s: SparkSession, d: String): DataFrame =
    RetrievalEval.mrr(ranking(s, d), qrels(s, d), K)
      .orderBy("query_id")

  private def evalNdcg(s: SparkSession, d: String): DataFrame =
    RetrievalEval.ndcgAtK(ranking(s, d), qrels(s, d), K)
      .orderBy("query_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_recall_at_k" -> (evalRecall _),
    "eval_mrr"         -> (evalMrr _),
    "eval_ndcg"        -> (evalNdcg _)
  )

  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map("eval_ranking_build" ->
      ((s, d) => { ranking(s, d).queryExecution.toRdd.count(); () }))

  /** Shared chain: the sim_cosine_topk scoring arithmetic (proven
    * bit-exact) ranked to 10, plus the qrels formula. */
  private val evalCtes: String =
    s"""v AS (
         SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
       ),
       n AS (
         SELECT vec_id, vd,
                sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                 (a,b) -> a + b)) AS nrm
         FROM v
       ),
       sc AS (
         SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                list_reduce(list_transform(q.vd, (x,i) -> x * c.vd[i]),
                            (p,s) -> p + s) / (q.nrm * c.nrm) AS cosine
         FROM n q JOIN n c ON q.vec_id <> c.vec_id
         WHERE q.vec_id % 50 = 0
       ),
       rk AS (
         SELECT query_id, cand_id, rank FROM (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cosine DESC, cand_id)
             AS rank
           FROM sc)
         WHERE rank <= $K
       ),
       e AS (SELECT vec_id, label FROM embeddings),
       qr AS (
         SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                CASE WHEN abs(c.vec_id - q.vec_id) <= 100
                     THEN 2 ELSE 1 END AS rel
         FROM e q JOIN e c
           ON q.label = c.label AND q.vec_id <> c.vec_id
          AND abs(c.vec_id - q.vec_id) <= 250
         WHERE q.vec_id % 50 = 0
       )"""

  val oracles: Map[String, String] = Map(
    "eval_recall_at_k" ->
      s"""WITH $evalCtes,
         h AS (SELECT rk.query_id, count(*) AS n_hits
               FROM rk JOIN qr ON qr.query_id = rk.query_id
                              AND qr.cand_id = rk.cand_id
               GROUP BY rk.query_id),
         t AS (SELECT query_id, count(*) AS n_rel FROM qr
               GROUP BY query_id)
         SELECT t.query_id, coalesce(h.n_hits, 0) AS n_hits, t.n_rel,
                CAST(coalesce(h.n_hits, 0) AS DOUBLE)
                  / CAST(t.n_rel AS DOUBLE) AS recall
         FROM t LEFT JOIN h USING (query_id)
         ORDER BY t.query_id""",

    "eval_mrr" ->
      s"""WITH $evalCtes,
         f AS (SELECT rk.query_id, min(rk.rank) AS frr
               FROM rk JOIN qr ON qr.query_id = rk.query_id
                              AND qr.cand_id = rk.cand_id
               GROUP BY rk.query_id),
         qq AS (SELECT DISTINCT query_id FROM qr)
         SELECT qq.query_id, CAST(f.frr AS INT) AS first_rel_rank,
                coalesce(CAST(${RetrievalEval.RankLcm} AS BIGINT)
                           // f.frr, 0) AS rr_num
         FROM qq LEFT JOIN f USING (query_id)
         ORDER BY qq.query_id""",

    "eval_ndcg" ->
      s"""WITH $evalCtes,
         w AS (SELECT ${RetrievalEval.dcgWeightsSql} AS ws),
         dc AS (SELECT rk.query_id,
                       CAST(sum(((CAST(1 AS BIGINT) << qr.rel) - 1)
                                * ws[rk.rank]) AS BIGINT) AS dcg_q
                FROM rk JOIN qr ON qr.query_id = rk.query_id
                               AND qr.cand_id = rk.cand_id, w
                GROUP BY rk.query_id),
         rl AS (SELECT query_id, list(rel ORDER BY rel DESC) AS rels
                FROM qr GROUP BY query_id),
         ic AS (SELECT query_id,
                       CAST(list_sum(
                         [((CAST(1 AS BIGINT) << rels[i]) - 1) * ws[i]
                          for i in range(1, least(len(rels), $K) + 1)])
                         AS BIGINT) AS idcg_q
                FROM rl, w)
         SELECT ic.query_id, coalesce(dc.dcg_q, 0) AS dcg_q, ic.idcg_q,
                CASE WHEN ic.idcg_q > 0
                     THEN CAST(coalesce(dc.dcg_q, 0) AS DOUBLE)
                            / CAST(ic.idcg_q AS DOUBLE)
                     ELSE NULL END AS ndcg
         FROM ic LEFT JOIN dc USING (query_id)
         ORDER BY ic.query_id"""
  )
}
