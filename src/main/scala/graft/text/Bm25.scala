package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework") — the lexical half of a
  * retrieval stack beside the embedding ANN tier: score =
  * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl)), with the
  * standard Lucene-shape idf = ln(1 + (N − df + ½)/(df + ½)).
  *
  * Scale shape: one token explode over the corpus (shared semantics
  * with [[TextAnalysis.tokens]]), tf/df/doclen as two-phase hash
  * aggregations, the query-term posting lists selected by a broadcast
  * isin BEFORE any join, corpus stats (N, avgdl) as a broadcast 1-row
  * cross, and the final top-k as orderBy+limit →
  * TakeOrderedAndProject (never a global sort). Scoring uses `ln`,
  * which is not correctly-rounded across engines — the conformance
  * entry for THIS scorer is rows-only and the spec pins a
  * hand-computed score; [[bm25PinnedTopK]] is the hash-provable twin.
  */
object Bm25 {

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topK(docs, idCol, textCol, queryTerms, k, k1, b, lnIdf = true)

  /** Conformance twin of [[bm25TopK]]: identical pipeline, identical
    * tf saturation and length normalization, but idf is the raw
    * Robertson–Sparck-Jones odds (N − df + ½)/(df + ½) WITHOUT the
    * `ln`. `ln` is the single BM25 operation IEEE 754 does not require
    * to be correctly rounded (and engines demonstrably differ in the
    * last ulp); +, −, ×, ÷ ARE correctly rounded everywhere, and the
    * per-doc sum folds in pinned term order — so this variant is
    * bit-identical between Spark and the DuckDB oracle and its
    * registry entry hash-checks the whole shared pipeline (tokenize,
    * postings, tf, df, doclen, avgdl, saturation, fold, top-k). Since
    * x ↦ ln(1+x) is strictly monotone, per-TERM weights rank
    * identically to production's; only the cross-term sum differs. */
  def bm25PinnedTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topK(docs, idCol, textCol, queryTerms, k, k1, b, lnIdf = false)

  private def topK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double, b: Double, lnIdf: Boolean): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val lens = docLens(docs, idCol, textCol)
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      avg(col("len")).as("avgdl"))
    // query-term postings only, from here on: tf and df never touch
    // the rest of the vocabulary
    val qtoks = toks.filter(col("term").isInCollection(queryTerms))
    val tf = qtoks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df re-derives from the query-term postings (the filter keeps
    // every posting of each query term)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val odds = (col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val scored = tf.join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", if (lnIdf) log(lit(1.0) + odds) else odds)
      .withColumn("w", col("idf") * (col("tf") * (lit(k1) + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("len") / col("avgdl"))))
    // per-doc score folds the (few) term weights in TERM order, not a
    // float sum(): partial-agg addend order would otherwise vary with
    // partitioning and flip near-tie ranks run-to-run
    scored.groupBy("doc_id")
      .agg(expr("""aggregate(
             array_sort(collect_list(struct(term, w))),
             cast(0.0 AS double), (acc, x) -> acc + x.w)""").as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** doc lengths from a per-row projection, NOT the exploded index:
    * an empty/whitespace-only doc contributes len 0 here, so N and
    * avgdl cover the WHOLE corpus (the Robertson/Zaragoza N), not
    * just docs that happened to produce tokens. */
  private def docLens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(filter(TextAnalysis.tokens(col(textCol)),
        w => length(w) > 0)).as("len"))
}
