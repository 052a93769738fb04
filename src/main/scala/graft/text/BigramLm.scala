package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model quality scoring — the CCNet/Gopher move of
  * ranking documents by how "language-like" they read under a small
  * n-gram LM (Wenzek et al. 2020 score with a Wikipedia LM; here the
  * model trains on the corpus itself through the same distributed
  * path a held-out model would load into).
  *
  * Model: add-one-smoothed bigram conditionals over the whitespace
  * token stream with a BOS sentinel,
  *   P(w | prev) = (c(prev,w) + 1) / (C(prev) + V),
  * where c is the bigram count, C(prev) = Σ_w c(prev,w), and V is the
  * corpus vocabulary size. Unseen contexts back off to 1/V (the same
  * formula with both counts zero, via left joins).
  *
  * Three surfaces, one pipeline (the bm25 pinned-twin pattern):
  *   - [[trainCounts]]: the LEARNED table — pure integers, hash-green
  *     (`text_lm_train`);
  *   - [[pinnedScore]]: per-doc Σ ⌊10⁹·P⌋ by exact BIGINT division —
  *     every operand integral, so the whole train→broadcast→join→fold
  *     pipeline is hash-provable cross-engine (`text_lm_pinned`);
  *   - [[lnScore]]: the production cross-entropy / perplexity (mean
  *     ln P) — `ln` is the one op IEEE leaves unrounded cross-engine,
  *     so rows-only, with BigramLmSpec pinning hand-computed values.
  *
  * Scale shape (100 TB): training is one explode + hash-agg (map-side
  * combined; bigram distinct is vocabulary-bounded, not corpus-
  * bounded). Scoring broadcasts the model (counts + context totals —
  * the classic "LM as broadcast table" seam; a production trigram
  * model at ~10⁷ rows still broadcasts) and is then a pure per-row
  * join+fold: the corpus never shuffles.
  */
object BigramLm {

  val Bos = "<s>"

  /** (id, prev, w) — one row per bigram occurrence, BOS-prefixed, so
    * a doc with n ≥ 1 tokens yields exactly n bigrams. The token
    * array is MATERIALIZED in its own projection first: the pair
    * lambda references it 2× per element, and an inlined
    * split-filter expression would re-tokenize the document per
    * reference — O(n²) in doc length (measured 3.5× on the lm tier). */
  def bigrams(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toked = docs.select(col(idCol),
      filter(TextAnalysis.tokens(col(textCol)),
        w => length(w) > 0).as("__ts"))
    val ts = col("__ts")
    // sequence(0, n-2) REVERSES to [0,-1] when n = 1 (default step -1,
    // same trap as Sampling.scala's sliding windows) — so the sliding
    // half must be guarded to n >= 2 or a 1-token doc hits
    // element_at(ts, 0) and throws. A 1-token doc yields exactly its
    // one BOS bigram.
    val emptyPairs = array().cast("array<struct<prev:string,w:string>>")
    val pairs = when(size(ts) >= 1,
      concat(
        array(struct(lit(Bos).as("prev"),
          element_at(ts, 1).as("w"))),
        when(size(ts) >= 2,
          transform(sequence(lit(0), size(ts) - 2),
            i => struct(element_at(ts, i + 1).as("prev"),
              element_at(ts, i + 2).as("w"))))
          .otherwise(emptyPairs)))
      .otherwise(emptyPairs)
    toked.select(col(idCol), explode(pairs).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.w").as("w"))
  }

  /** The learned model: bigram counts. Vocabulary-bounded output. */
  def trainCounts(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    bigrams(docs, idCol, textCol)
      .groupBy("prev", "w").agg(count(lit(1)).as("c"))

  /** Context totals C(prev) = Σ_w c(prev,w). */
  def contextTotals(counts: DataFrame): DataFrame =
    counts.groupBy("prev").agg(sum(col("c")).as("cc"))

  /** Corpus vocabulary size V (distinct non-empty tokens). */
  def vocabSize(docs: DataFrame, textCol: String): Long =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .agg(countDistinct(col("t"))).head().getLong(0)

  /** Per-doc model join: each bigram with its (c, C) — zeros for
    * unseen, the add-one backoff. The model side broadcasts. */
  private def scoredBigrams(docs: DataFrame, idCol: String,
      textCol: String, counts: DataFrame, totals: DataFrame)
      : DataFrame =
    bigrams(docs, idCol, textCol)
      .join(broadcast(counts), Seq("prev", "w"), "left")
      .join(broadcast(totals), Seq("prev"), "left")
      .select(col(idCol),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("cc"), lit(0L)).as("cc"))

  /** Hash-provable twin: per-doc Σ ⌊10⁹·(c+1)/(C+V)⌋ — EXACT integer
    * division ((c+1)·10⁹ ≤ ~10¹⁶ stays far inside BIGINT), so every
    * engine agrees to the last digit. Emits (id, n_bigrams, score_q);
    * empty docs score 0 over 0 bigrams. */
  def pinnedScore(docs: DataFrame, idCol: String, textCol: String,
      counts: DataFrame, totals: DataFrame, v: Long): DataFrame = {
    val perDoc = scoredBigrams(docs, idCol, textCol, counts, totals)
      .withColumn("pq",
        expr(s"((c + 1L) * 1000000000L) div (cc + ${v}L)"))
      .groupBy(idCol).agg(count(lit(1)).as("n_bigrams"),
        sum(col("pq")).as("score_q"))
    // total over the input: empty docs score 0 over 0 bigrams rather
    // than silently vanishing from the groupBy of the exploded stream
    docs.select(idCol).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_q"), lit(0L)).as("score_q"))
  }

  /** CCNet's head/middle/tail partition, on the EXACT integer rate:
    * pq_mean = score_q div n_bigrams (the pinned per-bigram mean —
    * monotone with model probability, so rank-equivalent to inverse
    * perplexity), cut at the sample terciles. The cutoffs come from a
    * BOUNDED deterministic sample (CCNet derives thresholds from a
    * held-out slice for the same reason: corpus-wide exact quantiles
    * need a global rank): two scalars, computed once and applied as a
    * broadcast-free CASE projection — the corpus never shuffles and
    * no global window exists anywhere in the plan. */
  def rateBuckets(pinned: DataFrame, samplePred: Column): DataFrame = {
    val rated = pinned.withColumn("pq_mean",
      when(col("n_bigrams") > 0, expr("score_q div n_bigrams"))
        .otherwise(lit(0L)))
    // metadata-scale collect: samplePred must bound the row count
    // absolutely (the registry entry caps by id), like the other
    // bounded-probe collects
    val sample = rated.filter(samplePred).select("pq_mean")
      .collect().map(_.getLong(0)).sortBy(x => -x)
    require(sample.nonEmpty, "rateBuckets: empty threshold sample")
    def cutAt(frac: Double): Long =
      sample(math.max(0, math.ceil(sample.length * frac).toInt - 1))
    val (c1, c2) = (cutAt(1.0 / 3), cutAt(2.0 / 3))
    rated.withColumn("bucket",
      when(col("pq_mean") >= c1, lit("head"))
        .when(col("pq_mean") >= c2, lit("middle"))
        .otherwise(lit("tail")))
  }

  /** Production score: mean ln P (negative cross-entropy) and
    * perplexity exp(−mean). Empty docs emit NULLs. */
  def lnScore(docs: DataFrame, idCol: String, textCol: String,
      counts: DataFrame, totals: DataFrame, v: Long): DataFrame = {
    val perDoc = scoredBigrams(docs, idCol, textCol, counts, totals)
      .withColumn("lp",
        log((col("c") + 1).cast("double") /
          (col("cc") + v).cast("double")))
      .groupBy(idCol).agg(count(lit(1)).as("n_bigrams"),
        avg(col("lp")).as("mean_ln_p"))
      .withColumn("perplexity", exp(-col("mean_ln_p")))
    docs.select(idCol).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_ln_p"), col("perplexity"))
  }
}
