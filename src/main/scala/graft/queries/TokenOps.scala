package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{Bpe, TextAnalysis}

/** Subword-tokenization conformance queries: the pinned-merge BPE
  * tokenizer ([[graft.text.Bpe]]) exercised end-to-end over the
  * documents corpus, with DuckDB oracles GENERATED from the same frozen
  * merge table the engine folds over — one table, two renderings, no
  * drift surface.
  *
  * Scale notes: every query here is a single projection over the
  * corpus scan (the replace chain is per-row, codegen, no shuffle);
  * the vocabulary top-k plans as partial-agg → TakeOrdered, never a
  * global sort.
  */
object TokenOps extends QueryModule {

  // NULL text ≡ empty doc (0 subwords), normalized at the seam in both
  // renderings — same convention as the curation corpus.
  private val textC = coalesce(col("text"), lit(""))

  // Full per-document tokenization: count + the token stream itself
  // (joined by ' '), so the conformance hash pins token IDENTITY and
  // ORDER, not just arithmetic.
  private def textTokensBpe(s: SparkSession, d: String): DataFrame = {
    val toks = Bpe.tokens(textC)
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks).as("n_subwords"),
        array_join(toks, " ").as("subwords"))
      .orderBy("doc_id")
  }

  // Corpus subword vocabulary, top 50 by frequency (ties broken by
  // token) — explode → partial-agg count → TakeOrderedAndProject.
  private def vocabBpeTopk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(Bpe.tokens(textC)).as("subword"))
      .groupBy("subword").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("subword"))
      .limit(50)


  private def textLangid(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langScores(Tables.documents(s, d))
      .select("doc_id", "score_en", "score_es", "score_de", "lang_pred")
      .orderBy("doc_id")

  private def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityScores(Tables.documents(s, d))
      .select("doc_id", "n_tokens", "n_chars", "n_punct", "n_stopwords",
        "avg_token_len", "punct_ratio", "stopword_ratio")
      .orderBy("doc_id")

  private def textTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, d))
      .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "n_subwords")
      .orderBy("doc_id")

  private def textFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  // Per-language token-length distribution — the "is this corpus slice
  // the right shape" check before mixing. Exact interpolated quantiles
  // at DYADIC fractions (.25/.5/.75): on integer token counts every
  // intermediate (h = p·(n−1), the fraction, the lerp) is exact in
  // a double, so Spark's percentile and DuckDB's quantile_cont agree
  // bit-for-bit regardless of their lerp formulation. Non-dyadic
  // fractions (0.1) would NOT be cross-engine hash-stable.
  private def textQuantiles(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, d))
      .groupBy("lang")
      .agg(
        expr("percentile(n_bpe_tokens, 0.25)").as("p25"),
        expr("percentile(n_bpe_tokens, 0.5)").as("p50"),
        expr("percentile(n_bpe_tokens, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  // PII scrubbing over a corpus with planted contacts: every 5th doc
  // gains an email, every 7th a URL, every 3rd a phone, every 11th an
  // IPv4 literal (the synthetic corpus has none, so the redaction is
  // exercised against known ground truth).
  private def textRedact(s: SparkSession, d: String): DataFrame = {
    val dirty = Tables.documents(s, d)
      .orderBy("doc_id")
      .withColumn("dirty", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" see https://example.org/d"), col("doc_id")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 192.168."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit(""))))
    TextAnalysis.redact(dirty, "dirty")
      .select("doc_id", "n_emails", "n_urls", "n_phones", "n_ips", "redacted")
  }

  // Within-doc duplicate 3-gram fraction — the "repetitive document"
  // filter signal (drives the codegen word_ngrams kernel through an
  // oracle-checked aggregate, not just the dedup pipelines).
  private def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d))
      .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_frac")
      .orderBy("doc_id")

  // Gopher-style rule gate: word-count bounds, mean word length,
  // symbol ratio — the pre-model quality filter of an LLM pipeline.
  private def textQualityGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityGate(Tables.documents(s, d))
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio", "keep")
      .orderBy("doc_id")

  // Collocations: adjacent token pairs by lift (the PMI order without
  // the non-portable log) — phrase mining over the corpus.
  private def textCollocations(s: SparkSession, d: String): DataFrame =
    TextAnalysis.collocations(Tables.documents(s, d), "text",
      minCount = 5, k = 100)

  // ---- HTML → training-text extraction over a synthesized crawl:
  //      every doc wrapped in deterministic markup (title, optional
  //      style/script subtrees, optional anchor) so every extraction
  //      branch is live; the SAME synthesis feeds the oracle, and the
  //      regexp chain is a shared literal — title, link set, and the
  //      de-tagged entity-decoded text are all hash-checked.
  private def textHtmlExtract(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id, lit("</title>"),
      when(col("doc_id") % 4 === 0, lit("<style>p{color:red}</style>"))
        .otherwise(lit("")),
      lit("</head><body><h1>Doc "), id, lit("</h1><p>"),
      coalesce(col("text"), lit("")), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<a href=\"https://example.org/d"), id,
          lit("\">link</a>"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("<script>var x = \"<p>hidden</p>\";</script>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    graft.text.HtmlOps.extract(
        Tables.documents(s, d).select(col("doc_id"), html.as("html")),
        "doc_id", "html")
      .orderBy("doc_id")
  }

  // BPE merge-table TRAINING over the corpus: 8 ranks of the classic
  // most-frequent-adjacent-pair rule, learned distributed (word
  // histogram once; per rank a map-combinable pair agg + scalar argmax
  // + greedy fold-merge). The corpus is ASCII (character symbols split
  // identically in both engines); the oracle re-runs the whole loop as
  // a generated CTE chain, so the LEARNED table is hash-checked, not
  // just the apply side ([[graft.text.Bpe]]'s frozen table).
  private def vocabBpeTrain(s: SparkSession, d: String): DataFrame =
    graft.text.BpeTrain.trainMerges(Tables.documents(s, d), "text",
      nMerges = 8)

  // Corpus vocabulary: token → frequency, top 500 by (count desc,
  // token) — tokenizer/vocab-building step; one shuffle + TakeOrdered.
  private def vocabTopk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(500)

  private val tokCte = OracleCtes.tokCte
  private val enList = OracleCtes.enList
  private val esList = OracleCtes.esList
  private val deList = OracleCtes.deList

  /** The curation blocklist fixture: multi-word phrases over the
    * synthetic keyword stream (present at varying rates) plus one
    * absent canary. Shared verbatim by query and oracle. */
  private val Blocklist = Seq("slow fast", "table table", "hash value",
    "agg join", "scan scan", "zebra quartz")

  // ---- Multi-phrase blocklist scan: WHICH blocklist phrases a doc
  //      contains, one automaton pass per doc (O(len + hits),
  //      independent of blocklist size — the composable
  //      filter(array, p -> contains) form is O(len · N)). Byte-
  //      substring semantics ≡ contains(), so the oracle is the
  //      composable form in DuckDB.
  // `matched` is emitted '|'-joined (a STRING, not a LIST): same
  // information, but sortable/hashable by column-wise comparators.
  private def textBlocklist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.MultiMatch.multi_match(textC, Blocklist)
          .as("hits"))
      .select(col("doc_id"),
        array_join(col("hits"), "|").as("matched"),
        size(col("hits")).as("n_matched"),
        (size(col("hits")) > 0).as("blocked"))
      .orderBy("doc_id")

  // ---- Heavy hitters ---------------------------------------------
  // φ = 1% heavy hitters, exact: one hash-agg over the token stream
  // plus the stream total (both integers). The truth twin for the
  // sketch path below.
  private def textHeavyHittersExact(s: SparkSession, d: String)
      : DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * 100 >= col("n_total"))
      .select("token", "n", "n_total")
      .orderBy(desc("n"), asc("token"))
  }

  // The one-pass fixed-memory path: Misra–Gries candidates → count-min
  // estimates → φ-threshold on the ESTIMATE. Rows-only by design (the
  // sketch hash is engine-specific); CountMinSpec pins est ≥ true and
  // the exact-set-⊆-flagged-set guarantee, and the exact twin above is
  // hash-green — the a7_approx pattern.
  private def textHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.text.CountMin
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val total = toks.agg(count(lit(1)).as("n_total"))
    val cells = CountMin.buildCells(toks, "token")
    val cand = CountMin.misraGriesCandidates(toks, "token", k = 256)
    CountMin.estimate(cand, "token", cells)
      .crossJoin(broadcast(total))
      .filter(col("est") * 100 >= col("n_total"))
      .select("token", "est", "n_total")
      .orderBy(desc("est"), asc("token"))
  }

  // ---- Bigram LM quality scoring (CCNet-style) -------------------
  /** The trained model, once per (session, dir): bigram counts +
    * context totals persisted (they feed three entries), V scalar. */
  private def lmModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long) =
    graft.CacheScope.memo(s, d, "bigram_lm") {
      val docs = Tables.documents(s, d)
      // tracked, not persisted: releaseAll unpersists a memo that IS a
      // Dataset, not the Datasets inside a tuple
      val counts = graft.CacheScope.track(
        graft.text.BigramLm.trainCounts(docs, "doc_id", "text"))
      val totals =
        graft.CacheScope.track(graft.text.BigramLm.contextTotals(counts))
      (counts, totals, graft.text.BigramLm.vocabSize(docs, "text"))
    }

  // The LEARNED table, hash-checked (like vocab_bpe_train): top 300
  // bigrams by (count desc, prev, w).
  private def textLmTrain(s: SparkSession, d: String): DataFrame =
    lmModel(s, d)._1
      .orderBy(desc("c"), asc("prev"), asc("w")).limit(300)

  // Hash-provable scoring twin: exact BIGINT division, whole pipeline
  // (train → broadcast model → bigram join → fold) cross-engine exact.
  private def textLmPinned(s: SparkSession, d: String): DataFrame = {
    val (counts, totals, v) = lmModel(s, d)
    graft.text.BigramLm.pinnedScore(Tables.documents(s, d), "doc_id",
        "text", counts, totals, v)
      .orderBy("doc_id")
  }

  // CCNet head/middle/tail partition on the exact integer rate —
  // thresholds from a bounded deterministic sample (every 10th doc,
  // id-capped), buckets a pure CASE projection. Hash-green: every
  // operand integral.
  private def textLmBuckets(s: SparkSession, d: String): DataFrame = {
    val (counts, totals, v) = lmModel(s, d)
    graft.text.BigramLm.rateBuckets(
        graft.text.BigramLm.pinnedScore(Tables.documents(s, d), "doc_id",
          "text", counts, totals, v),
        col("doc_id") % 10 === 0 && col("doc_id") < 10000)
      .select("doc_id", "n_bigrams", "pq_mean", "bucket")
      .orderBy("doc_id")
  }

  // Production cross-entropy/perplexity (ln → rows-only; BigramLmSpec
  // pins hand-computed values and the pinned twin anchors the plumbing).
  private def textLmScore(s: SparkSession, d: String): DataFrame = {
    val (counts, totals, v) = lmModel(s, d)
    graft.text.BigramLm.lnScore(Tables.documents(s, d), "doc_id",
        "text", counts, totals, v)
      .orderBy("doc_id")
  }

  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "text_lm_build" -> ((s, d) => {
        val (counts, totals, _) = lmModel(s, d)
        counts.queryExecution.toRdd.count()
        totals.queryExecution.toRdd.count(); ()
      }),
      "text_hh_stream_build" -> ((s, d) => { hhStreamCells(s, d); () }))

  /** The token stream shared by the heavy-hitter entries. */
  private def tokenStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)

  /** STREAMED sketch state: three doc-slices delivered through
    * [[graft.streaming.MergeableStream]] with monotone batch ids, a
    * replay no-op, and an embedded bit-equality proof that the merged
    * cells equal the one-shot batch sketch (sketch addition is exact —
    * the mergeability CMS exists for). Built once per (session, dir). */
  private def hhStreamCells(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "hh_stream_cells") { base =>
      import graft.text.CountMin
      val dir = s"$base/cells"
      val toks = tokenStream(s, d)
      // data-derived per-batch merge partitioning (ScopedConf
      // .streamPartitions; r20 t2 precedent)
      val replayed = ScopedConf.withStreamPartitions(s, toks) {
        (0 until 3).foreach { i =>
          graft.streaming.MergeableStream.applyBatch(
            toks.filter(col("doc_id") % 3 === i).select("token"),
            i.toLong, dir,
            b => CountMin.buildCells(b, "token"), CountMin.mergeCells)
        }
        graft.streaming.MergeableStream.applyBatch(
          toks.filter(col("doc_id") % 3 === 1).select("token"), 1L, dir,
          b => CountMin.buildCells(b, "token"), CountMin.mergeCells)
      }
      require(!replayed, "hh_stream: replay was not skipped")
      val streamed = s.read.parquet(dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
      val oneShot = CountMin.buildCells(toks, "token")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
      require(streamed == oneShot,
        "hh_stream: merged cells differ from the one-shot sketch")
      dir
    }

  // Heavy hitters over the STREAMED sketch: same MG→estimate→threshold
  // tail as text_heavy_hitters, reading cells maintained across three
  // checkpoint-protocol deliveries — rows must equal the batch entry's
  // (cells are bit-equal by the build's embedded proof).
  private def textHeavyHittersStream(s: SparkSession, d: String)
      : DataFrame = {
    import graft.text.CountMin
    val toks = tokenStream(s, d)
    val total = toks.agg(count(lit(1)).as("n_total"))
    val cells = s.read.parquet(hhStreamCells(s, d))
    val cand = CountMin.misraGriesCandidates(toks, "token", k = 256)
    CountMin.estimate(cand, "token", cells)
      .crossJoin(broadcast(total))
      .filter(col("est") * 100 >= col("n_total"))
      .select("token", "est", "n_total")
      .orderBy(desc("est"), asc("token"))
  }

  /** Curation pipeline v6 — model-based quality at BOTH lexical
    * levels, the full modern recipe: hashed-classifier gate (fastText
    * shape) → bigram-LM perplexity gate (CCNet shape: drop the `tail`
    * bucket) → token floor → stable shard. Every stage's rule is
    * verbatim from its per-operator oracle (text_classifier_score,
    * text_lm_buckets, export shard formula), so the COMPOSITION is
    * hash-proven end to end like v1–v5. All stages are projections
    * over broadcast models — the corpus never shuffles. */
  private def pipelineCurateV6(s: SparkSession, d: String): DataFrame = {
    val (counts, totals, v) = lmModel(s, d)
    val docs = Tables.documents(s, d)
    val lmBucket = graft.text.BigramLm.rateBuckets(
        graft.text.BigramLm.pinnedScore(docs, "doc_id", "text",
          counts, totals, v),
        col("doc_id") % 10 === 0 && col("doc_id") < 10000)
      .select(col("doc_id"), col("bucket"))
    graft.text.LinearClassifier.score(docs, "doc_id", "text")
      .select(col("doc_id"), col("score"), col("n_tokens"))
      .join(lmBucket, Seq("doc_id"))
      .withColumn("keep_classifier", col("score") >= 0)
      .withColumn("keep_lm", col("bucket") =!= "tail")
      .withColumn("keep_floor", col("n_tokens") >= 10)
      .withColumn("admitted",
        col("keep_classifier") && col("keep_lm") && col("keep_floor"))
      .withColumn("shard", graft.functions.Md5Bucket.bucket("shard6",
        col("doc_id").cast("string"), 8))
      .select("doc_id", "score", "bucket", "keep_classifier", "keep_lm",
        "keep_floor", "admitted", "shard")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curate_v6"        -> (pipelineCurateV6 _),
    "text_heavy_hitters_stream" -> (textHeavyHittersStream _),
    "text_lm_train"            -> (textLmTrain _),
    "text_lm_pinned"           -> (textLmPinned _),
    "text_lm_score"            -> (textLmScore _),
    "text_lm_buckets"          -> (textLmBuckets _),
    "text_heavy_hitters"       -> (textHeavyHitters _),
    "text_heavy_hitters_exact" -> (textHeavyHittersExact _),
    "text_blocklist"       -> (textBlocklist _),
    "text_langid"          -> (textLangid _),
    "text_quality"         -> (textQuality _),
    "text_tokens"          -> (textTokens _),
    "text_fingerprint"     -> (textFingerprint _),
    "text_quantiles"       -> (textQuantiles _),
    "text_redact"          -> (textRedact _),
    "text_repetition"      -> (textRepetition _),
    "text_quality_gate"    -> (textQualityGate _),
    "vocab_topk"           -> (vocabTopk _),
    "text_collocations"    -> (textCollocations _),
    "text_tokens_bpe" -> (textTokensBpe _),
    "vocab_bpe_topk"  -> (vocabBpeTopk _),
    "vocab_bpe_train" -> (vocabBpeTrain _),
    "text_html_extract" -> (textHtmlExtract _)
  )

  /** Shared bigram-LM CTE chain: BOS-prefixed bigram stream, counts,
    * context totals, vocabulary — mirrors [[graft.text.BigramLm]]
    * stage-for-stage (same tokenization as tokCte). */
  private val lmCtes: String =
    s"""$tokCte,
       bg AS (
         SELECT doc_id, u.prev AS prev, u.w AS w FROM (
           SELECT doc_id, unnest(
             CASE WHEN len(ts) >= 1 THEN
               [struct_pack(prev := '<s>', w := ts[1])] ||
               [struct_pack(prev := ts[i], w := ts[i+1])
                for i in range(1, len(ts))]
             ELSE CAST([] AS STRUCT(prev VARCHAR, w VARCHAR)[]) END)
             AS u
           FROM tok)
       ),
       cnt AS (SELECT prev, w, count(*) AS c FROM bg GROUP BY prev, w),
       tot AS (SELECT prev, sum(c) AS cc FROM cnt GROUP BY prev),
       voc AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(ts) AS t FROM tok))"""

  /** Pinned per-doc scoring chain over the lm CTEs, total over
    * `documents` (shared by text_lm_pinned and text_lm_buckets). */
  private val lmPinnedChain: String =
    """sc AS (SELECT b.doc_id,
                     coalesce(c.c, 0) AS c, coalesce(t.cc, 0) AS cc
              FROM bg b
              LEFT JOIN cnt c USING (prev, w)
              LEFT JOIN tot t USING (prev)),
       p AS (SELECT doc_id, count(*) AS n_bigrams,
                    CAST(sum(((c + 1) * 1000000000) // (cc + v))
                         AS BIGINT) AS score_q
             FROM sc, voc GROUP BY doc_id),
       fullp AS (SELECT d.doc_id,
                        coalesce(p.n_bigrams, 0) AS n_bigrams,
                        coalesce(p.score_q, 0) AS score_q
                 FROM documents d LEFT JOIN p USING (doc_id))"""

  val oracles: Map[String, String] = Map(
    "text_lm_train" ->
      (s"""WITH $lmCtes
          SELECT prev, w, c FROM cnt
          ORDER BY c DESC, prev, w LIMIT 300"""),

    // exact BIGINT floor division — see BigramLm.pinnedScore
    "text_lm_pinned" ->
      (s"""WITH $lmCtes, $lmPinnedChain
          SELECT doc_id, n_bigrams, score_q
          FROM fullp ORDER BY doc_id"""),

    // sample-tercile cutoffs (rank ⌈n/3⌉ / ⌈2n/3⌉ of the id-capped
    // sample, value-sorted desc) + CASE — see BigramLm.rateBuckets
    "text_lm_buckets" ->
      (s"""WITH $lmCtes, $lmPinnedChain,
          rated AS (SELECT doc_id, n_bigrams,
                           CASE WHEN n_bigrams > 0
                                THEN score_q // n_bigrams
                                ELSE 0 END AS pq_mean
                    FROM fullp),
          smp AS (SELECT pq_mean FROM rated
                  WHERE doc_id % 10 = 0 AND doc_id < 10000),
          srt AS (SELECT pq_mean,
                         row_number() OVER (ORDER BY pq_mean DESC) AS rn,
                         count(*) OVER () AS n
                  FROM smp),
          cut AS (SELECT
                    max(CASE WHEN rn = greatest(1,
                          CAST(ceil(n / 3.0) AS BIGINT))
                        THEN pq_mean END) AS c1,
                    max(CASE WHEN rn = greatest(1,
                          CAST(ceil(2 * n / 3.0) AS BIGINT))
                        THEN pq_mean END) AS c2
                  FROM srt)
          SELECT doc_id, n_bigrams, pq_mean,
                 CASE WHEN pq_mean >= c1 THEN 'head'
                      WHEN pq_mean >= c2 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM rated, cut ORDER BY doc_id"""),

    // classifier + LM-bucket + floor + shard, each rule verbatim from
    // its standalone oracle; tkc is the classifier's (case-preserving)
    // tokenization, the lm chain keeps its own lowered `tok`
    "pipeline_curate_v6" -> {
      import graft.text.LinearClassifier
      s"""WITH $lmCtes, $lmPinnedChain,
         rated AS (SELECT doc_id, n_bigrams,
                          CASE WHEN n_bigrams > 0
                               THEN score_q // n_bigrams
                               ELSE 0 END AS pq_mean
                   FROM fullp),
         smp AS (SELECT pq_mean FROM rated
                 WHERE doc_id % 10 = 0 AND doc_id < 10000),
         srt AS (SELECT pq_mean,
                        row_number() OVER (ORDER BY pq_mean DESC) AS rn,
                        count(*) OVER () AS n
                 FROM smp),
         cut AS (SELECT
                   max(CASE WHEN rn = greatest(1,
                         CAST(ceil(n / 3.0) AS BIGINT))
                       THEN pq_mean END) AS c1,
                   max(CASE WHEN rn = greatest(1,
                         CAST(ceil(2 * n / 3.0) AS BIGINT))
                       THEN pq_mean END) AS c2
                 FROM srt),
         bkt AS (SELECT doc_id,
                        CASE WHEN pq_mean >= c1 THEN 'head'
                             WHEN pq_mean >= c2 THEN 'middle'
                             ELSE 'tail' END AS bucket
                 FROM rated, cut),
         tkc AS (SELECT doc_id,
                        list_filter(string_split(trim(text), ' '),
                                    t -> t <> '') AS ts
                 FROM documents),
         scc AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
                        CAST(coalesce(list_sum(
                          [${LinearClassifier.weightSql("u:", "t")}
                           for t in ts]), 0) AS BIGINT)
                        + CAST(coalesce(list_sum(
                          [${LinearClassifier.weightSql("b:",
                              "ts[i] || ' ' || ts[i+1]")}
                           for i in range(1, len(ts))]), 0) AS BIGINT)
                          AS score
                 FROM tkc)
         SELECT d.doc_id, scc.score, bkt.bucket,
                scc.score >= 0 AS keep_classifier,
                bkt.bucket <> 'tail' AS keep_lm,
                scc.n_tokens >= 10 AS keep_floor,
                (scc.score >= 0 AND bkt.bucket <> 'tail'
                  AND scc.n_tokens >= 10) AS admitted,
                ${graft.functions.Md5Bucket.bucketSql("shard6",
                    "CAST(d.doc_id AS VARCHAR)", 8)} AS shard
         FROM documents d
         JOIN scc ON scc.doc_id = d.doc_id
         JOIN bkt ON bkt.doc_id = d.doc_id
         ORDER BY d.doc_id"""
    },

    "text_heavy_hitters_exact" ->
      (s"""WITH $tokCte,
          t AS (SELECT unnest(ts) AS token FROM tok),
          tt AS (SELECT token FROM t WHERE length(token) > 0),
          tot AS (SELECT count(*) AS n_total FROM tt)
          SELECT token, count(*) AS n, n_total
          FROM tt, tot
          GROUP BY token, n_total
          HAVING count(*) * 100 >= n_total
          ORDER BY n DESC, token"""),

    "text_blocklist" ->
      (s"""WITH m AS (
           SELECT doc_id,
                  list_filter(
                    [${Blocklist.map(p => s"'$p'").mkString(", ")}],
                    p -> contains(coalesce(text, ''), p)) AS matched
           FROM documents)
         SELECT doc_id,
                -- DuckDB renders the empty list as NULL here; Spark's
                -- array_join renders '' — pin the '' convention
                coalesce(array_to_string(matched, '|'), '') AS matched,
                CAST(len(matched) AS INT) AS n_matched,
                len(matched) > 0 AS blocked
         FROM m ORDER BY doc_id"""),

    "text_langid" ->
      (s"""WITH $tokCte
          SELECT doc_id,
                 len(list_filter(ts, t -> list_contains($enList, t))) AS score_en,
                 len(list_filter(ts, t -> list_contains($esList, t))) AS score_es,
                 len(list_filter(ts, t -> list_contains($deList, t))) AS score_de,
                 CASE WHEN len(list_filter(ts, t -> list_contains($enList, t))) >=
                           len(list_filter(ts, t -> list_contains($esList, t)))
                       AND len(list_filter(ts, t -> list_contains($enList, t))) >=
                           len(list_filter(ts, t -> list_contains($deList, t)))
                       AND len(list_filter(ts, t -> list_contains($enList, t))) > 0
                      THEN 'en'
                      WHEN len(list_filter(ts, t -> list_contains($esList, t))) >=
                           len(list_filter(ts, t -> list_contains($deList, t)))
                       AND len(list_filter(ts, t -> list_contains($esList, t))) > 0
                      THEN 'es'
                      WHEN len(list_filter(ts, t -> list_contains($deList, t))) > 0
                      THEN 'de'
                      ELSE 'unknown' END AS lang_pred
          FROM tok ORDER BY doc_id"""),

    "text_quality" ->
      (s"""WITH $tokCte
          SELECT doc_id,
                 len(ts) AS n_tokens,
                 length(text) AS n_chars,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_filter(ts, t -> list_contains($enList, t))) AS n_stopwords,
                 CAST(length(text) - len(ts) + 1 AS DOUBLE) / len(ts) AS avg_token_len,
                 CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
                 CAST(len(list_filter(ts, t -> list_contains($enList, t))) AS DOUBLE) / len(ts) AS stopword_ratio
          FROM tok ORDER BY doc_id"""),

    "text_tokens" ->
      (s"""WITH $tokCte
          SELECT doc_id,
                 len(ts) AS n_ws_tokens,
                 len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_bpe_tokens,
                 ${graft.text.Bpe.oracleNTokensExpr("coalesce(text, '')")}
                   AS n_subwords
          FROM tok ORDER BY doc_id"""),

    "text_fingerprint" ->
      (s"""WITH $tokCte
          SELECT doc_id,
                 list_reduce(
                   list_transform(ts, (x, i) ->
                     CAST(i AS BIGINT) *
                     (length(x) * 131 + ascii(x) * 31 + ascii(substr(x, -1, 1)))),
                   (a, b) -> (a + b) % 2147483647) AS fingerprint
          FROM tok ORDER BY doc_id"""),

    "text_redact" ->
      """WITH dirty AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 5 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                          ELSE '' END
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' see https://example.org/d' || CAST(doc_id AS VARCHAR)
                          ELSE '' END
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END
                  || CASE WHEN doc_id % 11 = 0
                          THEN ' host 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR)
                          ELSE '' END AS t
           FROM documents),
         red AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        'https?://[A-Za-z0-9./_%?=&#:~+-]+', '<URL>', 'g'),
                      '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{1,4})?', '<PHONE>', 'g'),
                    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
           FROM dirty)
         SELECT doc_id,
                CAST(len(regexp_extract_all(redacted, '<EMAIL>')) AS INT) AS n_emails,
                CAST(len(regexp_extract_all(redacted, '<URL>')) AS INT) AS n_urls,
                CAST(len(regexp_extract_all(redacted, '<PHONE>')) AS INT) AS n_phones,
                CAST(len(regexp_extract_all(redacted, '<IP>')) AS INT) AS n_ips,
                redacted
         FROM red ORDER BY doc_id""",

    "text_quantiles" ->
      (s"""SELECT lang,
                  quantile_cont(nb, 0.25) AS p25,
                  quantile_cont(nb, 0.5) AS p50,
                  quantile_cont(nb, 0.75) AS p75,
                  count(*) AS n
           FROM (SELECT lang,
                        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS nb
                 FROM documents)
           GROUP BY lang ORDER BY lang"""),

    "text_repetition" ->
      (s"""WITH $tokCte,
          g AS (
            SELECT doc_id,
                   list_filter(
                     [array_to_string(ts[i:i+2], ' ')
                      for i in range(1, greatest(len(ts)-2, 1) + 1)],
                     x -> length(x) > 0) AS gs
            FROM tok)
          SELECT doc_id,
                 CAST(len(gs) AS INT) AS n_grams,
                 CAST(len(list_distinct(gs)) AS INT) AS n_distinct_grams,
                 CASE WHEN len(gs) > 0
                      THEN CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs)
                      ELSE 0.0 END AS dup_gram_frac
          FROM g ORDER BY doc_id"""),

    "text_quality_gate" ->
      (s"""WITH $tokCte,
          ${OracleCtes.qualityMetricsCte}
          SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                 ${OracleCtes.qualityKeepSql} AS keep
          FROM m ORDER BY doc_id"""),

    // lift = (nab·N as exact BIGINT product) / (na·nb as exact BIGINT
    // product) — ONE IEEE division, same operand association as the
    // Spark side; ranking identical to PMI (log is monotone)
    "text_collocations" ->
      """WITH tk AS (
           SELECT list_filter(string_split(trim(text), ' '),
                  t -> t <> '') AS ts
           FROM documents),
         toks AS (SELECT unnest(ts) AS tok FROM tk),
         uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         tot AS (SELECT count(*) AS n FROM toks),
         bi AS (
           SELECT p.a AS a, p.b AS b, count(*) AS n_ab FROM (
             SELECT unnest([struct_pack(a := ts[i], b := ts[i + 1])
                            for i in range(1, len(ts))]) AS p
             FROM tk WHERE len(ts) >= 2)
           GROUP BY p.a, p.b
           HAVING count(*) >= 5)
         SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
                CAST(n_ab * tot.n AS DOUBLE)
                  / CAST(ua.n * ub.n AS DOUBLE) AS lift
         FROM bi JOIN uni ua ON bi.a = ua.tok
                 JOIN uni ub ON bi.b = ub.tok, tot
         ORDER BY lift DESC, a, b
         LIMIT 100""",

    "vocab_topk" ->
      (s"""WITH $tokCte
          SELECT token, count(*) AS n
          FROM (SELECT unnest(ts) AS token FROM tok)
          WHERE token <> ''
          GROUP BY token
          ORDER BY n DESC, token
          LIMIT 500"""),

    "text_tokens_bpe" ->
      s"""SELECT doc_id,
                 ${Bpe.oracleNTokensExpr("coalesce(text, '')")} AS n_subwords,
                 array_to_string(${Bpe.oracleTokensExpr("coalesce(text, '')")}, ' ')
                   AS subwords
          FROM documents ORDER BY doc_id""",

    "vocab_bpe_topk" ->
      s"""SELECT subword, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(${Bpe.oracleTokensExpr("coalesce(text, '')")}) AS subword
                FROM documents)
          GROUP BY subword
          ORDER BY n DESC, subword LIMIT 50""",

    "vocab_bpe_train" -> graft.text.BpeTrain.oracleSql(8),

    "text_html_extract" -> {
      import graft.text.HtmlOps
      s"""WITH u AS (
           SELECT doc_id,
                  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                  || '</title>'
                  || CASE WHEN doc_id % 4 = 0
                          THEN '<style>p{color:red}</style>'
                          ELSE '' END
                  || '</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
                  || '</h1><p>' || coalesce(text, '') || '</p>'
                  || CASE WHEN doc_id % 3 = 0
                          THEN '<a href="https://example.org/d'
                               || CAST(doc_id AS VARCHAR) || '">link</a>'
                          ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                          THEN '<script>var x = "<p>hidden</p>";</script>'
                          ELSE '' END
                  || '</body></html>' AS html
           FROM documents)
         SELECT doc_id,
                ${HtmlOps.oracleTitleExpr("html")} AS title,
                -- DuckDB renders the empty link list as NULL; Spark's
                -- array_join renders '' — pin the '' convention
                coalesce(array_to_string(
                  ${HtmlOps.oracleLinksExpr("html")}, '|'), '') AS links,
                CAST(len(${HtmlOps.oracleLinksExpr("html")}) AS INT)
                  AS n_links,
                ${HtmlOps.oracleCleanTextExpr("html")} AS clean_text,
                CAST(length(${HtmlOps.oracleCleanTextExpr("html")}) AS INT)
                  AS n_chars_clean
         FROM u ORDER BY doc_id"""
    }
  )
}
