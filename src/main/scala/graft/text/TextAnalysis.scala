package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (north-star surface, BASELINE.json): language ID, quality scoring,
  * token counting, document fingerprinting — all pure Column
  * expressions (codegen'd, no UDFs), so they run inside
  * WholeStageCodegen and scale linearly with the corpus.
  *
  * Determinism: every score is integer arithmetic or a single IEEE
  * division of integer counts, so results are bit-identical across
  * engines (the DuckDB oracle mirrors each formula).
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. Runs of spaces collapse (the
    * DuckDB oracles mirror this by filtering empty fragments from a
    * single-space split — keep the two in sync). */
  def tokens(text: Column): Column = split(lower(trim(text)), " +")

  // --- Language ID: stopword-count heuristic over small marker sets.
  //     (An n-gram model is the production path; marker counting is the
  //     deterministic, oracle-checkable core of the same shape.)
  private val enMarkers = Seq("the", "a", "of", "and", "to", "in")
  private val esMarkers = Seq("el", "la", "de", "y", "que", "los")
  private val deMarkers = Seq("der", "die", "das", "und", "ist")

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t =>
      t.isInCollection(markers)))

  def langScores(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("score_en", markerCount(t, enMarkers))
      .withColumn("score_es", markerCount(t, esMarkers))
      .withColumn("score_de", markerCount(t, deMarkers))
      .withColumn("lang_pred",
        when(col("score_en") >= col("score_es") &&
             col("score_en") >= col("score_de") &&
             col("score_en") > 0, lit("en"))
        .when(col("score_es") >= col("score_de") && col("score_es") > 0,
          lit("es"))
        .when(col("score_de") > 0, lit("de"))
        .otherwise(lit("unknown")))
  }

  // --- Quality scoring: length / punctuation / stopword ratios.
  def qualityScores(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("n_tokens", size(t))
      .withColumn("n_chars", length(col(textCol)))
      .withColumn("n_punct", regexp_count(col(textCol), lit("[.,!?;:]")))
      .withColumn("n_stopwords", markerCount(t, enMarkers))
      .withColumn("avg_token_len",
        (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / col("n_chars"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
  }

  // --- Token counting: whitespace + a BPE-ish regex segmentation
  //     (letters runs / digit runs / single other chars — the shape of a
  //     byte-pair pre-tokenizer's word-split stage).
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_ws_tokens", size(tokens(col(textCol))))
      .withColumn("n_bpe_tokens",
        // explicit whitespace class, not \s: Java regex \s includes
        // \x0B but RE2's does not — the literal class means the DuckDB
        // oracle tokenizes identically on any input
        regexp_count(col(textCol),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]")))
      // the real subword count (pinned-merge BPE), the honest budget
      // denominator — n_bpe_tokens above is only the pre-tokenizer's
      // word-split census
      .withColumn("n_subwords",
        Bpe.nTokens(coalesce(col(textCol), lit(""))))

  // --- Document fingerprinting: order-aware position-weighted hash.
  //     v(token) = len*131 + first_char*31 + last_char; fp = Σ (i+1)·v_i
  //     mod 2^31-1. Pure integer math → portable; order-aware → word
  //     swaps change the fingerprint (unlike a bag-of-words hash).
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("fingerprint", expr(
        """aggregate(
             transform(__toks, (x, i) ->
               (cast(i AS BIGINT) + 1L) *
               (length(x) * 131L + ascii(x) * 31L + ascii(substring(x, -1, 1)))),
             0L, (acc, x) -> (acc + x) % 2147483647L)"""))
      .drop("__toks")

  // --- Within-document repetition (the Gopher/RefinedWeb "repetitive
  //     doc" dedup signal): fraction of duplicate word 3-grams. Reuses
  //     the codegen'd word_ngrams kernel; counts are integers and the
  //     fraction one IEEE division, so it's oracle-exact.
  def repetition(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("__g", filter(
        graft.functions.WordNGrams.word_ngrams(tokens(col(textCol)), 3),
        g => length(g) > 0))
      .withColumn("n_grams", size(col("__g")))
      .withColumn("n_distinct_grams", size(array_distinct(col("__g"))))
      .withColumn("dup_gram_frac",
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct_grams")).cast("double") /
            col("n_grams"))
          .otherwise(lit(0.0)))
      .drop("__g")

  // --- Gopher-style quality gate: the rule-based document filter every
  //     large pretraining pipeline runs before model-based scoring.
  //     Thresholds are constructor-style parameters; each rule is an
  //     integer count or one IEEE division, so the gate is portable.
  def qualityGate(df: DataFrame, textCol: String = "text",
      minWords: Int = 30, maxWords: Int = 10000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1): DataFrame = {
    val t = tokens(col(textCol))
    // filtered size: empty/whitespace-only text splits to [""] — that
    // phantom token must not count as a word (the oracles' tok CTE
    // filters empty fragments)
    df.withColumn("n_words", size(filter(t, w => length(w) > 0)))
      .withColumn("__wchars", aggregate(transform(t, w => length(w)),
        lit(0), (acc, x) => acc + x))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          col("__wchars").cast("double") / col("n_words"))
          .otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(length(col(textCol)) > 0,
          regexp_count(col(textCol), lit("[^a-zA-Z0-9 ]")).cast("double") /
            length(col(textCol)))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("symbol_ratio") <= maxSymbolRatio)
      .drop("__wchars")
  }

  // --- Canonicalization: the normalize-before-shingle step of a dedup
  //     pipeline (lowercase, strip punctuation to spaces, collapse
  //     whitespace runs, trim). Idempotent by construction; the regexes
  //     stay in the portable subset so the DuckDB oracle mirrors them
  //     verbatim. Pure codegen'd projection — linear, no shuffle.
  def normalize(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " ")))
      .withColumn("n_chars_before", length(col(textCol)))
      .withColumn("n_chars_after", length(col("norm_text")))

  // --- Unicode-aware canonicalization: the multilingual-corpus form of
  //     [[normalize]]. NFC-compose first (decomposed `e`+U+0301 and
  //     precomposed `é` must canonicalize identically), lowercase, then
  //     strip everything outside Unicode letters/digits/ASCII space —
  //     `[^\p{L}\p{N} ]` → space, which also collapses NBSP, em-spaces,
  //     dashes, and emoji (they are not L/N). Both Java regex and RE2
  //     give \p{L}/\p{N} Unicode-general-category semantics, and NFC is
  //     a Unicode-standard algorithm DuckDB's nfc_normalize mirrors, so
  //     the whole pipeline stays oracle-checkable. On ASCII input the
  //     result is byte-identical to [[normalize]] (ASCII is closed
  //     under NFC; [a-z0-9] ≡ the ASCII slice of \p{L}\p{N}).
  def normalizeUnicode(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(
            lower(graft.functions.NfcNormalize.nfc_normalize(col(textCol))),
            "[^\\p{L}\\p{N} ]", " "),
          " +", " ")))
      .withColumn("n_chars_before", length(col(textCol)))
      .withColumn("n_chars_after", length(col("norm_text")))

  /** Per-document distinctive terms — tf-idf's ranking without its
    * float: terms ranked by (tf DESC, df ASC, term ASC). For any fixed
    * document that order is EXACTLY the tf·log(N/df) order (log is
    * monotone decreasing in df; N is constant), so the top-k matches
    * real tf-idf while every sort key stays an integer — cross-engine
    * exact where a float idf would need summation-order pinning.
    *
    * Scale: token explode → two hash aggregations (doc-term tf, term
    * df — both partial-agg combinable) → one shuffle join on term →
    * per-doc rank window. The df join is term-sharded; a hot term is
    * one row on the df side, so no skew amplification. */
  def distinctiveTerms(df: DataFrame, idCol: String,
      textCol: String = "text", k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // one row per (doc, term) in tf, so count(*) here IS document freq
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df")
  }

  // --- PII scrubbing: count + redact email addresses and URLs.
  //     Patterns stay in the portable regex subset (character classes,
  //     bounded quantifiers — identical semantics in Java regex and
  //     RE2), so the operation is oracle-checkable. Codegen'd
  //     regexp_replace: linear scan per row, no shuffle.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // query strings, fragments and ports are part of the URL — and often
  // the part carrying PII — so ? = & # : ~ are in the class
  val UrlRe = "https?://[A-Za-z0-9./_%?=&#:~+-]+"
  // E.164-ish dashed international form (+CC-NNN-NNNN…): one canonical
  // shape keeps the pattern in the portable subset; local formats are a
  // normalization concern upstream of scrubbing
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{1,4})?"
  // \b blocks matches glued to word chars ("v1.2.3.4" stays); a dotted
  // run of 5+ octets still partial-matches its first four ('.' is a
  // non-word char so \b holds there, and RE2 has no lookbehind to
  // exclude it portably) — over-redaction, the safe direction for PII.
  // ASCII word-boundary semantics agree between Java regex and RE2.
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** (…, n_emails, n_urls, n_phones, n_ips, redacted): emails replaced
    * first (so an address in URL userinfo is scrubbed even when the
    * remaining URL prefix no longer matches), then URLs (consuming any
    * phone/IP embedded in them — `+` and digits are in the URL class),
    * then phones, then bare IPv4 literals. Counts are derived from the
    * REDACTED text's placeholders, so they always agree with the output
    * by construction — counting on the input would disagree whenever
    * one pass consumes another's match. (A source text already
    * containing a literal placeholder inflates its count; acceptable
    * for a scrubbing report.) */
  def redact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col(textCol), EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>"))
      .withColumn("n_emails", regexp_count(col("redacted"), lit("<EMAIL>")))
      .withColumn("n_urls", regexp_count(col("redacted"), lit("<URL>")))
      .withColumn("n_phones", regexp_count(col("redacted"), lit("<PHONE>")))
      .withColumn("n_ips", regexp_count(col("redacted"), lit("<IP>")))

  /** Collocation mining — adjacent token pairs ranked by LIFT,
    * nab·N / (na·nb): the PMI ordering without the log (log is
    * monotone, so the ranking is identical — and unlike `ln`, the
    * lift arithmetic is two exact BIGINT products and ONE IEEE
    * division, bit-stable across engines; the same dodge as the
    * integer-pinned BM25 twin). `minCount` is the standard noise
    * floor (rare pairs have huge unstable lift).
    *
    * Scale: unigram and bigram counts are two-phase hash aggregates
    * over one token explode each; the total is a 1-row broadcast
    * cross; the unigram join keys are terms (vocabulary-sized —
    * broadcast while it fits, term-sharded join at web scale, same
    * posture as tf-idf's df join); the cut is TakeOrdered, never a
    * global sort. */
  def collocations(df: DataFrame, textCol: String,
      minCount: Int, k: Int): DataFrame = {
    val ts = graft.text.Tokens.ws(col(textCol))
    val toks = df.select(explode(ts).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("__n"))
    val total = toks.agg(count(lit(1)).as("__N"))
    val pairs = df.select(ts.as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ts) - 2), " +
        "i -> struct(__ts[i] AS a, __ts[i + 1] AS b))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(uni.select(col("tok").as("a"), col("__n").as("n_a")), "a")
      .join(uni.select(col("tok").as("b"), col("__n").as("n_b")), "b")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_ab") * col("__N")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
      .select("a", "b", "n_ab", "n_a", "n_b", "lift")
      .orderBy(desc("lift"), col("a"), col("b"))
      .limit(k)
  }
}
