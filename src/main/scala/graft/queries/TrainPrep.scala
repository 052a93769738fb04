package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sampling.Sampling
import graft.text.{Packing, QualityRules, SegmentDedup, TextAnalysis, UrlOps}

/** Training-data-preparation tier: segment-level exact dedup
  * (C4/RefinedWeb paragraph pass), text canonicalization, URL/web
  * curation (canonical URLs, host gate, domain blocklist, curate
  * v4/v5), corpus reporting, sequence packing, and temperature mixing.
  * The retrieval/chunking tier lives in [[Retrieval]].
  *
  * Every entry is oracle-paired: all arithmetic is integer, md5-hash
  * thresholds, or IEEE operations that are correctly rounded in both
  * engines (sqrt, power-of-two multiply), so DuckDB reproduces each
  * result bit-for-bit.
  */
object TrainPrep extends QueryModule {

  // Segment dedup needs cross-document duplicate segments: plant full
  // copies (doc_id+100000) of every 10th document — same planting as
  // dedup_exact, so the copies lose ALL their segments (the clean_text
  // = '' husk branch is live), while organically shared 8-word windows
  // exercise the partial-drop branch.
  private def dedupParagraph(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // an id overlap would merge two documents under one id, where
    // Spark's reassembly tie-break (struct sort incl. segment text)
    // and the oracle's unspecified equal-seg_idx list order diverge
    Planting.requireHeadroom(docs, "doc_id", "dedup_paragraph")
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Planting.Offset).as("doc_id"), col("text"))
    SegmentDedup.dedupSegments(docs.unionByName(planted),
        "doc_id", "text", segWords = 8)
      .orderBy("doc_id")
  }

  private def textNormalize(s: SparkSession, d: String): DataFrame =
    TextAnalysis.normalize(Tables.documents(s, d))
      .select("doc_id", "norm_text", "n_chars_before", "n_chars_after")
      .orderBy("doc_id")

  // Multilingual planted rows for the Unicode canonicalizer: the
  // synthesized corpus is ASCII, so every non-trivial branch — NFC
  // composition, non-Latin lowercasing, Unicode-space/dash/emoji
  // stripping — needs planted coverage. The SAME literals feed the
  // Spark union and the generated oracle VALUES, so the two engines see
  // byte-identical input. (Greek avoids word-final Σ: its context-
  // sensitive lowering is locale-rule territory, not \p{L} semantics.)
  private[queries] val UniRows: Seq[(Long, String)] = Seq(
    (Planting.Offset + 1, "Cafe\u0301 au LAIT"),  // NFD: e + combining acute
    (Planting.Offset + 2, "Caf\u00e9 au lait!"),  // NFC: converges with row 1
    (Planting.Offset + 3,                          // Greek (no final sigma)
      "\u0394\u0395\u039b\u03a4\u0391 \u03b4\u03ad\u03bb\u03c4\u03b1"),
    (Planting.Offset + 4,                          // Cyrillic + punctuation
      "\u041f\u0440\u0438\u0432\u0435\u0442, \u041c\u0418\u0420 42"),
    (Planting.Offset + 5,                          // U-umlaut, em-dash, eszett
      "\u00dcber\u2014Stra\u00dfe"),
    (Planting.Offset + 6,                          // CJK (caseless)
      "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 123"),
    (Planting.Offset + 7,                          // NBSP + em-space (Zs -> ' ')
      "nbsp\u00a0and\u2003emsp"),
    (Planting.Offset + 8,                          // rocket (supplementary plane)
      "emoji \ud83d\ude80 rocket"))

  private def textNormalizeUni(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Planting.requireHeadroom(docs, "doc_id", "text_normalize_uni")
    val planted = UniRows.toDF("doc_id", "text")
    TextAnalysis.normalizeUnicode(docs.unionByName(planted))
      // tokens = split of the canonical form already in scope —
      // counting over norm_text skips a second NFC + double regexp
      // pass over every document
      .withColumn("n_tokens", size(filter(
        split(col("norm_text"), " "), w => length(w) > 0)))
      .select("doc_id", "norm_text", "n_chars_before", "n_chars_after",
        "n_tokens")
      .orderBy("doc_id")
  }

  // Line-shape rule coverage needs multi-line documents — the corpus
  // is single-line — so every rule branch is planted: a clean keeper,
  // an all-bullet list, an ellipsis-heavy doc, a numeric (low-alpha)
  // doc, a stopword-free doc, the two blocklist hits, and a
  // mixed-marker bulleted doc that still KEEPS (bullet_frac under the
  // gate). Same literals feed the Spark union and the oracle VALUES.
  private[graft] val LineRows: Seq[(Long, String)] = Seq(
    (Planting.Offset + 21,
      "This is the first line of a good document.\n" +
        "It has several proper sentences to read.\n" +
        "The closing line also ends with a period."),
    (Planting.Offset + 22,
      "- alpha item in the list\n- beta item of the list\n" +
        "- gamma item to the list\n- delta item with the list"),
    (Planting.Offset + 23,
      "the first thought of many trails off...\n" +
        "the second thought of many also continues…\n" +
        "and the third stops here."),
    (Planting.Offset + 24,
      "the 123 456 789 000 111\nof 222 333 444 555 666"),
    (Planting.Offset + 25,
      "alpha beta gamma delta.\nepsilon zeta eta theta."),
    (Planting.Offset + 26,
      "the lorem ipsum dolor text of place holding and filler."),
    (Planting.Offset + 27,
      "function f() { return the value of x and y; }"),
    (Planting.Offset + 28,
      "* starred bullet with the marker\n" +
        "• dotted bullet of the second kind\n" +
        "plain closing line with the end."))

  private def textLineRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Planting.requireHeadroom(docs, "doc_id", "text_line_rules")
    val planted = LineRows.toDF("doc_id", "text")
    QualityRules.lineRules(docs.unionByName(planted))
      .select("doc_id", "n_lines", "n_words", "n_bullet_lines",
        "n_ellipsis_lines", "n_terminal_lines", "n_alpha_words",
        "n_stop_distinct", "bullet_frac", "ellipsis_frac",
        "alpha_word_frac", "has_blocklist", "keep")
      .orderBy("doc_id")
  }

  // URL canonicalization coverage: corpus rows get deterministic
  // constructed URLs (every 4th carries a tracking param), planted rows
  // exercise each rule — case/port normalization, trailing slash,
  // fragment drop, tracking-param filtering, and two convergence pairs
  // (31/32 and 33/34 must map to ONE canonical each).
  private[graft] val UrlRows: Seq[(Long, String)] = Seq(
    (Planting.Offset + 31,
      "https://Example.COM:443/A/B/?utm_source=news&x=2#sec"),
    (Planting.Offset + 32, "https://example.com/A/B?x=2"),
    (Planting.Offset + 33, "http://EXAMPLE.com:80/"),
    (Planting.Offset + 34, "http://example.com"),
    (Planting.Offset + 35, "https://example.com:8080/p?fbclid=abc"),
    (Planting.Offset + 36, "https://example.com/p?a=1&gclid=xyz&b=2"),
    (Planting.Offset + 37, "ftp://Files.Example.com/data/"),
    (Planting.Offset + 38, "https://example.com/p/?ref=home"))

  private def textUrlCanonical(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"),
      concat(lit("https://"), col("source"), lit(".example.org/doc/"),
        col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
          .otherwise(concat(lit("?id="), col("doc_id").cast("string"))))
        .as("url"))
    Planting.requireHeadroom(docs, "doc_id", "text_url_canonical")
    val planted = UrlRows.toDF("doc_id", "url")
    UrlOps.canonicalize(docs.unionByName(planted))
      .withColumn("n_same", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("canon_url")))
      .select("doc_id", "url", "url_host", "canon_url", "n_same")
      .orderBy("doc_id")
  }

  // ---- Anchor/link index: the web-index composition — per-doc markup
  //      → href extraction (HtmlOps, the REAL regex chain) → canonical
  //      target (UrlOps) → per-target in-degree. Link synthesis: %3
  //      docs link the plain target, %7 docs the case+tracking variant
  //      (MUST converge with the plain one after canonicalization —
  //      the reason the index canonicalizes before grouping), %11 docs
  //      a kept-param variant (a DISTINCT target). The oracle
  //      synthesizes the link set directly from the same formulas —
  //      hash equality proves the extraction recovered exactly it.
  private def webAnchorIndex(s: SparkSession, d: String): DataFrame = {
    val tgt = (col("doc_id") % 50).cast("string")
    val html = concat(
      lit("<html><body><p>"), coalesce(col("text"), lit("")), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<a href=\"https://example.org/p"), tgt,
          lit("\">r1</a>"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit("<a href=\"https://Example.ORG/p"), tgt,
          lit("?utm_source=x\">r2</a>"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit("<a href=\"https://example.org/p"), tgt,
          lit("?page=2\">r3</a>"))).otherwise(lit("")),
      lit("</body></html>"))
    val links = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.text.HtmlOps.links(html)).as("url"))
    UrlOps.canonicalize(links)
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_src_docs"),
        min("doc_id").as("first_doc"))
      .orderBy("canon_url")
  }

  // Dataset-card rollup: the corpus report every curated release ships
  // (per lang×source, per lang, and overall: docs, tokens, chars, avg
  // length). One rollup aggregation; token counts are the ws-token
  // semantics of text_tokens; avg is the exact decimal-sum/count
  // pattern (one IEEE division — cross-engine exact).
  // Host-level gate over a synthetic crawl: each source is a host;
  // higher-numbered sources mirror a growing share of their docs onto
  // 5 template paths, so dup_url_rate rises monotonically with the
  // source number and the 0.5 threshold splits the host set. The
  // mirror draw is (doc_id % 400) DIV 20 < src number — doc_id % 20
  // IS the source number in this corpus, so the second-level digit is
  // the one that varies within a host. utm params on every 4th doc
  // exercise canonicalize-before-count (mirrors differing only by
  // tracking params still collide — the reason canon runs first).
  /** The synthesized mirror crawl, canonicalized and PERSISTED once
    * per (session, dir) — hostGate reads its input twice (stats +
    * probe), and both the host-gate entry and curate v4 share this
    * frame, so the memo collapses four derivations to one. */
  private def canonCrawl(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "canon_crawl") {
      val srcNum = substring(col("source"), 4, 6).cast("int")
      val pathId = when(expr("(doc_id % 400) DIV 20") < srcNum,
          col("doc_id") % 5)
        .otherwise(col("doc_id"))
      graft.CacheScope.track(UrlOps.canonicalize(
        Tables.documents(s, d).select(col("doc_id"), col("text"),
          concat(lit("https://"), col("source"),
            lit(".example.org/doc/"), pathId.cast("string"),
            when(col("doc_id") % 4 === 0, lit("?utm_source=feed"))
              .otherwise(lit(""))).as("url"))))
    }

  private def webHostGate(s: SparkSession, d: String): DataFrame =
    UrlOps.hostGate(canonCrawl(s, d).drop("text"), maxDupRate = 0.5)
      .select("doc_id", "url_host", "host_docs", "host_urls",
        "dup_url_rate", "keep")
      .orderBy("doc_id")

  // ---- Curation pipeline v4: the WEB-side composition — host gate
  //      (dup-URL prior) → URL-level exact dedup (canon key, keep
  //      lowest doc_id) → token floor → stable shard assignment.
  //      Every stage's rule is verbatim from its per-operator oracle
  //      (web_host_gate, text_url_canonical, corpus token rule,
  //      export shard bucket), so the composition is hash-provable.
  private def pipelineCurateV4(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canon_url")
    UrlOps.hostGate(canonCrawl(s, d), maxDupRate = 0.5)
      .filter(col("keep") === 1)
      .withColumn("__keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("__keep_id"))
      .filter(size(graft.text.Tokens.ws(col("text"))) >= 5)
      .select(col("doc_id"), col("url_host"), col("canon_url"),
        graft.ops.Export.shardId(col("doc_id"), 16).as("shard"))
      .orderBy("doc_id")
  }

  private def corpusStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("n_toks",
      size(filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)))
    docs.rollup("lang", "source")
      .agg(
        grouping(col("lang")).as("g_lang"),
        grouping(col("source")).as("g_source"),
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("sum_chars"),
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
        max("n_chars").as("max_chars"))
      .orderBy(col("g_lang"), col("g_source"),
        col("lang").asc_nulls_first, col("source").asc_nulls_first)
  }

  // Order-of-magnitude length histogram — digit-count buckets (an
  // integer-exact stand-in for floor(log10): length of the decimal
  // repr), portable where float log bucketing is not (log is not
  // correctly-rounded, so floor(log(x)) can straddle engines at
  // bucket boundaries).
  private def corpusHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", length(col("n_chars").cast("string")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("bucket")

  // 512-token budget over the whitespace token count (the filtered
  // size, consistent with text_tokens' n_ws semantics).
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("n_tokens",
      size(filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)))
    Packing.packSequences(docs, "doc_id", "n_tokens", budget = 512)
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        // "offset" is a DuckDB keyword; rename so the oracle needs no
        // quoting and the driver's name-sorted compare aligns
        col("offset").as("tok_offset"), col("bin_id"))
      .orderBy("doc_id")
  }

  private def sampTemperature(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureSqrtMix(Tables.documents(s, d), "source", "doc_id")
      .select("doc_id", "source")
      .orderBy("doc_id")

  // General-α temperature mixing at α = 7/10 — the quantized-rate-table
  // path (pure integer threshold derivation, no `pow`), with the
  // realized per-group rate exposed as rate_q so the oracle verifies
  // the table itself, not just the kept set.
  private def sampTemperatureAlpha(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureMix(Tables.documents(s, d), "source", "doc_id",
        alphaNum = 7, alphaDen = 10)
      .select("doc_id", "source", "rate_q")
      .orderBy("doc_id")

  // ---- Domain blocklist with subdomain semantics: hosts synthesized
  //      with varying label depth (ads. / cdn.assets. / www. prefixes
  //      over per-source domains); the blocklist exercises every match
  //      class — registrable-suffix (badnet.org covers all its
  //      subdomains), single-source suffix (src3.example.org), one
  //      exact deep host, and a no-match entry. Suffix matching is
  //      label-aligned: the explode+equi-join in UrlOps.domainBlock,
  //      ends_with('.'||domain) in the oracle — same predicate.
  private def webDomainBlock(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val host = concat(
      when(col("doc_id") % 5 === 0, lit("ads."))
        .when(col("doc_id") % 5 === 1, lit("cdn.assets."))
        .otherwise(lit("www.")),
      col("source"), lit("."),
      when(col("doc_id") % 3 === 0, lit("badnet.org"))
        .otherwise(lit("example.org")))
    val crawl = Tables.documents(s, d).select("doc_id", "source")
      .withColumn("url_host", host)
    val bl = Seq("badnet.org", "src3.example.org",
      "cdn.assets.src7.example.org", "absent.example.net").toDF("domain")
    UrlOps.domainBlock(crawl, bl, "doc_id")
      .select("doc_id", "url_host", "blocked")
      .orderBy("doc_id")
  }

  // ---- Curation pipeline v5: the BLOCKLIST composition — domain
  //      block (web_domain_block's crawl + blocklist verbatim) →
  //      phrase blocklist (text_blocklist's list via the Aho–Corasick
  //      expression) → ≥5-token floor (corpus token rule) → stable
  //      shard. Every stage's rule is verbatim from its per-operator
  //      oracle, so the composition is hash-provable end to end.
  private def pipelineCurateV5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val host = concat(
      when(col("doc_id") % 5 === 0, lit("ads."))
        .when(col("doc_id") % 5 === 1, lit("cdn.assets."))
        .otherwise(lit("www.")),
      col("source"), lit("."),
      when(col("doc_id") % 3 === 0, lit("badnet.org"))
        .otherwise(lit("example.org")))
    val crawl = Tables.documents(s, d).select("doc_id", "source", "text")
      .withColumn("url_host", host)
    val bl = Seq("badnet.org", "src3.example.org",
      "cdn.assets.src7.example.org", "absent.example.net").toDF("domain")
    val phrases = Seq("slow fast", "table table", "hash value",
      "agg join", "scan scan", "zebra quartz")
    graft.text.UrlOps.domainBlock(crawl, bl, "doc_id")
      .filter(!col("blocked"))
      .filter(size(graft.functions.MultiMatch.multi_match(
        coalesce(col("text"), lit("")), phrases)) === 0)
      .filter(size(graft.text.Tokens.ws(col("text"))) >= 5)
      .select(col("doc_id"), col("url_host"),
        graft.ops.Export.shardId(col("doc_id"), 16).as("shard"))
      .orderBy("doc_id")
  }

  // Length-bucketed batching: the padding-efficiency lever for
  // training on variable-length sequences — docs land in fixed-width
  // length buckets (cap = next multiple of 64 tokens), batches of 16
  // form within a bucket by (len desc, doc_id), and per-row padding
  // to the BATCH max is emitted (the waste a length-ignorant batcher
  // would multiply ~64-fold). Pure integer arithmetic end to end.
  //
  // Scale shape: one shuffle on bucket_cap (a handful of buckets →
  // the window sort is the cost, same as any rank); at 100 TB the
  // batch id would take a shard prefix (bucket, shard, rn) so no
  // bucket sorts globally — the hash-shard variant of the same rule
  // (the pack_sequences scaladoc's bucket trick, applied to batching).
  private def packLengthBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"),
      size(filter(TextAnalysis.tokens(col("text")), w => length(w) > 0))
        .cast("long").as("len"))
      .withColumn("bucket_cap",
        greatest(lit(64L), ((col("len") + 63L) / 64L).cast("long") * 64L))
    val w = Window.partitionBy("bucket_cap")
      .orderBy(desc("len"), asc("doc_id"))
    val batched = docs
      .withColumn("batch_id", ((row_number().over(w) - 1) / 16).cast("long"))
    val wb = Window.partitionBy("bucket_cap", "batch_id")
    batched
      .withColumn("batch_max", max(col("len")).over(wb))
      .withColumn("pad_tokens", col("batch_max") - col("len"))
      .select("doc_id", "len", "bucket_cap", "batch_id", "batch_max",
        "pad_tokens")
      .orderBy("doc_id")
  }

  /** A fixed clean sentence containing every repair-table character,
    * shipped through the REAL UTF-8→cp1252 mis-decode (one derivation,
    * both renderings — the oracle embeds the same derived bytes). */
  private val MojiClean = "café – “quote” … señor übel niño ça"
  private val MojiBad = graft.text.EncodingRepair.misdecode(MojiClean)

  // Mojibake repair over a planted corpus: every 25th doc gets the
  // mis-decoded sample appended (the organic corpus is ASCII, so the
  // chain must fire exactly on the planted rows and nowhere else —
  // `changed` proves both directions). Pure codegen replace chain.
  private def textFixEncoding(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    Planting.requireHeadroom(docs, "doc_id", "text_fix_encoding")
    val planted = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + Planting.Offset).as("doc_id"),
        concat(col("text"), lit(" "), lit(MojiBad)).as("text"))
    docs.unionByName(planted)
      .select(col("doc_id"),
        graft.text.EncodingRepair.repair(col("text")).as("text_fixed"),
        (graft.text.EncodingRepair.repair(col("text")) =!= col("text"))
          .as("changed"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_fix_encoding"   -> (textFixEncoding _),
    "pack_length_buckets" -> (packLengthBuckets _),
    "web_domain_block" -> (webDomainBlock _),
    "web_anchor_index" -> (webAnchorIndex _),
    "pipeline_curate_v5" -> (pipelineCurateV5 _),
    "dedup_paragraph" -> (dedupParagraph _),
    "text_normalize"  -> (textNormalize _),
    "text_normalize_uni" -> (textNormalizeUni _),
    "text_line_rules" -> (textLineRules _),
    "text_url_canonical" -> (textUrlCanonical _),
    "web_host_gate" -> (webHostGate _),
    "pipeline_curate_v4" -> (pipelineCurateV4 _),
    "corpus_stats" -> (corpusStats _),
    "corpus_histogram" -> (corpusHistogram _),
    "pack_sequences"  -> (packSequences _),
    "samp_temperature" -> (sampTemperature _),
    "samp_temperature_alpha" -> (sampTemperatureAlpha _),
  )

  // ts mirrors TextAnalysis.tokens (lowercased ' +' split); rawTs is
  // the case-preserving variant SegmentDedup uses (exact dedup is
  // byte-exact, so no lowering there).
  private val tokCte =
    """tok AS (
         SELECT doc_id,
                list_filter(string_split(lower(trim(text)), ' '),
                            t -> t <> '') AS ts
         FROM documents
       )"""

  /** DuckDB string literal for planted text: quotes doubled, embedded
    * newlines rendered as `|| chr(10) ||` splices (portable — no
    * reliance on literal control chars surviving the JSON dump). */
  private def sqlText(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** Rule-for-rule mirror of [[graft.text.UrlOps.canonicalize]] as a
    * CTE chain p → n → c over a `u`(doc_id, url) CTE already in scope;
    * `c` exposes (doc_id, url, url_host, canon_url). Tracking list
    * generated from the same Seq so the two cannot drift. Shared by
    * the canonicalization entry and the host gate. */
  private[queries] def urlCanonChain: String =
    s"""p AS (
           SELECT doc_id, url,
                  lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                  regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                    AS raw_path,
                  regexp_extract(url, '\\?([^#]*)', 1) AS query
           FROM u
         ),
         n AS (
           SELECT doc_id, url, scheme,
                  CASE WHEN scheme = 'http'
                         THEN regexp_replace(hostport, ':80$$', '')
                       WHEN scheme = 'https'
                         THEN regexp_replace(hostport, ':443$$', '')
                       ELSE hostport END AS url_host,
                  CASE WHEN regexp_replace(raw_path, '/+$$', '') = ''
                       THEN '/'
                       ELSE regexp_replace(raw_path, '/+$$', '') END AS path,
                  list_filter(string_split(query, '&'), q ->
                    q <> '' AND NOT list_contains(
                      [${UrlOps.TrackingParams
                          .map(p => s"'$p'").mkString(",")}],
                      lower(string_split(q, '=')[1]))) AS kept
           FROM p
         ),
         c AS (
           SELECT doc_id, url, url_host,
                  scheme || '://' || url_host || path ||
                  CASE WHEN len(kept) > 0
                       THEN '?' || array_to_string(kept, '&')
                       ELSE '' END AS canon_url
           FROM n
         )"""

  val oracles: Map[String, String] = Map(
    // the link set is synthesized DIRECTLY from the formulas (href
    // extraction itself is proven by text_html_extract) — hash
    // equality then proves extract∘canonicalize∘group recovered it
    "web_anchor_index" ->
      (s"""WITH u AS (
           SELECT doc_id,
                  'https://example.org/p' || CAST(doc_id % 50 AS VARCHAR)
                    AS url
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id,
                  'https://Example.ORG/p' || CAST(doc_id % 50 AS VARCHAR)
                    || '?utm_source=x' AS url
           FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id,
                  'https://example.org/p' || CAST(doc_id % 50 AS VARCHAR)
                    || '?page=2' AS url
           FROM documents WHERE doc_id % 11 = 0
         ),
         $urlCanonChain
         SELECT canon_url,
                count(*) AS n_refs,
                count(DISTINCT doc_id) AS n_src_docs,
                min(doc_id) AS first_doc
         FROM c GROUP BY canon_url ORDER BY canon_url"""),

    "dedup_paragraph" ->
      """WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text FROM documents
           WHERE doc_id % 10 = 0
         ),
         tk AS (
           SELECT doc_id,
                  list_filter(string_split(trim(text), ' '), t -> t <> '')
                    AS ts
           FROM u
         ),
         segs AS (
           SELECT doc_id,
                  unnest([struct_pack(
                            seg_idx := i - 1,
                            segment := array_to_string(
                              ts[(i-1)*8+1:(i-1)*8+8], ' '))
                          for i in range(1,
                            CAST(ceil(len(ts) / 8.0) AS BIGINT) + 1)]) AS u
           FROM tk WHERE len(ts) > 0
         ),
         s2 AS (SELECT doc_id, CAST(u.seg_idx AS INT) AS seg_idx,
                       u.segment AS segment
                FROM segs),
         kept AS (
           SELECT doc_id, seg_idx, segment FROM (
             SELECT s2.*, row_number() OVER (
                      PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
             FROM s2)
           WHERE rn = 1
         ),
         reasm AS (
           SELECT doc_id, count(*) AS n_kept,
                  array_to_string(list(segment ORDER BY seg_idx), ' ')
                    AS clean_text
           FROM kept GROUP BY doc_id
         ),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM s2
                 GROUP BY doc_id)
         SELECT t.doc_id,
                coalesce(r.clean_text, '') AS clean_text,
                CAST(t.n_segments AS INT) AS n_segments,
                CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
                CAST(t.n_segments - coalesce(r.n_kept, 0) AS INT)
                  AS n_dropped
         FROM tot t LEFT JOIN reasm r USING (doc_id)
         ORDER BY doc_id""",

    "text_normalize" ->
      """SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                  ' +', ' ', 'g')) AS norm_text,
                CAST(length(text) AS INT) AS n_chars_before,
                CAST(length(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                  ' +', ' ', 'g'))) AS INT) AS n_chars_after
         FROM documents ORDER BY doc_id""",

    // the derived mis-decode literal + the same ordered replace chain
    // (EncodingRepair.repairSql — one table, two renderings)
    "text_fix_encoding" -> {
      val rep = graft.text.EncodingRepair.repairSql("text")
      s"""WITH u AS (
           SELECT doc_id, coalesce(text, '') AS text FROM documents
           UNION ALL
           SELECT doc_id + ${Planting.Offset},
                  coalesce(text, '') || ' ' || '$MojiBad'
           FROM documents WHERE doc_id % 25 = 0)
         SELECT doc_id, $rep AS text_fixed, $rep <> text AS changed
         FROM u ORDER BY doc_id"""
    },

    // same fixed-width cap / batch rank / batch-max chain, all BIGINT
    "pack_length_buckets" ->
      (s"""WITH $tokCte,
          n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM tok),
          b AS (SELECT doc_id, len,
                       CAST(greatest(64, ((len + 63) // 64) * 64)
                            AS BIGINT) AS bucket_cap
                FROM n),
          r AS (SELECT doc_id, len, bucket_cap,
                       CAST((row_number() OVER (PARTITION BY bucket_cap
                               ORDER BY len DESC, doc_id) - 1) // 16
                            AS BIGINT) AS batch_id
                FROM b)
          SELECT doc_id, len, bucket_cap, batch_id,
                 max(len) OVER (PARTITION BY bucket_cap, batch_id)
                   AS batch_max,
                 max(len) OVER (PARTITION BY bucket_cap, batch_id) - len
                   AS pad_tokens
          FROM r ORDER BY doc_id"""),

    "pack_sequences" ->
      (s"""WITH $tokCte,
          n AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
                       md5('pack' || CAST(doc_id AS VARCHAR)) AS h
                FROM tok),
          p AS (SELECT doc_id, n_tokens, substr(h, 1, 2) AS bucket,
                       sum(CAST(n_tokens AS BIGINT)) OVER (
                         PARTITION BY substr(h, 1, 2) ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens
                         AS tok_offset
                FROM n)
          SELECT doc_id, n_tokens, bucket,
                 CAST(tok_offset AS BIGINT) AS tok_offset,
                 CAST(tok_offset // 512 AS BIGINT) AS bin_id
          FROM p ORDER BY doc_id"""),

    "samp_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
                    GROUP BY source),
         m AS (SELECT max(n) AS nmax FROM c),
         r AS (SELECT source, n, nmax,
                      printf('%04x', CAST(least(65535, greatest(1,
                        floor(sqrt(CAST(n AS DOUBLE) / nmax) * 65536)))
                        AS BIGINT)) AS thr
               FROM c, m)
         SELECT d.doc_id, d.source
         FROM documents d JOIN r USING (source)
         WHERE r.n = r.nmax
            OR substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 4) < r.thr
         ORDER BY doc_id""",

    // the planted VALUES are generated from UniRows — byte-identical to
    // the Spark union's literals; nfc_normalize and \p{L}\p{N} are
    // Unicode-standard semantics both engines implement
    "text_normalize_uni" ->
      (s"""WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES ${
             UniRows.map { case (id, t) => s"($id, ${sqlText(t)})" }
               .mkString(", ")
           }) AS v(doc_id, text)
         ),
         n AS (SELECT doc_id, text,
                      trim(regexp_replace(regexp_replace(
                        lower(nfc_normalize(text)),
                        '[^\\p{L}\\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))
                        AS norm_text
               FROM u)
         SELECT doc_id, norm_text,
                CAST(length(text) AS INT) AS n_chars_before,
                CAST(length(norm_text) AS INT) AS n_chars_after,
                CAST(len(list_filter(string_split(norm_text, ' '),
                  t -> t <> '')) AS INT) AS n_tokens
         FROM n ORDER BY doc_id"""),

    // each rule mirrored with the same list lambdas; counts are ints,
    // every fraction one IEEE division — bit-exact cross-engine
    "text_line_rules" ->
      (s"""WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES ${
             LineRows.map { case (id, t) => s"($id, ${sqlText(t)})" }
               .mkString(", ")
           }) AS v(doc_id, text)
         ),
         l AS (
           SELECT doc_id, text,
                  list_filter(list_transform(string_split(text, chr(10)),
                    x -> trim(x)), x -> length(x) > 0) AS lines,
                  list_filter(string_split(regexp_replace(lower(text),
                    '[\\n\\t\\r]', ' ', 'g'), ' '), w -> w <> '') AS words
           FROM u
         ),
         c AS (
           SELECT doc_id,
                  CAST(len(lines) AS INT) AS n_lines,
                  CAST(len(words) AS INT) AS n_words,
                  CAST(len(list_filter(lines, x ->
                    starts_with(x, '- ') OR starts_with(x, '* ')
                    OR starts_with(x, '•'))) AS INT) AS n_bullet_lines,
                  CAST(len(list_filter(lines, x ->
                    ends_with(x, '...') OR ends_with(x, '…')))
                    AS INT) AS n_ellipsis_lines,
                  CAST(len(list_filter(lines, x ->
                    regexp_matches(x, '[.!?"]$$'))) AS INT)
                    AS n_terminal_lines,
                  CAST(len(list_filter(words, w ->
                    regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha_words,
                  CAST(len(list_intersect(list_distinct(words),
                    ['the','be','to','of','and','that','have','with']))
                    AS INT) AS n_stop_distinct,
                  (contains(lower(text), 'lorem ipsum')
                    OR contains(text, '{')) AS has_blocklist
           FROM l
         ),
         f AS (
           SELECT c.*,
                  CASE WHEN n_lines > 0
                       THEN CAST(n_bullet_lines AS DOUBLE) / n_lines
                       ELSE 0.0 END AS bullet_frac,
                  CASE WHEN n_lines > 0
                       THEN CAST(n_ellipsis_lines AS DOUBLE) / n_lines
                       ELSE 0.0 END AS ellipsis_frac,
                  CASE WHEN n_words > 0
                       THEN CAST(n_alpha_words AS DOUBLE) / n_words
                       ELSE 0.0 END AS alpha_word_frac
           FROM c
         )
         SELECT doc_id, n_lines, n_words, n_bullet_lines,
                n_ellipsis_lines, n_terminal_lines, n_alpha_words,
                n_stop_distinct, bullet_frac, ellipsis_frac,
                alpha_word_frac, has_blocklist,
                (n_lines > 0 AND bullet_frac <= 0.9
                 AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
                 AND n_stop_distinct >= 2 AND NOT has_blocklist) AS keep
         FROM f ORDER BY doc_id"""),

    "text_url_canonical" ->
      (s"""WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.org/doc/' ||
                  CAST(doc_id AS VARCHAR) ||
                  CASE WHEN doc_id % 4 = 0
                       THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                       ELSE '?id=' || CAST(doc_id AS VARCHAR) END AS url
           FROM documents
           UNION ALL
           SELECT * FROM (VALUES ${
             UrlRows.map { case (id, t) => s"($id, ${sqlText(t)})" }
               .mkString(", ")
           }) AS v(doc_id, url)
         ),
         $urlCanonChain
         SELECT doc_id, url, url_host, canon_url,
                count(*) OVER (PARTITION BY canon_url) AS n_same
         FROM c ORDER BY doc_id"""),

    // host gate → canon-URL dedup (min doc_id) → ≥5-token floor →
    // md5 shard — each rule verbatim from its per-operator oracle
    "pipeline_curate_v4" ->
      (s"""WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.org/doc/' ||
                  CAST(CASE WHEN (doc_id % 400) // 20
                              < CAST(substr(source, 4) AS INT)
                            THEN doc_id % 5 ELSE doc_id END AS VARCHAR) ||
                  CASE WHEN doc_id % 4 = 0
                       THEN '?utm_source=feed' ELSE '' END AS url
           FROM documents
         ),
         $urlCanonChain,
         h AS (
           SELECT url_host, count(*) AS host_docs,
                  count(DISTINCT canon_url) AS host_urls
           FROM c GROUP BY url_host
         ),
         g AS (
           SELECT c.doc_id, c.url_host, c.canon_url
           FROM c JOIN h USING (url_host)
           WHERE CAST(1 AS DOUBLE) - CAST(h.host_urls AS DOUBLE)
                   / CAST(h.host_docs AS DOUBLE) <= 0.5
         ),
         dd AS (
           SELECT doc_id, url_host, canon_url,
                  min(doc_id) OVER (PARTITION BY canon_url) AS keep_id
           FROM g
         ),
         fl AS (
           SELECT dd.doc_id, dd.url_host, dd.canon_url
           FROM dd JOIN documents d ON dd.doc_id = d.doc_id
           WHERE dd.doc_id = dd.keep_id
             AND len(list_filter(string_split(trim(d.text), ' '),
                   t -> t <> '')) >= 5
         )
         SELECT doc_id, url_host, canon_url,
                ${graft.ops.Export.shardIdSql("doc_id", 16)} AS shard
         FROM fl ORDER BY doc_id"""),

    // every stage verbatim from its per-operator oracle: the
    // web_domain_block crawl + NOT EXISTS predicate, text_blocklist's
    // list_filter = 0, the corpus ws-token floor, the export shard
    "pipeline_curate_v5" ->
      (s"""WITH crawl AS (
           SELECT doc_id, text,
                  (CASE WHEN doc_id % 5 = 0 THEN 'ads.'
                        WHEN doc_id % 5 = 1 THEN 'cdn.assets.'
                        ELSE 'www.' END) || source || '.' ||
                  (CASE WHEN doc_id % 3 = 0 THEN 'badnet.org'
                        ELSE 'example.org' END) AS url_host
           FROM documents),
         bl AS (
           SELECT * FROM (VALUES ('badnet.org'), ('src3.example.org'),
             ('cdn.assets.src7.example.org'), ('absent.example.net'))
             AS t(domain)),
         kept AS (
           SELECT doc_id, url_host FROM crawl
           WHERE NOT EXISTS (SELECT 1 FROM bl
                             WHERE crawl.url_host = bl.domain
                                OR ends_with(crawl.url_host,
                                             '.' || bl.domain))
             AND len(list_filter(
                   ['slow fast', 'table table', 'hash value',
                    'agg join', 'scan scan', 'zebra quartz'],
                   p -> contains(coalesce(text, ''), p))) = 0
             AND len(list_filter(string_split(trim(text), ' '),
                   t -> t <> '')) >= 5)
         SELECT doc_id, url_host,
                ${graft.ops.Export.shardIdSql("doc_id", 16)} AS shard
         FROM kept ORDER BY doc_id"""),

    // label-aligned suffix predicate: exact host OR ends_with('.'||d) —
    // semantically identical to the label-chain explode+join
    "web_domain_block" ->
      """WITH crawl AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 5 = 0 THEN 'ads.'
                        WHEN doc_id % 5 = 1 THEN 'cdn.assets.'
                        ELSE 'www.' END) || source || '.' ||
                  (CASE WHEN doc_id % 3 = 0 THEN 'badnet.org'
                        ELSE 'example.org' END) AS url_host
           FROM documents),
         bl AS (
           SELECT * FROM (VALUES ('badnet.org'), ('src3.example.org'),
             ('cdn.assets.src7.example.org'), ('absent.example.net'))
             AS t(domain))
         SELECT doc_id, url_host,
                EXISTS (SELECT 1 FROM bl
                        WHERE crawl.url_host = bl.domain
                           OR ends_with(crawl.url_host,
                                        '.' || bl.domain)) AS blocked
         FROM crawl ORDER BY doc_id""",

    // mirrors webHostGate's mirror-synthesis + UrlOps.hostGate: rate
    // is ONE IEEE division per host subtracted from an exact 1.0 —
    // the CAST(1 AS DOUBLE) keeps DuckDB off its DECIMAL literal
    "web_host_gate" ->
      (s"""WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.org/doc/' ||
                  CAST(CASE WHEN (doc_id % 400) // 20
                              < CAST(substr(source, 4) AS INT)
                            THEN doc_id % 5 ELSE doc_id END AS VARCHAR) ||
                  CASE WHEN doc_id % 4 = 0
                       THEN '?utm_source=feed' ELSE '' END AS url
           FROM documents
         ),
         $urlCanonChain,
         h AS (
           SELECT url_host, count(*) AS host_docs,
                  count(DISTINCT canon_url) AS host_urls
           FROM c GROUP BY url_host
         )
         SELECT c.doc_id, c.url_host, h.host_docs, h.host_urls,
                CAST(1 AS DOUBLE) - CAST(h.host_urls AS DOUBLE)
                  / CAST(h.host_docs AS DOUBLE) AS dup_url_rate,
                CASE WHEN CAST(1 AS DOUBLE) - CAST(h.host_urls AS DOUBLE)
                            / CAST(h.host_docs AS DOUBLE) <= 0.5
                     THEN 1 ELSE 0 END AS keep
         FROM c JOIN h USING (url_host)
         ORDER BY c.doc_id"""),

    // sums are BIGINT-exact; avg is one IEEE division of exact ints
    "corpus_stats" ->
      (s"""WITH $tokCte,
           t AS (
             SELECT d.doc_id, d.lang, d.source, d.n_chars,
                    len(tok.ts) AS n_toks
             FROM documents d JOIN tok ON tok.doc_id = d.doc_id
           )
           SELECT lang, source,
                  grouping(lang) AS g_lang,
                  grouping(source) AS g_source,
                  count(*) AS n_docs,
                  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
                  max(n_chars) AS max_chars
           FROM t
           GROUP BY ROLLUP(lang, source)
           ORDER BY g_lang, g_source,
                    lang ASC NULLS FIRST, source ASC NULLS FIRST"""),

    "corpus_histogram" ->
      """SELECT CAST(length(CAST(n_chars AS VARCHAR)) AS INT) AS bucket,
                count(*) AS n_docs,
                min(n_chars) AS min_chars,
                max(n_chars) AS max_chars
         FROM documents
         GROUP BY bucket ORDER BY bucket""",

    // α = 7/10 rate table by pure integer arithmetic (a=7 threshold
    // bits, b=8 ratio bits): t = max{t ≤ 128 : t^10·256^7 ≤ 128^10·r^7}
    // with r = (n·256)//nmax. Every product ≤ 2^126 fits HUGEINT;
    // 1180591620717411303424 = 128^10, 72057594037927936 = 256^7.
    // Identical to Sampling.temperatureMix's DECIMAL(38,0) derivation.
    "samp_temperature_alpha" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
                    GROUP BY source),
         m AS (SELECT max(n) AS nmax FROM c),
         r0 AS (SELECT source, n, nmax, (n * 256) // nmax AS rq FROM c, m),
         g AS (SELECT unnest(range(1, 129)) AS t),
         tm AS (SELECT r0.source, r0.n, r0.nmax,
                       coalesce(max(CASE WHEN
                         (CAST(t AS HUGEINT)*t*t*t*t*t*t*t*t*t)
                           * 72057594037927936
                         <= 1180591620717411303424 *
                            (CAST(rq AS HUGEINT)*rq*rq*rq*rq*rq*rq)
                         THEN t END), 1) AS tq
                FROM r0, g GROUP BY r0.source, r0.n, r0.nmax)
         SELECT d.doc_id, d.source, CAST(tm.tq AS INT) AS rate_q
         FROM documents d JOIN tm USING (source)
         WHERE tm.n = tm.nmax
            OR substr(md5('tempa' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                 < printf('%04x', tm.tq * 512)
         ORDER BY doc_id""",

  )
}
