package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Export
import graft.text.{Decontam, LinearClassifier, PassageDedup}

/** Round-6 corpus-curation additions: exact duplicated-passage
  * detection/removal (sub-document dedup — the granularity the
  * whole-doc and segment-grid passes cannot see), the hashed linear
  * quality classifier, and the sharded training-set export with
  * manifest.
  *
  * Passage-dedup planting: duplicated passages must exist at k=12, so
  * two planted shapes ride above [[Planting.Offset]]:
  *   - +1·Offset: a 20-token excerpt (tokens 11..30) of every 10th
  *     document — cross-document duplication at an interior offset,
  *     partial coverage on both sides;
  *   - +2·Offset: the same excerpt DOUBLED for doc_id % 10 = 5 —
  *     within-document repetition; its junction grams are unique, but
  *     island-merge still covers the full doc (adjacent spans fuse).
  * The same slice arithmetic appears in the oracle's list slices, so
  * both engines see byte-identical planted text.
  */
object CorpusOps extends QueryModule {

  /** k-gram width for the passage pass (Lee et al. use 50 tokens on
    * web-scale text; the synthetic docs are 20–80 tokens, so 12 keeps
    * interior structure while still being longer than any organic
    * repeated run would typically be). */
  private val K = 12

  private val toksC = graft.text.Tokens.ws("text")

  /** Corpus + the two planted passage shapes (shared by both passage
    * entries; built per-call — the heavy work is inside PassageDedup,
    * memoized at the Spark plan level by reuse of the same input). */
  private def plantedCorpus(s: SparkSession, d: String,
      name: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Planting.requireHeadroom(docs, "doc_id", name)
    val base = docs.select(col("doc_id"), toksC.as("__ts"))
      .filter(size(col("__ts")) >= 30)
    val excerpt = array_join(slice(col("__ts"), 11, 20), " ")
    val pa = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Planting.Offset).as("doc_id"),
        excerpt.as("text"))
    val pb = base.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 2 * Planting.Offset).as("doc_id"),
        concat(excerpt, lit(" "), excerpt).as("text"))
    docs.unionByName(pa).unionByName(pb)
  }

  /** The duplicated-position set feeds BOTH passage entries — pay the
    * gram aggregation once per (session, dir), like the shared shingle
    * indexes in DataOps. */
  private def dupPositions(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "passage_positions") {
      graft.CacheScope.track(PassageDedup.duplicatedPositions(
        plantedCorpus(s, d, "dedup_passage"), "doc_id", "text", K))
    }

  private def dedupPassageSpans(s: SparkSession, d: String): DataFrame =
    PassageDedup.duplicateSpansFromPositions(dupPositions(s, d), K)
      .orderBy("doc_id", "span_start")

  private def dedupPassageClean(s: SparkSession, d: String): DataFrame =
    PassageDedup.removeFromPositions(
        plantedCorpus(s, d, "dedup_passage_clean"), "doc_id", "text",
        dupPositions(s, d), K)
      .orderBy("doc_id")

  // Corpus audit: the most-duplicated passages with occurrence and
  // document counts — what a curator reads to pick k and decide
  // whether dup mass is boilerplate (many docs) or doubled pages (few
  // docs, many occurrences). Distributed top-k: two-phase agg then
  // TakeOrdered, never a global sort.
  private def dedupPassageTop(s: SparkSession, d: String): DataFrame =
    PassageDedup.duplicatedGramStats(
        plantedCorpus(s, d, "dedup_passage_top"), "doc_id", "text", K)
      .orderBy(desc("n_occurrences"), col("gram"))
      .limit(20)

  // Novelty = share of a document's k-grams that occur nowhere else in
  // the corpus — the "how much of this doc is boilerplate" dial data
  // auditors read before choosing dedup aggressiveness. Rides the
  // memoized position set: one extra per-doc count, no new corpus pass.
  private def textNoveltyScore(s: SparkSession, d: String): DataFrame = {
    val base = plantedCorpus(s, d, "text_novelty_score")
      .select(col("doc_id"), toksC.as("__ts"))
    val total = base.select(col("doc_id"),
      greatest(lit(0), size(col("__ts")) - (K - 1)).as("n_grams"))
    val dups = dupPositions(s, d).groupBy("doc_id")
      .agg(count(lit(1)).as("__nd"))
    total.join(dups, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("__nd"), lit(0L)).cast("int").as("n_dup"),
        when(col("n_grams") > 0,
          (col("n_grams") - coalesce(col("__nd"), lit(0L)))
            .cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(null).cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  private def textClassifierScore(s: SparkSession, d: String): DataFrame =
    LinearClassifier.score(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  // Span-level decontamination: benchmark = doc_id % 97 = 0 (the same
  // bench/corpus split as text_decontaminate), contamination planted
  // as bench-excerpt (tokens 11..30) ++ REVERSED bench prefix (tokens
  // 10..1) at +3·Offset — the leading 20 tokens are bench k-grams
  // (cut), the reversed tail is not (kept), so the entry proves
  // partial-document removal, not just flagging.
  /** The spans entry's corpus: non-bench docs plus the planted
    * contamination (bench excerpt ++ reversed bench prefix) — shared
    * by the inline and state-served twins so both remove spans from
    * byte-identical input. */
  private def spansCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Planting.requireHeadroom(docs, "doc_id", "text_decontaminate_spans")
    val benchTs = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), toksC.as("__ts"))
      .filter(size(col("__ts")) >= 30)
    val planted = benchTs.select(
      (col("doc_id") + 3 * Planting.Offset).as("doc_id"),
      concat(array_join(slice(col("__ts"), 11, 20), " "), lit(" "),
        array_join(reverse(slice(col("__ts"), 1, 10)), " ")).as("text"))
    docs.filter(col("doc_id") % 97 =!= 0).unionByName(planted)
  }

  private def textDecontaminateSpans(s: SparkSession, d: String)
      : DataFrame = {
    val corpus = spansCorpus(s, d)
    val bench = Tables.documents(s, d).select("doc_id", "text")
      .filter(col("doc_id") % 97 === 0)
    val pos = PassageDedup.positionsMatching(corpus, "doc_id", "text", K,
      PassageDedup.grams(bench, "doc_id", "text", K))
    PassageDedup.removeFromPositions(corpus, "doc_id", "text", pos, K)
      .orderBy("doc_id")
  }

  // Span-level decontamination SERVED from the persisted state — the
  // k-gram side arrives as loaded parquet, never re-windowed from the
  // raw benchmark; hash-identical to text_decontaminate_spans (the
  // SAME oracle).
  private def textDecontaminateSpansServed(s: SparkSession, d: String)
      : DataFrame =
    Decontam.removeSpans(spansCorpus(s, d), "doc_id", "text",
        Decontam.loadState(s, decontamStateDir(s, d)))
      .orderBy("doc_id")

  private val Shards = 16

  // Curation v3 — this round's operators composed END-TO-END as one
  // hash-proven query: classifier gate → passage-level dedup within
  // the survivors → minimum-length floor → shard assignment. Every
  // stage's rule is verbatim from its per-operator oracle; the
  // composition proves the stages agree on one corpus, not just in
  // isolation. (The passage index is computed within the GATED corpus
  // — dup decisions legitimately differ from the ungated memo, so this
  // entry builds its own.)
  /** The gated corpus and its position set are each referenced several
    * times by the passage machinery's DAG — persist both so the
    * classifier projection and the gram aggregation run once, not per
    * plan reference (same memo discipline as dupPositions). */
  private def v3Gated(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "curate_v3_gated") {
      // keepExpr as a filter — one scan, no self-join, no second
      // derivation of the planted union
      graft.CacheScope.track(plantedCorpus(s, d, "pipeline_curate_v3")
        .filter(LinearClassifier.keepExpr(col("text"))))
    }

  private def v3Positions(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "curate_v3_positions") {
      graft.CacheScope.track(
        PassageDedup.duplicatedPositions(v3Gated(s, d), "doc_id", "text", K))
    }

  private def pipelineCurateV3(s: SparkSession, d: String): DataFrame = {
    PassageDedup.removeFromPositions(v3Gated(s, d), "doc_id", "text",
        v3Positions(s, d), K)
      .select(col("doc_id"),
        (col("n_tokens") - col("n_removed")).as("n_clean_tokens"),
        col("clean_text"))
      .filter(col("n_clean_tokens") >= 10)
      .withColumn("shard", Export.shardId(col("doc_id"), Shards))
      .orderBy("doc_id")
  }

  // Manifest over the WRITTEN shard tree (write once per session/dir,
  // like the layout entries): the oracle computes the same manifest
  // straight from the source parquet, so hash equality proves the
  // sharded write∘read is lossless AND the on-disk assignment follows
  // the md5 formula. Directory↔column consistency is pinned in
  // ExportSpec (a pruned single-shard read contains exactly its keys).
  private def exportShardManifest(s: SparkSession, d: String): DataFrame = {
    val path = Fixture.dir(s, d, "export_shards") { p =>
      Export.writeShards(Tables.documents(s, d), "doc_id", Shards, p)
      p
    }
    Export.manifest(s.read.parquet(path).drop("shard"),
        "doc_id", "text", Shards)
      .orderBy("shard")
  }

  /** Curation pipeline v7 — the TRAINING-PAIR tier composed
    * end-to-end the way v1–v6 compose the document tier: leakage-safe
    * cluster split (samp_split_safe's canonical-id rule — near-dup
    * cluster members can never straddle the split) → span-level
    * decontamination of train against the EVAL slice
    * (text_decontaminate_spans' k-gram machinery with the test split
    * as the benchmark — eval text is REMOVED from training pairs, not
    * just flagged) → SFT pack with loss masks over the decontaminated
    * prompts (pack_sft's rule, salt 'sft7': packing runs AFTER
    * removal so mask offsets index the tokens that actually train) →
    * shard assignment (export's md5 formula). Every stage rule is
    * verbatim from its hash-proven per-operator oracle, so the
    * composition is hash-proven end to end.
    *
    * Scale shape: the cluster table is metadata and broadcasts; the
    * eval gram set broadcasts into a semi-join (eval slices are ~20%
    * of the corpus and gram-deduplicated); pack is one shuffle on the
    * 256-bucket key; everything else is a projection — the corpus
    * shuffles once. */
  private def pipelineCurateV7(s: SparkSession, d: String): DataFrame = {
    import graft.text.{Bpe, Packing}
    val docs = Tables.documents(s, d)
    val clusters = DataOps.sharedClusters(s, d)
    val canon = docs.select("doc_id")
      .join(broadcast(clusters), docs("doc_id") === clusters("id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
    val split = graft.sampling.Sampling.hashSplit(canon,
      "canonical_id", 0.8)
    val withMeta = docs.select("doc_id", "text", "source", "lang")
      .join(split, Seq("doc_id"))
    val train = withMeta.filter(col("split") === "train")
    val test = withMeta.filter(col("split") === "test")
    // broadcastRef = false: the eval slice is a CORPUS FRACTION (20%),
    // not a bounded benchmark — let Catalyst pick broadcast vs
    // hash-semi-join by size instead of forcing a driver-scale
    // broadcast (see positionsMatching scaladoc)
    val pos = PassageDedup.positionsMatching(train, "doc_id", "text", K,
      PassageDedup.grams(test, "doc_id", "text", K),
      broadcastRef = false)
    val clean = PassageDedup
      .removeFromPositions(train, "doc_id", "text", pos, K)
      .select(col("doc_id"), col("n_removed").cast("int").as("n_removed"),
        col("clean_text"))
    val pairs = clean
      .join(train.select("doc_id", "source", "lang", "canonical_id"),
        Seq("doc_id"))
      .select(col("doc_id"), col("canonical_id"), col("n_removed"),
        Bpe.nTokens(concat(lit("q: "), col("clean_text"))).as("n_prompt"),
        Bpe.nTokens(concat(lit("a: "), coalesce(col("source"), lit("")),
          lit(" "), coalesce(col("lang"), lit("")))).as("n_completion"))
      .withColumn("n_tokens", col("n_prompt") + col("n_completion"))
    Packing.packSequences(pairs, "doc_id", "n_tokens", budget = 512,
        salt = "sft7")
      .select(col("doc_id"), col("canonical_id"), col("n_prompt"),
        col("n_completion"), col("n_removed"),
        (col("n_removed") > 0).as("contaminated"),
        col("bucket"), col("offset").as("tok_offset"), col("bin_id"),
        (col("offset") + col("n_prompt")).as("mask_start"),
        (col("offset") + col("n_tokens")).as("mask_end"),
        Export.shardId(col("doc_id"), Shards).as("shard"))
      .orderBy("doc_id")
  }

  /** Build + save the decontamination state once per (session, dir);
    * the served entry loads it back. The memo keys the SAVE; the
    * load is per-query (cheap: 1 meta row + lazy parquet scans). */
  private def decontamStateDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "decontam_state") { base =>
      Decontam.saveState(Decontam.buildState(
        Tables.documents(s, d).filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = K, expectedItems = 100000), base)
      base
    }

  // Flag-level decontamination SERVED from the persisted state — the
  // build-once/serve-many production shape in the driver gate itself:
  // the benchmark side arrives as loaded parquet + Bloom sketch bytes,
  // never re-derived from the raw benchmark, and the result is
  // hash-identical to text_decontaminate/_bloom (the SAME oracle — one
  // rendering, three paths).
  private def textDecontaminateServed(s: SparkSession, d: String)
      : DataFrame =
    Decontam.flagContaminated(
      Tables.documents(s, d).filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "text"),
      "doc_id", "text", Decontam.loadState(s, decontamStateDir(s, d)))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_decontaminate_served" -> (textDecontaminateServed _),
    "pipeline_curate_v7"       -> (pipelineCurateV7 _),
    "dedup_passage_spans"      -> (dedupPassageSpans _),
    "dedup_passage_clean"      -> (dedupPassageClean _),
    "dedup_passage_top"        -> (dedupPassageTop _),
    "text_decontaminate_spans" -> (textDecontaminateSpans _),
    "text_decontaminate_spans_served" -> (textDecontaminateSpansServed _),
    "text_novelty_score"       -> (textNoveltyScore _),
    "text_classifier_score"    -> (textClassifierScore _),
    "export_shard_manifest"    -> (exportShardManifest _),
    "pipeline_curate_v3"       -> (pipelineCurateV3 _)
  )

  private def force(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }

  /** One-time shared builds benched as explicit entries (see
    * [[QueryModule.benchBuilds]]): the passage-dedup position set
    * (gram aggregation over the planted corpus, feeds four entries)
    * and curate-v3's gated corpus + its own position set. */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "dedup_passage_build" -> ((s, d) => force(dupPositions(s, d))),
      "decontam_state_build" -> ((s, d) => { decontamStateDir(s, d); () }),
      "pipeline_curate_v3_build" -> ((s, d) => {
        force(v3Gated(s, d)); force(v3Positions(s, d))
      })
    )

  // Shared oracle CTE chain: tokenized corpus + planted shapes +
  // k-grams + duplicated positions (k=12 → slice width 11, gram count
  // n-11, span end pos+11).
  // ---- parameterized oracle chain builders -------------------------
  // One definition per SQL fragment; every passage oracle (spans,
  // clean, top, novelty, decontamination, curate v3) assembles from
  // these, so a change to the plant arithmetic or the k literals can
  // never desynchronize one entry's copy.

  /** tk0: the tokenized corpus (the Tokens.ws rule as DuckDB) —
    * body without the WITH keyword, for composition into larger
    * (incl. RECURSIVE) CTE chains. */
  private val Tk0Body =
    """tk0 AS (
         SELECT doc_id,
                list_filter(string_split(trim(text), ' '), t -> t <> '')
                  AS ts
         FROM documents
       )"""

  private val Tk0Sql = "WITH " + Tk0Body

  /** tk0 + u (corpus + both planted passage shapes). */
  private val CorpusCtes = Tk0Sql +
    """,
       u AS (
         SELECT doc_id, ts FROM tk0
         UNION ALL
         SELECT doc_id + 100000 AS doc_id, ts[11:30] AS ts FROM tk0
         WHERE doc_id % 10 = 0 AND len(ts) >= 30
         UNION ALL
         SELECT doc_id + 200000 AS doc_id,
                list_concat(ts[11:30], ts[11:30]) AS ts FROM tk0
         WHERE doc_id % 10 = 5 AND len(ts) >= 30
       )"""

  /** g (k-gram stream) over an arbitrary (doc_id, ts) CTE. */
  private def gramSql(src: String): String =
    s""",
       g AS (
         SELECT doc_id, g2.pos AS pos, g2.gram AS gram FROM (
           SELECT doc_id,
                  unnest([struct_pack(
                            pos := i - 1,
                            gram := array_to_string(ts[i:i+11], ' '))
                          for i in range(1, len(ts) - 10)]) AS g2
           FROM $src WHERE len(ts) >= 12)
       )"""

  /** dup (corpus-duplicated grams) + p (their positions). */
  private val DupSql =
    """,
       dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
       p AS (SELECT doc_id, pos FROM g
             WHERE gram IN (SELECT gram FROM dup))"""

  private val PassageChain = CorpusCtes + gramSql("u") + DupSql

  /** cov/tok/kept/re (expects `p` and the `src` token CTE in scope):
    * covered positions → anti-joined tokens → per-doc reassembly.
    * `tokName` renames the token-position CTE for chains whose WITH
    * list already binds `tok` (the curate-v7 oracle shares scope with
    * the cluster chain's lowered tokenization). */
  private def removalCtesSql(src: String,
      tokName: String = "tok"): String =
    s""",
       cov AS (SELECT DISTINCT doc_id, idx FROM (
                 SELECT doc_id, unnest(range(pos, pos + 12)) AS idx
                 FROM p)),
       $tokName AS (SELECT doc_id, t.idx AS idx, t.tok AS tok FROM (
                 SELECT doc_id,
                        unnest([struct_pack(idx := i - 1, tok := ts[i])
                                for i in range(1, len(ts) + 1)]) AS t
                 FROM $src)),
       kept AS (SELECT $tokName.doc_id, $tokName.idx, $tokName.tok
                FROM $tokName LEFT JOIN cov
                  ON $tokName.doc_id = cov.doc_id
                 AND $tokName.idx = cov.idx
                WHERE cov.idx IS NULL),
       re AS (SELECT doc_id, count(*) AS n_kept,
                     array_to_string(list(tok ORDER BY idx), ' ')
                       AS clean_text
              FROM kept GROUP BY doc_id)"""

  /** The clean-corpus projection, one row per `src` document. */
  private def cleanSelectSql(src: String): String =
    s"""
       SELECT $src.doc_id, CAST(len($src.ts) AS INT) AS n_tokens,
              CAST(len($src.ts) - coalesce(re.n_kept, 0) AS INT)
                AS n_removed,
              coalesce(re.clean_text, '') AS clean_text
       FROM $src LEFT JOIN re ON $src.doc_id = re.doc_id
       ORDER BY $src.doc_id"""

  private val RemovalTail = removalCtesSql("u") + cleanSelectSql("u")

  private lazy val spansOracle: String =
    Tk0Sql +
      """,
         bch AS (SELECT doc_id, ts FROM tk0 WHERE doc_id % 97 = 0),
         pl AS (
           SELECT doc_id + 300000 AS doc_id,
                  list_concat(ts[11:30], list_reverse(ts[1:10])) AS ts
           FROM bch WHERE len(ts) >= 30
         ),
         u AS (
           SELECT doc_id, ts FROM tk0 WHERE doc_id % 97 <> 0
           UNION ALL
           SELECT doc_id, ts FROM pl
         ),
         bg AS (
           SELECT DISTINCT g2.gram AS gram FROM (
             SELECT unnest([struct_pack(
                       gram := array_to_string(ts[i:i+11], ' '))
                     for i in range(1, len(ts) - 10)]) AS g2
             FROM bch WHERE len(ts) >= 12)
         )""" + gramSql("u") +
      """,
         p AS (SELECT doc_id, pos FROM g
               WHERE gram IN (SELECT gram FROM bg))""" + RemovalTail

  val oracles: Map[String, String] = Map(
    "text_decontaminate_served" -> DataOps.decontaminateOracle,
    "dedup_passage_spans" -> (PassageChain +
      """,
         m AS (SELECT doc_id, pos,
                 max(pos + 11) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
               FROM p),
         isl AS (SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM m)
         SELECT doc_id,
                CAST(min(pos) AS INT) AS span_start,
                CAST(max(pos) + 11 AS INT) AS span_end,
                CAST(max(pos) + 11 - min(pos) + 1 AS INT) AS span_tokens
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start"""),

    "dedup_passage_clean" -> (PassageChain + RemovalTail),

    "dedup_passage_top" -> (PassageChain +
      """
         SELECT gram, count(*) AS n_occurrences,
                count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY gram HAVING count(*) > 1
         ORDER BY n_occurrences DESC, gram LIMIT 20"""),

    "text_novelty_score" -> (PassageChain +
      """,
         nd AS (SELECT doc_id, count(*) AS n_dup FROM p GROUP BY doc_id)
         SELECT u.doc_id,
                CAST(greatest(0, len(u.ts) - 11) AS INT) AS n_grams,
                CAST(coalesce(nd.n_dup, 0) AS INT) AS n_dup,
                CASE WHEN len(u.ts) - 11 > 0
                     THEN CAST(greatest(0, len(u.ts) - 11)
                               - coalesce(nd.n_dup, 0) AS DOUBLE)
                          / CAST(greatest(0, len(u.ts) - 11) AS DOUBLE)
                     ELSE NULL END AS novelty
         FROM u LEFT JOIN nd ON u.doc_id = nd.doc_id
         ORDER BY u.doc_id"""),

    // one rendering for the inline AND state-served spans twins (both
    // remove bench k-grams from the identical planted corpus)
    "text_decontaminate_spans_served" -> spansOracle,
    "text_decontaminate_spans" -> spansOracle,
    // weight arithmetic emitted by LinearClassifier.weightSql — one
    // definition, two engines
    "text_classifier_score" ->
      s"""WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split(trim(text), ' '), t -> t <> '')
                    AS ts
           FROM documents
         ),
         sc AS (
           SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
                  CAST(coalesce(list_sum(
                    [${LinearClassifier.weightSql("u:", "t")}
                     for t in ts]), 0) AS BIGINT) AS uni_score,
                  CAST(coalesce(list_sum(
                    [${LinearClassifier.weightSql("b:",
                        "ts[i] || ' ' || ts[i+1]")}
                     for i in range(1, len(ts))]), 0) AS BIGINT)
                    AS bi_score
           FROM tk
         )
         SELECT doc_id, n_tokens, uni_score, bi_score,
                uni_score + bi_score AS score,
                CASE WHEN uni_score + bi_score >= 0 THEN 1 ELSE 0 END
                  AS keep
         FROM sc ORDER BY doc_id""",

    // the v3 chain: planted corpus (as PassageChain) → classifier gate
    // (weightSql — same generated arithmetic as text_classifier_score)
    // → gram/dup/removal over the GATED set → length floor → shard
    "pipeline_curate_v3" ->
      (CorpusCtes +
      s""",
         uk AS (
           SELECT doc_id, ts FROM u
           WHERE CAST(coalesce(list_sum(
                   [${LinearClassifier.weightSql("u:", "t")}
                    for t in ts]), 0) AS BIGINT)
               + CAST(coalesce(list_sum(
                   [${LinearClassifier.weightSql("b:",
                       "ts[i] || ' ' || ts[i+1]")}
                    for i in range(1, len(ts))]), 0) AS BIGINT) >= 0
         )""" + gramSql("uk") + DupSql + removalCtesSql("uk") +
      s"""
         SELECT uk.doc_id,
                CAST(coalesce(re.n_kept, 0) AS INT) AS n_clean_tokens,
                coalesce(re.clean_text, '') AS clean_text,
                ${Export.shardIdSql("uk.doc_id", Shards)} AS shard
         FROM uk LEFT JOIN re ON uk.doc_id = re.doc_id
         WHERE coalesce(re.n_kept, 0) >= 10
         ORDER BY uk.doc_id"""),

    // the v7 chain: cluster split (shCte/jpCte/ccCte + the md5 split
    // rule, verbatim from samp_split_safe) → span decontamination of
    // train vs the test slice (gram/position/removal CTEs, verbatim
    // from text_decontaminate_spans) → SFT pack with masks (the
    // pack_sft window, salt 'sft7') → md5 shard
    "pipeline_curate_v7" -> {
      import graft.text.Bpe
      val np = Bpe.oracleNTokensExpr("'q: ' || ct")
      val nc = Bpe.oracleNTokensExpr(
        "'a: ' || coalesce(dd.source, '') || ' ' || coalesce(dd.lang, '')")
      s"""WITH RECURSIVE ${OracleCtes.tokCte}, ${DataOps.shCte},
         ${DataOps.jpCte}, ${DataOps.ccCte},
         spl AS (
           SELECT d.doc_id,
                  COALESCE(lab.cluster_id, d.doc_id) AS canonical_id,
                  CASE WHEN substr(md5('split' ||
                         CAST(COALESCE(lab.cluster_id, d.doc_id)
                              AS VARCHAR)), 1, 4) < 'cccc'
                       THEN 'train' ELSE 'test' END AS split
           FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
         $Tk0Body,
         tr AS (SELECT t.doc_id, t.ts FROM tk0 t
                JOIN spl ON spl.doc_id = t.doc_id
                WHERE spl.split = 'train'),
         te AS (SELECT t.doc_id, t.ts FROM tk0 t
                JOIN spl ON spl.doc_id = t.doc_id
                WHERE spl.split = 'test'),
         bg AS (SELECT DISTINCT g2.gram AS gram FROM (
                  SELECT unnest([struct_pack(
                            gram := array_to_string(ts[i:i+11], ' '))
                          for i in range(1, len(ts) - 10)]) AS g2
                  FROM te WHERE len(ts) >= 12))""" +
      gramSql("tr") +
      """,
         p AS (SELECT doc_id, pos FROM g
               WHERE gram IN (SELECT gram FROM bg))""" +
      removalCtesSql("tr", "tok7") +
      s""",
         pr AS (SELECT tr.doc_id,
                       coalesce(re.clean_text, '') AS ct,
                       CAST(coalesce(len(tr.ts), 0)
                            - coalesce(re.n_kept, 0) AS INT)
                         AS n_removed
                FROM tr LEFT JOIN re ON tr.doc_id = re.doc_id),
         n AS (SELECT pr.doc_id, spl.canonical_id, pr.n_removed,
                      $np AS n_prompt, $nc AS n_completion,
                      md5('sft7' || CAST(pr.doc_id AS VARCHAR)) AS h
               FROM pr
               JOIN spl ON spl.doc_id = pr.doc_id
               JOIN documents dd ON dd.doc_id = pr.doc_id),
         n2 AS (SELECT *, n_prompt + n_completion AS n_tokens FROM n),
         pk AS (SELECT doc_id, canonical_id, n_removed, n_prompt,
                       n_completion, n_tokens,
                       substr(h, 1, 2) AS bucket,
                       sum(CAST(n_tokens AS BIGINT)) OVER (
                         PARTITION BY substr(h, 1, 2)
                         ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens
                         AS tok_offset
                FROM n2)
         SELECT doc_id, canonical_id, n_prompt, n_completion, n_removed,
                n_removed > 0 AS contaminated, bucket,
                CAST(tok_offset AS BIGINT) AS tok_offset,
                CAST(tok_offset // 512 AS BIGINT) AS bin_id,
                CAST(tok_offset + n_prompt AS BIGINT) AS mask_start,
                CAST(tok_offset + n_tokens AS BIGINT) AS mask_end,
                ${Export.shardIdSql("doc_id", Shards)} AS shard
         FROM pk ORDER BY doc_id"""
    },

    // straight from the source parquet — equality proves the sharded
    // write∘read round trip AND the md5 assignment
    "export_shard_manifest" ->
      s"""WITH x AS (
           SELECT ${Export.shardIdSql("doc_id", Shards)} AS shard,
                  doc_id,
                  len(list_filter(string_split(trim(text), ' '),
                    t -> t <> '')) AS nt,
                  length(text) AS nc
           FROM documents
         )
         SELECT shard, count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM x GROUP BY shard ORDER BY shard"""
  )
}
