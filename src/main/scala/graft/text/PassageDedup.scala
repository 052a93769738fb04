package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-passage detection and removal — the "deduplicating
  * training data" pass (Lee et al. 2022, arXiv:2107.06499): any run of
  * `k` consecutive tokens that occurs more than once ANYWHERE in the
  * corpus (another document or elsewhere in the same document) marks
  * its positions as duplicated; overlapping/adjacent duplicated windows
  * merge into maximal spans, and the removal pass cuts exactly the
  * covered tokens, keeping the unique remainder in original order.
  *
  * The reference engine has no passage-level pass (its dedup is
  * row-keyed upsert, `upsert_game_data.py`); this generalizes the
  * corpus-dedup tier (exact / MinHash / SimHash / segment) down to
  * sub-document granularity, which whole-doc and segment-grid passes
  * cannot see (a duplicated quote straddling a segment boundary, a
  * boilerplate footer at varying offsets).
  *
  * Scale shape (100 TB): the paper's suffix array is a single-machine
  * construct; the distributed equivalent is the k-gram posting
  * aggregation below.
  *   - Phase 1 (hash prefilter): count occurrences by `xxhash64(gram)`
  *     — map-side partial aggregation reduces each task to one row per
  *     distinct hash, and the shuffle carries 8-byte keys, never gram
  *     text. Unique grams (the overwhelming majority of any corpus)
  *     are eliminated here for ~16 bytes of shuffle per occurrence.
  *   - Phase 2 (exact confirm): only hash-duplicated occurrences
  *     re-aggregate on the gram STRING, so text shuffles only for the
  *     tiny surviving fraction; a 64-bit collision can only ADD a
  *     candidate to phase 2, never change the final answer — the
  *     result is exact, not probabilistic.
  *   - Span merge is a per-document window (documents are bounded, so
  *     per-key state is bounded); token removal is an equi anti-join
  *     on (doc, position) — no range join anywhere.
  */
object PassageDedup {

  /** Whitespace tokens, empty-safe — the shared corpus rule. */
  private def toks(textCol: String) = Tokens.ws(textCol)

  /** (doc_id, pos, gram): every k-token window at stride 1, pos
    * 0-based. Documents shorter than k produce no rows.
    *
    * Gram construction is the codegen'd [[graft.functions.WordNGrams]]
    * kernel (bit parity with the interpreted
    * `transform(sequence(0, n-k), i -> array_join(slice(ts, i+1, k), ' '))`
    * composition pinned in FunctionsSpec) — this runs over every
    * document of every passage-tier consumer, the same hottest-scan
    * argument as the shingle pipeline's 3-gram kernel. WordNGrams
    * emits a partial gram for docs shorter than k; the `when` guard
    * preserves the no-rows contract for them. */
  def grams(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val n = size(col("__ts"))
    df.select(col(idCol).as("doc_id"), toks(textCol).as("__ts"))
      .select(col("doc_id"),
        posexplode(when(n >= k,
          graft.functions.WordNGrams.word_ngrams(col("__ts"), k))
          .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "gram")
  }

  /** (doc_id, pos, gram, __h): [[grams]] with the rolling 64-bit
    * window hash ([[graft.functions.HashedWordNGrams]], index-aligned
    * with WordNGrams by construction) zipped on — the phase-2 stream
    * that re-derives the SAME per-position key phase 1 counted,
    * without hashing the built string. */
  private def gramsWithHash(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val n = size(col("__ts"))
    df.select(col(idCol).as("doc_id"), toks(textCol).as("__ts"))
      .select(col("doc_id"),
        posexplode(when(n >= k,
          zip_with(
            graft.functions.WordNGrams.word_ngrams(col("__ts"), k),
            graft.functions.HashedWordNGrams
              .hashed_word_ngrams(col("__ts"), k),
            (g, h) => struct(g.as("gram"), h.as("__h"))))
          .otherwise(array().cast("array<struct<gram:string,__h:bigint>>"))))
      .select(col("doc_id"), col("pos"),
        col("col.gram").as("gram"), col("col.__h").as("__h"))
  }

  /** (doc_id, pos, __h): the hash-ONLY gram stream — phase 1's input.
    * No gram strings are built here at all (guide §2.3: decide with
    * small keys, build payloads once): per position the kernel folds
    * per-token XXH64s, so the unique-gram majority of the corpus never
    * pays string materialization. */
  private def gramHashes(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val n = size(col("__ts"))
    df.select(col(idCol).as("doc_id"), toks(textCol).as("__ts"))
      .select(col("doc_id"),
        posexplode(when(n >= k,
          graft.functions.HashedWordNGrams
            .hashed_word_ngrams(col("__ts"), k))
          .otherwise(array().cast("array<bigint>"))))
      .withColumnRenamed("col", "__h")
  }

  /** Occurrences of hash-duplicated grams — phase 1 of the exact
    * two-phase finder: count by the rolling window hash (8-byte
    * shuffle keys, the only corpus-sized stage; map-side partial
    * aggregation reduces each task to one row per distinct hash),
    * then semi-join the string-bearing stream against the hot set.
    * All occurrences of one gram share one hash, so the candidate set
    * holds either every occurrence of a gram or none — collisions can
    * only ADD candidates. The corpus is scanned twice (once hash-only,
    * once with strings) but gram strings are built exactly ONCE — the
    * r20 shape built them four times (hash-agg side, semi-join probe,
    * and twice more through the confirm's double reference). */
  private def hashCandidates(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val hotHashes = gramHashes(df, idCol, textCol, k)
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__h")
    gramsWithHash(df, idCol, textCol, k)
      .join(hotHashes, Seq("__h"), "left_semi")
  }

  /** (doc_id, pos) of every occurrence of a corpus-duplicated k-gram.
    * Two-phase exact: hash-count prefilter, string-count confirm. The
    * confirm is a per-gram count over ONE window pass of the (tiny)
    * candidate set — no second reference to the candidate stream (the
    * r20 aggregate-then-probe shape recomputed the whole gram stream
    * per reference) and no per-gram occurrence LIST (the r21
    * `collect_list(struct(doc_id, pos))` built one unbounded in-memory
    * row per gram; a boilerplate gram — cookie banner, license header
    * — has millions of occurrences at 100 TB, an executor OOM.
    * WindowExec buffers its partition in a spillable row array, so a
    * hot gram costs disk, never memory — guide §5). */
  def duplicatedPositions(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    hashCandidates(df, idCol, textCol, k)
      // partition key leads with the 8-byte window hash: equal grams ⟹
      // equal hashes (the gram is the ' '-join of exactly its k tokens,
      // so gram equality ⟺ token-window equality), hence counting per
      // (__h, gram) ≡ counting per gram — but WindowExec's sort now
      // resolves almost every comparison on the long prefix instead of
      // comparing k-token strings (measured at sf1: the gram-keyed
      // window sorted the whole candidate stream by string and pushed
      // the passage tier super-linear)
      .withColumn("__c",
        count(lit(1)).over(Window.partitionBy("__h", "gram")))
      .filter(col("__c") > 1)
      .select("doc_id", "pos")

  /** (gram, n_occurrences, n_docs) for every corpus-duplicated k-gram —
    * the audit surface behind top-duplicated-passage reports. Same
    * two-phase discipline: gram TEXT aggregates only for the
    * hash-duplicated fraction, never the unique majority. */
  def duplicatedGramStats(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    hashCandidates(df, idCol, textCol, k)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)

  /** (doc_id, pos) of every k-gram occurrence in `df` whose text
    * appears in `refGrams` (one `gram` column) — span-level
    * decontamination: instead of flagging whole documents that share a
    * shingle with the benchmark (the doc-level pass in DataOps), this
    * locates the contaminated WINDOWS so only they are cut.
    *
    * `broadcastRef` (default true) fits the benchmark case — a test
    * set is bounded, so its gram set broadcasts and the corpus side
    * never shuffles. Pass false when the reference is itself a
    * corpus fraction (e.g. curate v7's eval split): forcing a
    * corpus-scale broadcast would OOM the driver at 100 TB, while
    * without the hint Catalyst broadcasts only while the set fits
    * and otherwise hash-semi-joins on the gram key. */
  def positionsMatching(df: DataFrame, idCol: String, textCol: String,
      k: Int, refGrams: DataFrame,
      broadcastRef: Boolean = true): DataFrame = {
    val ref = refGrams.select("gram").distinct()
    if (broadcastRef)
      // bounded-benchmark case: the gram set broadcasts and the corpus
      // side never shuffles — already the optimal shape
      grams(df, idCol, textCol, k)
        .join(broadcast(ref), Seq("gram"), "left_semi")
        .select("doc_id", "pos")
    else {
      // corpus-fraction reference (e.g. curate v7's eval split): the
      // r20 shape semi-joined on the gram STRING, so whichever side
      // shuffled carried k-token text. Now the prefilter semi-join
      // carries 8-byte window hashes (guide §2.3 — the same rolling
      // kernel on both sides: the ref gram re-tokenized by the ' '
      // join it was built with yields the identical window hash), and
      // only the surviving candidates (matches + rare collisions)
      // reach the exact string confirm — which keeps the result
      // identical, never probabilistic.
      val refH = ref.select(
        element_at(graft.functions.HashedWordNGrams.hashed_word_ngrams(
          split(col("gram"), " ", -1), k), 1).as("__h")).distinct()
      gramsWithHash(df, idCol, textCol, k)
        .join(refH, Seq("__h"), "left_semi")
        .join(ref, Seq("gram"), "left_semi")
        .select("doc_id", "pos")
    }
  }

  /** Maximal duplicated token spans per document, over a precomputed
    * (doc_id, pos) position set ([[duplicatedPositions]]):
    * (doc_id, span_start, span_end, span_tokens), token positions
    * inclusive. Windows that overlap OR touch (gap 0) merge — classic
    * gaps-and-islands over the per-document position stream. Callers
    * that need spans AND removal pay the gram aggregation once (the
    * registry memoizes the position set per session/dir). */
  def duplicateSpansFromPositions(p: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val isl = p.withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
    isl.groupBy("doc_id", "__isl")
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int")
          .as("span_tokens"))
  }

  /** Cut every token a precomputed position set covers; reassemble
    * the remainder: (doc_id, n_tokens, n_removed, clean_text), one row
    * per input document (clean_text = '' when fully covered; text is
    * re-joined single-spaced from the whitespace tokenization, like
    * [[SegmentDedup.dedupSegments]]). */
  def removeFromPositions(df: DataFrame, idCol: String,
      textCol: String, p: DataFrame, k: Int): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), toks(textCol).as("__ts"))
    // covered positions, deduplicated — the join stays equi on
    // (doc_id, idx); spans are never range-probed
    val covered = p
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("idx"))
      .distinct()
    val tokens = base.select(col("doc_id"), posexplode(col("__ts")))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "tok")
    val kept = tokens.join(covered, Seq("doc_id", "idx"), "left_anti")
    val reasm = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok"))).as("__clean"))
    base.select(col("doc_id"), size(col("__ts")).as("n_tokens"))
      .join(reasm, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .cast("int").as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }
}
