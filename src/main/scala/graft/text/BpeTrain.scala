package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge-table TRAINING (vocabulary induction) — the learning side
  * of [[Bpe]]'s frozen-table apply: the classic most-frequent-adjacent-
  * pair rule, run distributed.
  *
  * The corpus compresses to its word histogram FIRST (distinct word ×
  * count — at 100 TB the trainer's working set is the vocabulary, not
  * the corpus; one corpus scan total). Each rank is then:
  *   1. a map-side-combinable pair-count aggregation over the symbol
  *      sequences (adjacent 2-grams weighted by word count), and
  *   2. one scalar argmax collect — a single row per rank, strictly
  *      metadata-scale driver traffic (same class as a k-means
  *      centroid pull), deterministic under the total tie-break
  *      (count desc, left asc, right asc);
  *   3. the merge applied to every word by a left-to-right greedy fold
  *      (`aggregate` over singleton lists — `[a,a,a]` + merge (a,a) →
  *      `[aa,a]`, the classic BPE application order).
  * `localCheckpoint` after each application keeps the plan depth
  * constant across ranks (the same discipline as the IVF append chain).
  *
  * Both engines implement the IDENTICAL fold (Spark `aggregate`,
  * DuckDB `list_reduce` over singleton lists) and identical integer
  * pair counts, so the learned table is hash-exact cross-engine.
  *
  * Reference analog: knightshift ingests pre-tokenized moves; a
  * training-data engine must INDUCE its tokenizer from the corpus
  * (merges.txt is an artifact of exactly this computation).
  */
object BpeTrain {

  /** One learned merge: rank (0-based), operands, product, and the
    * weighted adjacent-pair count that won the rank. */
  private val MergeCols = Seq("rank", "left", "right", "merged", "n")

  /** Learn `nMerges` merges from `docs(textCol)`. Tokenization mirrors
    * [[Tokens.ws]] over lowered text (the corpus token rule); symbols
    * start as characters. Returns (rank, left, right, merged, n) in
    * rank order. */
  def trainMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    var words = graft.CacheScope.trackLocalCheckpoint(docs
      .select(explode(Tokens.ws(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        filter(split(col("w"), ""), c => c =!= "").as("sym")))

    val learned = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val best = words
        .select(col("cnt"), explode(expr(
          "transform(slice(sym, 1, size(sym)-1)," +
            " (x, i) -> struct(x AS l, element_at(sym, i+2) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((rank, l, r, l + r, n))
        // greedy left-to-right merge fold; literals bound as Columns
        // (never string-spliced — operands may carry SQL metachars)
        val next = graft.CacheScope.trackLocalCheckpoint(words
          .withColumn("sym", aggregate(
            col("sym"),
            array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(x))))))
        // rank k's histogram is dead once rank k+1 is materialized
        // (the learned table is driver-local rows) — free it now
        graft.CacheScope.release(words)
        words = next
        rank += 1
      }
    }
    // the final generation is not referenced by the returned table
    graft.CacheScope.release(words)
    learned.result()
      .toDF(MergeCols: _*)
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("merged"), col("n"))
  }

  // --- DuckDB mirror -------------------------------------------------

  /** The whole training loop as one generated CTE chain: wₖ (word
    * histogram with symbol lists) → pₖ (weighted adjacent-pair counts)
    * → mₖ (the rank-k argmax under the same total tie-break) → wₖ₊₁
    * (the same greedy fold via `list_reduce` over singleton lists —
    * DuckDB slices are end-INCLUSIVE, hence `a[:len(a)-1]` for
    * drop-last). The result unions the mₖ rows in rank order. */
  def oracleSql(nMerges: Int): String = {
    val w0 =
      """w0 AS (
           SELECT count(*) AS cnt, regexp_split_to_array(w, '') AS sym
           FROM (SELECT unnest(list_filter(
                   string_split(lower(trim(text)), ' '), t -> t <> '')) AS w
                 FROM documents)
           GROUP BY w)"""
    val steps = (0 until nMerges).map { k =>
      val p =
        s"""p$k AS (
             SELECT u.l AS l, u.r AS r, sum(cnt) AS n
             FROM w$k, unnest([ {'l': sym[i], 'r': sym[i+1]}
                                for i in range(1, len(sym)) ]) AS t(u)
             GROUP BY u.l, u.r)"""
      val m =
        s"""m$k AS (SELECT l, r, n FROM p$k
             ORDER BY n DESC, l, r LIMIT 1)"""
      val w =
        s"""w${k + 1} AS (
             SELECT cnt,
                    list_reduce(list_transform(sym, x -> [x]),
                      (a, b) -> CASE WHEN a[-1] = m$k.l AND b[1] = m$k.r
                                     THEN a[:len(a)-1] || [m$k.l || m$k.r]
                                     ELSE a || b END) AS sym
             FROM w$k, m$k)"""
      if (k == nMerges - 1) s"$p, $m" else s"$p, $m, $w"
    }
    val union = (0 until nMerges)
      .map(k => s"SELECT $k AS rank, l, r, n FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH $w0, ${steps.mkString(", ")}
       SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
              l || r AS merged, CAST(n AS BIGINT) AS n
       FROM ($union) ORDER BY rank"""
  }
}
