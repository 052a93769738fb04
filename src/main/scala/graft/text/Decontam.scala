package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.BloomPrune

/** Build-once / serve-many benchmark-decontamination state — the
  * persistence tier the flag- and span-level decontamination operators
  * (`text_decontaminate_bloom`, `text_decontaminate_spans`) previously
  * lacked: every serving job re-derived the benchmark side (shingle
  * explode + distinct + Bloom build + k-gram window) from the raw
  * benchmark corpus each run. Here the benchmark side is computed once
  * per benchmark VERSION, saved, and served from any later session —
  * the natural production shape, since benchmark suites change on
  * release cadence while training corpora stream through daily.
  *
  * State contents (reference: moveeleven-data/knightshift keeps no
  * such state — its per-run Python rebuild is exactly the cost this
  * tier amortizes):
  *   - `shingles/`  — the benchmark's distinct word 3-gram shingles
  *     ([[Dedup.shingles]]'s rule), range-partitioned and sorted on
  *     shingle. NOTE the built-in serve paths broadcast the whole set
  *     (benchmark-scale), so the sorted layout buys them nothing at
  *     read time — it exists for deterministic output and for
  *     SELECTIVE consumers (a single-shingle lookup service can prune
  *     row groups on the min/max stats; the serve paths here cannot);
  *   - `grams/`     — the benchmark's distinct k-token windows
  *     ([[PassageDedup.grams]]'s rule) for span-level removal, same
  *     layout;
  *   - `meta/`      — 1-row parquet: format version, span k, the
  *     serialized Bloom sketch of the shingles ([[BloomPrune]] bytes
  *     — parquet BINARY round-trips bit-exactly), and the shingle
  *     count the sketch was sized for.
  *
  * Serve-path equivalence is the contract: [[flagContaminated]] and
  * [[removeSpans]] over a loaded state are bit-identical to the
  * inline registry entries on the same corpus (pinned in
  * ModelPersistSpec), because both sides run the SAME probe plan —
  * the state only replaces how the benchmark side is obtained.
  *
  * 100 TB posture: the state is benchmark-scale (thousands of docs →
  * at most millions of shingle/gram rows — megabytes), so both serve
  * paths broadcast it against the streaming corpus; the corpus side is
  * one shingle/gram projection + a Bloom-prefiltered semi-join and
  * never shuffles its text.
  */
object Decontam {

  /** Format version written to `meta/` — bump on layout change so a
    * loader never misreads an old state as a new one. */
  private val FormatVersion = 1

  /** In-session decontamination state. `benchShingles` is (shingle),
    * distinct; `benchGrams` is (gram), distinct; `sketch` is the
    * [[BloomPrune]] bytes over the shingles; `k` is the span window
    * the grams were built with. */
  case class DecontamState(benchShingles: DataFrame, sketch: Array[Byte],
      benchGrams: DataFrame, k: Int)

  /** Build state from a benchmark corpus: shingle set + Bloom sketch
    * (flag tier) and k-gram set (span tier) in one pass each. */
  def buildState(bench: DataFrame, idCol: String, textCol: String,
      k: Int, expectedItems: Long, fpp: Double = 0.01): DecontamState = {
    val shingles = Dedup.shingles(bench, idCol, textCol)
      .select("shingle").distinct()
    val grams = PassageDedup.grams(bench, idCol, textCol, k)
      .select("gram").distinct()
    DecontamState(shingles,
      BloomPrune.buildKeySketch(shingles, "shingle", expectedItems, fpp),
      grams, k)
  }

  /** Persist a state. Layout per the object scaladoc; the sketch rides
    * in the 1-row meta parquet (BINARY), so one directory holds
    * everything a serving session needs. */
  def saveState(state: DecontamState, path: String): Unit = {
    val spark = state.benchShingles.sparkSession
    import spark.implicits._
    state.benchShingles.repartitionByRange(8, col("shingle"))
      .sortWithinPartitions("shingle")
      .write.mode("overwrite").parquet(s"$path/shingles")
    state.benchGrams.repartitionByRange(8, col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(s"$path/grams")
    Seq((FormatVersion, state.k, state.sketch))
      .toDF("format_version", "k", "sketch")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted state for [[flagContaminated]] / [[removeSpans]].
    * The sketch bytes are the ONLY eager read (1 row); shingles and
    * grams stay lazy parquet scans. */
  def loadState(spark: SparkSession, path: String): DecontamState = {
    val meta = spark.read.parquet(s"$path/meta")
      .select("format_version", "k", "sketch").head()
    require(meta.getInt(0) == FormatVersion,
      s"decontam state at $path has format ${meta.getInt(0)}; " +
        s"this build reads $FormatVersion")
    DecontamState(
      spark.read.parquet(s"$path/shingles").select("shingle"),
      meta.getAs[Array[Byte]]("sketch"),
      spark.read.parquet(s"$path/grams").select("gram"),
      meta.getInt(1))
  }

  /** Flag-level decontamination against the state: every corpus doc
    * sharing ANY word 3-gram with the benchmark → (idCol,
    * contaminated). Same plan as the inline `text_decontaminate_bloom`
    * tail: Bloom prefilter drops ~every clean shingle before the exact
    * broadcast semi-join removes false positives, so the result is
    * exact and the corpus text never shuffles. */
  def flagContaminated(corpus: DataFrame, idCol: String,
      textCol: String, state: DecontamState): DataFrame = {
    val flagged = Dedup.shingles(corpus, idCol, textCol)
      .filter(BloomPrune.mightContain(state.sketch, col("shingle")))
      .join(broadcast(state.benchShingles), Seq("shingle"), "left_semi")
      .select(col("id").as(idCol)).distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(idCol)
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Span-level decontamination against the state: every k-token
    * window matching a benchmark k-gram is cut and the surviving text
    * reassembled ([[PassageDedup.removeFromPositions]] semantics —
    * same output schema as `text_decontaminate_spans`). */
  def removeSpans(corpus: DataFrame, idCol: String, textCol: String,
      state: DecontamState): DataFrame =
    PassageDedup.removeFromPositions(corpus, idCol, textCol,
      PassageDedup.positionsMatching(corpus, idCol, textCol, state.k,
        state.benchGrams),
      state.k)
}
