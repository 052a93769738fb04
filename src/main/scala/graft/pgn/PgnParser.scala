package graft.pgn

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PGN stream parsing: SURVEY.md §2.2 F1 (stateful block-boundary
  * detection) + F2 (header parsing).
  *
  * Reference behavior (knightshift/utils/pgn_parser.py:12-43 and
  * get_games_from_tv.py:182-199): lines accumulate into a game block; a
  * non-blank, non-`[` line is move text and TERMINATES the block (the
  * stream emits `[Tag...]*` then one move line per game —
  * docs/assumptions.md:11-12). Header keys are lowercased, values
  * unquoted, duplicate tags last-win. A line is trimmed by `String.trim`
  * (every char ≤ U+0020) before the blank and `[` tests.
  *
  * One block splitter (`blocks` cuts an ordered line iterator into
  * blocks, `parse` reads one block) serves both imperative callers:
  *   - [[splitBlocks]]: one document (the streaming micro-batch wrapper,
  *     where each HTTP response body is one document);
  *   - [[readAndParse]]: the batch load. When no file is split, the
  *     splitter runs inside each file's scan partition (`mapPartitions`),
  *     so no line is shuffled.
  *
  * [[parseLines]] is the declarative form over a DataFrame of numbered
  * lines (a sessionization window, then one grouped aggregation); it is
  * the spec [[readAndParse]] is checked against, and the plan
  * [[readAndParse]] falls back to when a file spans several splits.
  */
object PgnParser {

  private val headerRe = "^\\[(\\w+)\\s+\"(.*)\"\\]$"
  private val header = headerRe.r
  // String.trim's whitespace: every char ≤ U+0020
  private val trimChars = (0 to 0x20).map(_.toChar).mkString

  private def isMove(line: String): Boolean = !line.startsWith("[")

  /** F1: an ordered line iterator → blocks of trimmed non-blank lines.
    * Every block but the last ends with its one move line; the last may
    * be open (headers with no move line yet). */
  private def blocks(lines: Iterator[String]): Iterator[Vector[String]] =
    new Iterator[Vector[String]] {
      private val it = lines.map(_.trim).filter(_.nonEmpty)
      def hasNext: Boolean = it.hasNext
      def next(): Vector[String] = {
        val b = Vector.newBuilder[String]
        var closed = false
        while (!closed && it.hasNext) {
          val l = it.next()
          b += l
          closed = isMove(l)
        }
        b.result()
      }
    }

  /** F2: one block → lowercased headers (last wins; a malformed
    * `[` line adds nothing) and its move text. */
  private def parse(block: Seq[String]): ParsedGame = {
    var headers = Map.empty[String, String]
    block.foreach { l =>
      if (!isMove(l)) header.findFirstMatchIn(l).foreach { m =>
        headers += (m.group(1).toLowerCase -> m.group(2))
      }
    }
    ParsedGame(headers, block.lastOption.filter(isMove).getOrElse(""))
  }

  /** The block splitter: every block with a header or a move line, in
    * order. A block of only malformed `[` lines (only ever the open
    * trailing one) yields nothing — the rule [[parseLines]] applies
    * too. */
  private def splitLines(lines: Iterator[String]): Iterator[ParsedGame] =
    blocks(lines).map(parse)
      .filter(g => g.headers.nonEmpty || g.moves.nonEmpty)

  /** Batch parse: input must have columns (src_file: String, line_no:
    * Long, line: String), ordered by line_no within each src_file.
    * Output: (src_file, game_idx, headers: Map[String,String],
    * moves: String) — one row per game block with a header or a move
    * line (the [[splitLines]] rule).
    */
  def parseLines(lines: DataFrame): DataFrame = {
    val trimmed = lines
      .withColumn("line", trim(col("line"), trimChars))
      .filter(length(col("line")) > 0)                 // S2: blank-skip
      .withColumn("is_header", col("line").startsWith("["))

    // F1: a move line ends the current game → a line belongs to game
    // #(count of move lines strictly before it) within its file.
    val w = Window.partitionBy("src_file").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, -1)
    val numbered = trimmed.withColumn("game_idx",
      coalesce(sum(when(!col("is_header"), 1L).otherwise(0L)).over(w), lit(0L)))

    // F2: ONE grouped aggregation builds both the header map and the
    // ordered moves string (collect_list skips the NULLs the CASE
    // branches produce, so header and move lines separate without a
    // second shuffle + join). Order is restored via array_sort on
    // (line_no, ...) structs — collect_list alone is
    // partition-order-dependent. Duplicate tags: the entry with no
    // later entry of the same key survives (last wins, as in
    // [[parse]]), so map_from_entries never sees a duplicate key.
    // Malformed '['-prefixed lines (no `[Tag "value"]` shape) still act
    // as header-ish for boundary purposes but contribute no entry.
    numbered
      .select(col("src_file"), col("game_idx"),
        when(col("is_header") && col("line").rlike(headerRe),
          struct(col("line_no"),
            lower(regexp_extract(col("line"), headerRe, 1)).as("k"),
            regexp_extract(col("line"), headerRe, 2).as("v"))).as("hkv"),
        when(!col("is_header"),
          struct(col("line_no"), col("line"))).as("mv"))
      .groupBy("src_file", "game_idx")
      .agg(
        array_sort(collect_list(col("hkv"))).as("hs"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(mv)), x -> x.line)"))
          .as("moves"))
      .select(col("src_file"), col("game_idx"),
        map_from_entries(transform(
          filter(col("hs"), (x, i) => !exists(
            slice(col("hs"), i + 2, size(col("hs"))), _("k") === x("k"))),
          x => struct(x("k"), x("v")))).as("headers"),
        col("moves"))
      .filter(size(col("headers")) > 0 || length(col("moves")) > 0)
  }

  /** Read PGN text files (a file or a directory of them) and parse them.
    * Same output contract as [[parseLines]] over the files' lines
    * numbered in file order.
    *
    * Whether any file is split is read off the scan's planned
    * `FilePartition`s, which runs no job. When none is, the splitter runs
    * on each file's run of a partition and `game_idx` is the block's
    * ordinal: one scan stage, no exchange. Otherwise the lines, numbered
    * by `monotonically_increasing_id` (a split is read in line order, and
    * a file's splits are packed into partitions in file order), go
    * through [[parseLines]]. The unsplit branch checks at run time that every
    * run starts its file, so a query re-planned with smaller splits fails
    * instead of restarting `game_idx` mid-file.
    */
  def readAndParse(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.text(path).select(
      input_file_name().as("src_file"),
      col("_metadata.file_block_start").as("block_start"),
      col("value").as("line"))
    if (splitsAnyFile(lines))
      parseLines(lines.drop("block_start")
        .withColumn("line_no", monotonically_increasing_id()))
    else lines.as[SplitLine].mapPartitions(runs(_).flatMap { case (r, ls) =>
      require(r.block_start == 0, s"${r.src_file} was planned whole but " +
        s"is read from offset ${r.block_start}; plan readAndParse again")
      splitLines(ls).zipWithIndex.map { case (g, j) =>
        Game(r.src_file, j, g.headers, g.moves) }
    }).toDF()
  }

  /** True unless every planned file split of the scan covers a whole
    * file. Plans the scan (file listing, split sizing); runs no job. */
  private def splitsAnyFile(lines: Dataset[_]): Boolean =
    lines.queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD
    } match {
      case Some(rdd: FileScanRDD) => rdd.filePartitions.exists(_.files.exists(f =>
        f.start > 0 || f.start + f.length < f.fileSize))
      case _ => true
    }

  /** A partition's lines cut into its (file, split) runs, in scan
    * order. Each run's iterator must be consumed before the next run
    * is asked for. */
  private def runs(rows: Iterator[SplitLine]): Iterator[(SplitLine, Iterator[String])] =
    new Iterator[(SplitLine, Iterator[String])] {
      private val it = rows.buffered
      private var cur: Iterator[String] = Iterator.empty
      def hasNext: Boolean = { cur.foreach(_ => ()); it.hasNext }
      def next(): (SplitLine, Iterator[String]) = {
        val r = it.head
        cur = new Iterator[String] {
          def hasNext: Boolean = it.hasNext &&
            it.head.block_start == r.block_start && it.head.src_file == r.src_file
          def next(): String = it.next().line
        }
        (r, cur)
      }
    }

  /** Imperative per-document splitter — the streaming seam. One PGN
    * document (many games) → parsed games. Pure function: safe inside
    * `flatMap`/`mapPartitions`, no driver involvement.
    */
  def splitBlocks(doc: String): Seq[ParsedGame] =
    splitLines(doc.split("\n", -1).iterator).toVector

  private[pgn] case class SplitLine(src_file: String, block_start: Long,
      line: String)
  private[pgn] case class Game(src_file: String, game_idx: Long,
      headers: Map[String, String], moves: String)
}

/** One parsed PGN block: lowercased header tags + joined move text. */
case class ParsedGame(headers: Map[String, String], moves: String)
