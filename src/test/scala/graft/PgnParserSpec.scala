package graft

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.pgn.PgnParser
import graft.queries.ScopedConf

/** Parity of the batch parse (`readAndParse`) with the declarative spec
  * (`parseLines`) over the same lines, with files cut mid-game by tiny
  * splits and whole; a stale unsplit plan failing instead of writing
  * wrong rows; plus the shared line rule and the session-conf hygiene of
  * `parseLines`. */
class PgnParserSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val tagNames = Seq("Event", "Site", "White", "Black", "Result", "ECO")

  /** One rendered game: headers (with a duplicate tag, a malformed `[`
    * line, a tab-led header and whitespace-only lines now and then),
    * then one move line, sometimes longer than a split. */
  private def game(r: Random, i: Int): Seq[String] = {
    val hs = Seq.fill(1 + r.nextInt(5))(tagNames(r.nextInt(tagNames.size)))
      .map(t => s"""[$t "v$i-${r.nextInt(100)}"]""")
    val noise = Seq(
      Option.when(r.nextInt(4) == 0)("""[Event "dup-first"]"""),
      Option.when(r.nextInt(6) == 0)("[garbage no quotes"),
      Option.when(r.nextInt(5) == 0)("\t[Site \"tabbed\"]"),
      Option.when(r.nextInt(4) == 0)(""),
      Option.when(r.nextInt(5) == 0)(" \t ")).flatten
    val moves = (1 to 2 + r.nextInt(if (r.nextInt(5) == 0) 90 else 12))
      .map(n => s"$n. e4 e5").mkString(" ") + " 1-0"
    r.shuffle(noise ++ hs) :+ (if (r.nextBoolean()) moves else "\t" + moves + " ")
  }

  /** 1–3 files: CRLF or LF, blank separators, a header-only trailing
    * block in some (one of only a malformed line in others), and (with more than one file) a file with no move
    * line. Returns each file's name and lines. */
  private def render(seed: Long, dir: Path): Seq[(String, Seq[String])] = {
    val r = new Random(seed)
    val nFiles = 1 + (seed % 3).toInt
    (0 until nFiles).map { f =>
      val lines =
        if (nFiles > 1 && f == nFiles - 1)
          (0 until 20).map(i => s"""[Tag$i "no moves"]""") ++ Seq("", "[garbage")
        else {
          val games = (0 until 4 + r.nextInt(12)).flatMap(i => game(r, i) :+ "")
          // an open trailing block: a tag and a malformed line, only a
          // malformed line, or none
          games ++ Seq(Seq("""[Event "open"]""", "[junk"), Seq("[junk only"), Nil)(
            ((seed + f) % 3).toInt)
        }
      val eol = if (r.nextBoolean()) "\r\n" else "\n"
      val name = s"part-$f.pgn"
      Files.writeString(dir.resolve(name), lines.mkString(eol) + eol)
      name -> lines
    }
  }

  private def rows(df: DataFrame): Seq[(String, Long, Map[String, String], String)] =
    df.collect().toSeq.map { case Row(f: String, i: Long, h: Map[String, String] @unchecked, m: String) =>
      (f.substring(f.lastIndexOf('/') + 1), i, h, m)
    }.sortBy(g => (g._1, g._2))

  /** The spec: each file's lines numbered by an explicit counter. */
  private def spec(files: Seq[(String, Seq[String])]) =
    rows(PgnParser.parseLines(files.flatMap { case (name, lines) =>
      lines.zipWithIndex.map { case (l, i) => (name, i.toLong, l) }
    }.toDF("src_file", "line_no", "line")))

  private def withDump[T](seed: Long)(body: (String, Seq[(String, Seq[String])]) => T): T = {
    val dir = TestSpark.tempDir("pgn-parity")
    try body(dir.toString, render(seed, dir))
    finally graft.sources.TableSwap.deleteRecursively(dir)
  }

  test("readAndParse equals parseLines when 256 B splits cut files mid-game") {
    for (seed <- 1L to 6L) withDump(seed) { (dir, files) =>
      ScopedConf.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "256") {
        assert(spark.read.text(dir).rdd.getNumPartitions > files.size,
          s"seed $seed: files not split")
        val got = rows(PgnParser.readAndParse(spark, dir))
        assert(got === spec(files), s"seed $seed")
      }
    }
  }

  test("unsplit readAndParse equals parseLines and plans no Exchange") {
    for (seed <- 1L to 3L) withDump(seed) { (dir, files) =>
      val df = PgnParser.readAndParse(spark, dir)
      assert(rows(df) === spec(files), s"seed $seed")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("an unsplit readAndParse run under smaller splits fails instead of restarting game_idx") {
    withDump(1L) { (dir, _) =>
      val df = PgnParser.readAndParse(spark, dir)
      ScopedConf.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "256") {
        val e = intercept[SparkException](df.collect())
        assert(e.getMessage.contains("was planned whole"), e.getMessage)
      }
    }
  }

  test("one line rule: tab-only lines are blank, a tab-led [ line is a header") {
    val doc = "[White \"a\"]\n\t\n\t[Event \"x\"]\r\n\t1. e4 e5 1-0\t\n[Black \"b\"]\n1. d4 0-1\n"
    val imperative = PgnParser.splitBlocks(doc)
    assert(imperative.map(_.headers) ===
      Seq(Map("white" -> "a", "event" -> "x"), Map("black" -> "b")))
    assert(imperative.map(_.moves) === Seq("1. e4 e5 1-0", "1. d4 0-1"))
    val declarative = spec(Seq("d.pgn" -> doc.split("\n").toSeq))
    assert(declarative.map(g => (g._3, g._4)) ===
      imperative.map(g => (g.headers, g.moves)))
  }

  test("a trailing block of only a malformed [ line: the same rows from readAndParse, parseLines and splitBlocks") {
    val lines = Seq("[White \"a\"]", "1. e4 e5 1-0", "", "[Black \"b\"]",
      "1. d4 0-1", "", "[junk only")
    val dir = TestSpark.tempDir("pgn-junk")
    try {
      Files.writeString(dir.resolve("j.pgn"), lines.mkString("\n") + "\n")
      val got = rows(PgnParser.readAndParse(spark, dir.toString))
      val imperative = PgnParser.splitBlocks(lines.mkString("\n"))
        .zipWithIndex.map { case (g, i) => ("j.pgn", i.toLong, g.headers, g.moves) }
      assert(got === spec(Seq("j.pgn" -> lines)))
      assert(got === imperative)
      assert(got.map(_._4) === Seq("1. e4 e5 1-0", "1. d4 0-1"))
    } finally graft.sources.TableSwap.deleteRecursively(dir)
  }

  test("parseLines keeps the last duplicate tag and leaves the session's mapKeyDedupPolicy alone") {
    // a fresh session: the shared one's policy may already be anything
    val s = spark.newSession()
    val key = "spark.sql.mapKeyDedupPolicy"
    val before = s.conf.get(key)
    val lines = s.createDataFrame(Seq("""[Event "a"]""", """[Site "s"]""",
      """[event "b"]""", "1. e4 1-0").zipWithIndex.map { case (l, i) =>
        ("m.pgn", i.toLong, l) }).toDF("src_file", "line_no", "line")
    val got = rows(PgnParser.parseLines(lines))
    assert(got.map(_._3) === Seq(Map("event" -> "b", "site" -> "s")))
    assert(s.conf.get(key) === before)
  }
}
