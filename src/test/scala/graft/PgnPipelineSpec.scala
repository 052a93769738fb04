package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pgn.PgnParser
import graft.ops.{Cleaning, Normalize, Upsert}

/** Golden-path + edge-case tests for the PGN pipeline, fixtures from
  * FIXTURES.md A1/A2 (which mirror the reference's own mock rows plus
  * the implicit edge cases).
  */
class PgnPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val fixturePgn =
    """[Event "Rated Blitz game"]
      |[Site "https://lichess.org/abcd1234"]
      |[Date "2025.05.01"]
      |[White "alice_gm"]
      |[Black "bob_fm"]
      |[Result "1-0"]
      |[UTCDate "2025.05.01"]
      |[UTCTime "18:42:07"]
      |[WhiteElo "2412"]
      |[BlackElo "2388"]
      |[WhiteTitle "GM"]
      |[BlackTitle "FM"]
      |[Variant "Standard"]
      |[TimeControl "180+0"]
      |[ECO "C20"]
      |[Opening "King's Pawn Game"]
      |[Termination "Normal"]
      |1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 1-0
      |
      |[Site "https://lichess.org/baddate1"]
      |[Date "2025-05-01"]
      |[White "carol"]
      |[Black "dave"]
      |[Result "0-1"]
      |[WhiteElo "notanumber"]
      |[ECO "?"]
      |[Termination "Time forfeit"]
      |1. d4 d5 0-1
      |
      |[Event "No site header - dropped"]
      |[White "eve"]
      |[Black "frank"]
      |[Result "1-0"]
      |1. c4 c5 1-0
      |
      |[Site "https://lichess.org/unterm01"]
      |[White "gina"]
      |[Black "hank"]
      |[Result "1/2-1/2"]
      |[Termination "Unterminated"]
      |1. Nf3 Nf6 1/2-1/2
      |""".stripMargin

  private def parsedFixture = {
    val lines = fixturePgn.split("\n").toSeq.zipWithIndex
      .toDF("line", "line_no")
      .withColumn("src_file", lit("fixture.pgn"))
    PgnParser.parseLines(lines)
  }

  test("F1/F2: block splitting + header parsing (declarative)") {
    val games = parsedFixture.collect()
    assert(games.length == 4)
    val g0 = parsedFixture.filter(col("game_idx") === 0).head()
    val h = g0.getAs[Map[String, String]]("headers")
    assert(h("site") == "https://lichess.org/abcd1234")
    assert(h("white") == "alice_gm")
    assert(h("opening") == "King's Pawn Game")
    assert(g0.getAs[String]("moves") == "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 1-0")
  }

  test("F1/F2: imperative splitter agrees with declarative parse") {
    val imperative = PgnParser.splitBlocks(fixturePgn)
    assert(imperative.length == 4)
    assert(imperative.head.headers("white") == "alice_gm")
    assert(imperative.head.moves == "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 1-0")
    assert(imperative(2).headers.get("site").isEmpty)
  }

  test("F1/F2: duplicate tags last-win; malformed bracket lines drop (both parsers)") {
    val messy =
      """[Event "first"]
        |[Event "second"]
        |[garbage no quotes
        |[Site "https://lichess.org/dup1"]
        |1. e4 e5 1-0
        |""".stripMargin
    val viaImperative = PgnParser.splitBlocks(messy)
    assert(viaImperative.length == 1)
    assert(viaImperative.head.headers("event") == "second")
    assert(!viaImperative.head.headers.contains(""))
    val lines = messy.split("\n").toSeq.zipWithIndex
      .toDF("line", "line_no").withColumn("src_file", lit("m.pgn"))
    val viaDeclarative = PgnParser.parseLines(lines).head()
    val h = viaDeclarative.getAs[Map[String, String]]("headers")
    assert(h("event") == "second" && !h.contains(""))
    assert(h("site") == "https://lichess.org/dup1")
  }

  test("F3-F8: normalize — defaults, null-on-error casts, P7 site guard") {
    val norm = Normalize.buildGameData(parsedFixture,
      ingestedAt = lit("2025-05-02 00:00:00").cast("timestamp"))
    val rows = norm.orderBy("id_game").collect()
    assert(rows.length == 3)                    // no-site game dropped
    val byId = rows.map(r => r.getAs[String]("id_game") -> r).toMap
    val g1 = byId("abcd1234")
    assert(g1.getAs[java.sql.Date]("dt_game").toString == "2025-05-01")
    assert(g1.getAs[String]("tm_game_utc") == "18:42:07")
    assert(g1.getAs[Int]("val_elo_white") == 2412)
    val g2 = byId("baddate1")
    assert(g2.getAs[java.sql.Date]("dt_game") == null)          // bad format
    assert(g2.isNullAt(g2.fieldIndex("val_elo_white")))         // notanumber
    assert(g2.getAs[String]("val_opening_name") == "")          // "" default
  }

  test("P1-P2 + F10-F12 + F15: cleaning golden cases (FIXTURES.md A2)") {
    val games = Seq(
      // id, white, black, result, term, eloW, eloB, eco, titleW
      ("g1", "user1", "user2", "1-0", "NORMAL", "1500", "1400", "C20", "GM"),
      ("g2", "user3", "user4", "0-1", "RESIGNED", "1600", "1550", "A00", "none"),
      ("g3", "user5", "user6", "1/2-1/2", "Time forfeit", "1700", "1690", "?", "unranked"),
      ("g4", "user7", "", "1-0", "NORMAL", "1800", "1750", "B01", "FM"),
      ("g5", "user8", "user9", "*", "NORMAL", "1900", "1850", "C41", "IM")
    ).toDF("id_game", "id_user_white", "id_user_black", "val_result",
      "val_termination", "val_elo_white", "val_elo_black",
      "val_opening_eco_code", "val_title_white")
      .withColumn("val_moves_pgn", lit("1. e4 e5"))
      .withColumn("val_title_black", lit("IM"))
      .withColumn("ind_validated", lit(false))
      .withColumn("tm_validated", lit(null).cast("timestamp"))
      .withColumn("val_validation_notes", lit(null).cast("string"))

    val res = Cleaning.validateAndClean(games,
      validatedAt = lit("2025-05-02 00:00:00").cast("timestamp"))
    val cleaned = res.cleaned.collect().map(r =>
      r.getAs[String]("id_game") -> r).toMap
    val rejected = res.rejected.collect().map(r =>
      r.getAs[String]("id_game") -> r.getAs[String]("val_validation_notes")).toMap

    assert(cleaned.keySet == Set("g1", "g2", "g3"))
    assert(rejected == Map(
      "g4" -> "Missing field: id_user_black",
      "g5" -> "Invalid result: *"))
    assert(cleaned("g2").getAs[String]("val_title_white") == "None")
    val g3 = cleaned("g3")
    assert(g3.getAs[String]("val_termination") == "TIME_FORFEIT")
    assert(g3.getAs[String]("val_opening_eco_code") == null)
    assert(g3.getAs[String]("val_title_white") == "None")
    assert(g3.getAs[String]("val_validation_notes") ==
      "Set val_opening_eco_code to NULL, Normalized termination: Time forfeit → TIME_FORFEIT")
    assert(cleaned("g1").getAs[String]("val_validation_notes") == "Valid")
    assert(cleaned("g1").getAs[Int]("val_elo_white") == 1500)
    assert(cleaned.values.forall(_.getAs[Boolean]("ind_validated")))
  }

  test("P4: needsFix without force keeps exactly the unvalidated, '?'-ECO " +
      "and non-canonical-termination rows") {
    val games = Seq(
      // id, validated, eco, termination
      ("g1", true, "C20", "NORMAL"),        // done: skipped
      ("g2", false, "C20", "NORMAL"),       // never validated
      ("g3", true, "?", "RESIGNED"),        // '?' ECO
      ("g4", true, "B?1", "NORMAL"),        // '?' anywhere in the code
      ("g5", true, "A00", "Time forfeit"),  // not canonical
      ("g6", true, "A00", "TIME_FORFEIT")   // done: skipped
    ).toDF("id_game", "ind_validated", "val_opening_eco_code",
      "val_termination")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id_game").as[String].collect().toSet
    assert(ids(Cleaning.needsFix(games, forceRevalidate = false)) ==
      Set("g2", "g3", "g4", "g5"))
    assert(ids(Cleaning.needsFix(games)) == ids(games))
  }

  test("A1/J3: last-write-wins upsert — re-streamed game overwrites") {
    val existing = Seq(("a", "old", 1L), ("b", "keep", 1L))
      .toDF("id_game", "v", "tm")
    val incoming = Seq(("a", "new1", 2L), ("a", "new2", 3L), ("c", "ins", 2L))
      .toDF("id_game", "v", "tm")
    val merged = Upsert.lastWriteWins(existing, incoming, "id_game",
        Seq(desc("tm")))
      .orderBy("id_game").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merged == Seq(("a", "new2"), ("b", "keep"), ("c", "ins")))
  }

  test("S9: first-write-wins — existing rows never updated") {
    val existing = Seq(("u1", "orig")).toDF("id_user", "v")
    val incoming = Seq(("u1", "CLOBBER"), ("u2", "new-a"), ("u2", "new-b"))
      .toDF("id_user", "v")
    val merged = Upsert.firstWriteWins(existing, incoming, "id_user",
        Seq(asc("v")))
      .orderBy("id_user").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merged == Seq(("u1", "orig"), ("u2", "new-a")))
  }

  test("SCD-2 temporal lookup matches each event to exactly one interval") {
    val ev = Tables.events(spark, sf0001)
    val purchases = ev.filter(col("event_type") === "purchase").count()
    val out = SparkEntry.queries("j8_scd2_lookup")(spark, sf0001)
    assert(out.count() === purchases)
    assert(out.select("event_id").distinct().count() === purchases)
  }

  test("SCD-2: changelog collapses runs, null-safe changes, chained intervals") {
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // key 1: a → a (collapse) → b → null → null (collapse) → a
    // key 2: single row stays open
    val log = Seq(
      (1L, ts(0), Option("a"), 10L), (1L, ts(1), Option("a"), 11L),
      (1L, ts(2), Option("b"), 12L), (1L, ts(3), None, 13L),
      (1L, ts(4), None, 14L), (1L, ts(5), Option("a"), 15L),
      (2L, ts(0), Option("x"), 20L))
      .toDF("k", "ts", "v", "seq")
    val h = Upsert.scd2FromChangelog(log, "k", "ts", "v", "seq")
      .orderBy("k", "valid_from")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
      .toSeq
    assert(h === Seq(
      (1L, Some("a"), ts(0), Some(ts(2)), false),
      (1L, Some("b"), ts(2), Some(ts(3)), false),
      (1L, None,      ts(3), Some(ts(5)), false),
      (1L, Some("a"), ts(5), None, true),
      (2L, Some("x"), ts(0), None, true)))
  }

  test("SCD-2 incremental merge ≡ full derivation, for every split point") {
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // key 1 changes across the boundary incl. a same-attr continuation
    // (b → b must extend, not reopen); key 2 is slice-only (new key);
    // key 3 is history-only (untouched by the merge)
    val log = Seq(
      (1L, ts(0), "a", 10L), (1L, ts(1), "b", 11L),
      (1L, ts(2), "b", 12L), (1L, ts(3), "c", 13L),
      (1L, ts(4), "c", 14L), (1L, ts(5), "a", 15L),
      (2L, ts(4), "x", 20L), (2L, ts(5), "y", 21L),
      (3L, ts(0), "z", 30L))
      .toDF("k", "ts", "v", "seq")
    val full = Upsert.scd2FromChangelog(log, "k", "ts", "v", "seq")
      .select("k", "seq", "v", "valid_from", "valid_to", "is_current")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k", "valid_from", "seq").collect().toSeq
    val expected = rows(full)
    for (splitMin <- 1L to 5L) {
      val cut = ts(splitMin)
      val hist = Upsert.scd2FromChangelog(log.filter($"ts" < cut),
          "k", "ts", "v", "seq")
        .select("k", "seq", "v", "valid_from", "valid_to", "is_current")
      val merged = Upsert.scd2MergeSlice(hist, log.filter($"ts" >= cut),
        "k", "ts", "v", "seq")
      assert(rows(merged) === expected, s"diverged at split minute $splitMin")
    }
  }

  test("SCD-2 merge rejects a slice overlapping existing history") {
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val log = Seq((1L, ts(0), "a", 10L), (1L, ts(2), "b", 11L))
      .toDF("k", "ts", "v", "seq")
    val hist = Upsert.scd2FromChangelog(log, "k", "ts", "v", "seq")
      .select("k", "seq", "v", "valid_from", "valid_to", "is_current")
    val stale = Seq((1L, ts(1), "c", 12L)).toDF("k", "ts", "v", "seq")
    val e = intercept[IllegalArgumentException] {
      Upsert.scd2MergeSlice(hist, stale, "k", "ts", "v", "seq")
    }
    assert(e.getMessage.contains("append-only"))
  }
}
