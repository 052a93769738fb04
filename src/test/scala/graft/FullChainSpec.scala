package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Cleaning, Enrich, Normalize, Upsert}
import graft.pgn.PgnParser

/** SURVEY.md §5.4 golden end-to-end: fixture PGN → parse → normalize →
  * clean → upsert → enrich (profiles via the partitioned lookup seam,
  * flag update, opening backfill) — the complete reference pipeline in
  * one chain, asserting the final table states.
  */
class FullChainSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val corpus =
    """[Site "https://lichess.org/game0001"]
      |[White "alice"]
      |[Black "bob"]
      |[Result "1-0"]
      |[WhiteElo "2400"]
      |[BlackElo "2350"]
      |[ECO "C20"]
      |[Opening "King's Pawn Game"]
      |[Termination "Normal"]
      |1. e4 e5 1-0
      |
      |[Site "https://lichess.org/game0002"]
      |[White "carol"]
      |[Black "alice"]
      |[Result "0-1"]
      |[ECO "?"]
      |[Termination "Time forfeit"]
      |1. d4 d5 0-1
      |
      |[Site "https://lichess.org/game0003"]
      |[White "dave"]
      |[Black ""]
      |[Result "1-0"]
      |1. c4 1-0
      |
      |[Site "https://lichess.org/game0001"]
      |[White "alice"]
      |[Black "bob_rematch"]
      |[Result "1/2-1/2"]
      |[Termination "Normal"]
      |1. e4 e5 1/2-1/2
      |""".stripMargin

  test("full chain: parse → normalize → clean → upsert → enrich") {
    // --- ingest (F1-F8): re-streamed game0001 must last-write-win
    val games = corpus.split("\n").toSeq.zipWithIndex.toDF("line", "line_no")
      .withColumn("src_file", lit("corpus.pgn"))
    val parsed = PgnParser.parseLines(games)
    // PGN re-delivery within one batch: later block wins (A1). The
    // delivery order is game_idx from the parser — a REAL order, not a
    // partition-dependent id.
    val normalized = Normalize.buildGameData(parsed,
      ingestedAt = lit("2025-06-01 00:00:00").cast("timestamp"),
      keepCols = Seq("game_idx"))
    assert(normalized.count() == 4)
    val upserted = Upsert.lastWriteWins(normalized.limit(0), normalized,
      "id_game", Seq(desc("game_idx"))).drop("game_idx")
    assert(upserted.count() == 3)
    assert(upserted.filter(col("id_game") === "game0001")
      .select("id_user_black").as[String].head() == "bob_rematch")

    // --- clean (P1-P4, F10-F15): the black-less game is rejected
    val res = Cleaning.validateAndClean(upserted,
      validatedAt = lit("2025-06-01 01:00:00").cast("timestamp"))
    assert(res.rejected.select("id_game").as[String].collect().toSet ==
      Set("game0003"))
    val cleaned = res.cleaned
    assert(cleaned.filter(col("id_game") === "game0002")
      .select("val_termination").as[String].head() == "TIME_FORFEIT")

    // --- profile enrichment (S6, F13/F14, S9, J2) via the partitioned
    //     lookup seam with a fake per-partition client
    val users = Enrich.distinctUsers(cleaned)
    assert(users.as[String].collect().toSet ==
      Set("alice", "bob_rematch", "carol"))
    val fakeClient: () => String => Option[String] = () => {
      case "alice" => Some("""{"id":"alice","username":"Alice","perfs":{"bullet":{"rating":2700}},"count":{"win":10}}""")
      case "carol" => Some("""{"id":"carol","username":"Carol","profile":{"location":"<null>"}}""")
      case _       => None   // bob_rematch: lookup fails → no profile
    }
    val bodies = Enrich.lookupPartitioned(users, fakeClient)
    val profiles = Enrich.flattenProfiles(bodies)
    val existingUsers = profiles.limit(0)
    val userTable = Upsert.firstWriteWins(existingUsers, profiles,
      "id_user", Seq(asc("id_user")))
    assert(userTable.count() == 2)
    assert(userTable.filter(col("id_user") === "alice")
      .select("val_rating_bullet").as[java.lang.Integer].head() == 2700)
    assert(userTable.filter(col("id_user") === "carol")
      .select("val_location").as[String].head() == null)

    // --- J2 flag update: games touching a profiled user get flagged
    val flagged = Enrich.markProfileDone(cleaned, userTable)
    val flags = flagged.select("id_game", "ind_profile_updated")
      .as[(String, Boolean)].collect().toMap
    assert(flags == Map("game0001" -> true, "game0002" -> true))

    // --- opening backfill (S5/S7/F9/S8): game0002 is eco-less; the
    //     rematch overwrite left game0001 without elos, so P5 selects
    //     both (reference semantics — overwrite loses enrichment)
    val toFix = Enrich.unenrichedGames(flagged)
    assert(toFix.as[String].collect().toSet == Set("game0001", "game0002"))
    val export = Seq(("game0002",
      "[ECO \"D00\"]\n[Opening \"Queen's Pawn Game\"]\n[WhiteElo \"2100\"]\n[BlackElo \"2050\"]\n1. d4 d5"))
      .toDF("id_game", "pgn_text")
    val backfilled = Enrich.applyOpeningBackfill(flagged,
      Enrich.scrapeTags(export))
    val g2 = backfilled.filter(col("id_game") === "game0002").head()
    assert(g2.getAs[String]("val_opening_eco_code") == "D00")
    assert(g2.getAs[String]("val_opening_name") == "Queen's Pawn Game")
    assert(g2.getAs[Int]("val_elo_white") == 2100)
    // game0001's export fetch returned nothing → untouched: still the
    // empty-string default its overwriting re-stream left behind
    assert(backfilled.filter(col("id_game") === "game0001")
      .select("val_opening_eco_code").as[String].head() == "")
  }
}
