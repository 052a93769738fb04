package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Enrich

/** Enrichment tests — fixtures from FIXTURES.md A3/A4. */
class EnrichSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val profileJson =
    """{"id":"alice_gm","username":"Alice_GM","patron":true,"streaming":false,
       |"createdAt":1290415680000,"seenAt":1746120000000,
       |"profile":{"title":"GM","url":"https://lichess.org/@/alice_gm",
       |"realName":"Alice A.","location":"<null>","bio":"","fideRating":2500,
       |"uscfRating":null,"flag":"NO"},
       |"perfs":{"bullet":{"rating":2700},"blitz":{"rating":2650},
       |"classical":{"rating":2500},"rapid":{"rating":2600},
       |"chess960":{"rating":2450},"ultraBullet":{"rating":2720}},
       |"playTime":{"total":3600000,"tv":120000},
       |"count":{"all":5000,"rated":4200,"win":2600,"loss":1800,"draw":600}}
       |""".stripMargin.replaceAll("\n", "")

  test("F14 + F13: profile JSON flattening with sentinel cleaning") {
    val df = Seq(("alice_gm", profileJson),
      ("noid", """{"username":"ghost"}"""))
      .toDF("id_user", "json")
    val users = Enrich.flattenProfiles(df).collect()
    assert(users.length == 1)                  // no-id row dropped (P7)
    val u = users.head
    assert(u.getAs[String]("id_user") == "alice_gm")
    assert(u.getAs[String]("val_title") == "GM")
    assert(u.getAs[String]("val_location") == null)   // "<null>" sentinel
    assert(u.getAs[String]("val_bio") == null)        // "" sentinel
    assert(u.getAs[Int]("val_rating_fide") == 2500)
    assert(u.isNullAt(u.fieldIndex("val_rating_uscf")))
    assert(u.getAs[Int]("val_rating_ultra_bullet") == 2720)
    assert(u.getAs[Long]("tm_created") == 1290415680000L)
    assert(u.getAs[Int]("n_games_win") == 2600)
    assert(u.getAs[Boolean]("ind_patron"))
    assert(!u.getAs[Boolean]("ind_streaming"))
  }

  test("J2: disjunctive-key flag update via explode + semi-join") {
    val games = Seq(
      ("g1", "alice", "bob", false),
      ("g2", "carol", "alice", false),
      ("g3", "dave", "erin", false))
      .toDF("id_game", "id_user_white", "id_user_black", "ind_profile_updated")
    val done = Seq("alice").toDF("id_user")
    val flagged = Enrich.markProfileDone(games, done)
      .orderBy("id_game")
      .collect().map(r => r.getAs[String]("id_game") ->
        r.getAs[Boolean]("ind_profile_updated")).toMap
    assert(flagged == Map("g1" -> true, "g2" -> true, "g3" -> false))
  }

  test("A4: distinct user extraction skips falsy keys") {
    val games = Seq(("g1", "alice", ""), ("g2", "bob", "alice"))
      .toDF("id_game", "id_user_white", "id_user_black")
    val users = Enrich.distinctUsers(games).as[String].collect().sorted
    assert(users.toSeq == Seq("alice", "bob"))
  }

  test("P6: distinctUsers without force skips games whose profiles are updated") {
    val games = Seq(
      ("g1", "alice", "bob", true),    // profiles done: skipped
      ("g2", "carol", "alice", false),
      ("g3", "dave", "bob", true))     // profiles done: skipped
      .toDF("id_game", "id_user_white", "id_user_black",
        "ind_profile_updated")
    def users(force: Boolean) = Enrich.distinctUsers(games, force)
      .as[String].collect().sorted.toSeq
    assert(users(force = false) == Seq("alice", "carol"))
    assert(users(force = true) == Seq("alice", "bob", "carol", "dave"))
  }

  test("F9 + S8: opening tag scrape and conditional backfill") {
    val exports = Seq(
      ("g1", "[ECO \"C20\"]\n[Opening \"King's Pawn Game\"]\n[WhiteElo \"2400\"]\n[BlackElo \"2300\"]\n1. e4"),
      ("g2", "[ECO \"A00\"]\n1. a3"),          // missing Opening → skipped
      ("g3", "no tags at all"))
      .toDF("id_game", "pgn_text")
    val scraped = Enrich.scrapeTags(exports)
    val s = scraped.orderBy("id_game").collect()
    assert(s(0).getAs[String]("eco") == "C20")
    assert(s(0).getAs[Int]("elo_white") == 2400)
    assert(s(1).getAs[String]("opening") == null)
    assert(s(2).getAs[String]("eco") == null)

    val games = Seq(
      ("g1", null: String, null: String, null: Integer, null: Integer),
      ("g2", "B99", "Old Name", new Integer(1), new Integer(2)),
      ("g3", null: String, null: String, null: Integer, null: Integer))
      .toDF("id_game", "val_opening_eco_code", "val_opening_name",
        "val_elo_white", "val_elo_black")
    val applied = Enrich.applyOpeningBackfill(games, scraped)
      .orderBy("id_game").collect()
    assert(applied(0).getAs[String]("val_opening_eco_code") == "C20")
    assert(applied(0).getAs[Int]("val_elo_white") == 2400)
    // g2: scrape incomplete → untouched
    assert(applied(1).getAs[String]("val_opening_eco_code") == "B99")
    assert(applied(1).getAs[Int]("val_elo_white") == 1)
    assert(applied(2).getAs[String]("val_opening_eco_code") == null)
  }
}
