package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcSink

/** JDBC merge-sink semantics against embedded Derby (the jars ship
  * with Spark): last-write-wins upsert, first-write-wins insert,
  * idempotent re-runs, and a read-back through spark.read.jdbc.
  */
class JdbcSinkSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def withTable(name: String)(body: => Unit): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $name") catch { case _: Exception => () }
      st.execute(
        s"CREATE TABLE $name (id_game VARCHAR(32) PRIMARY KEY, " +
          "elo INT, term VARCHAR(32), seq BIGINT)")
      st.close()
    } finally conn.close()
    body
  }

  private def readBack(name: String): Map[String, (Int, String, Long)] = {
    val props = new java.util.Properties()
    spark.read.jdbc(url, name, props).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2), r.getLong(3))))
      .toMap
  }

  test("upsert is last-write-wins and idempotent") {
    withTable("games_sink") {
      val batch1 = Seq(
        ("g1", 1500, "NORMAL", 1L),
        ("g2", 1600, "NORMAL", 2L)).toDF("id_game", "elo", "term", "seq")
      JdbcSink.upsert(batch1, "id_game", Seq(desc("seq")), url, "games_sink")
      assert(readBack("games_sink") === Map(
        "g1" -> ((1500, "NORMAL", 1L)), "g2" -> ((1600, "NORMAL", 2L))))

      // overlapping keys + an in-batch duplicate: highest seq must win
      val batch2 = Seq(
        ("g2", 1650, "TIME_FORFEIT", 3L),
        ("g2", 9999, "STALE", 2L),
        ("g3", 1700, "RESIGNED", 4L)).toDF("id_game", "elo", "term", "seq")
      JdbcSink.upsert(batch2, "id_game", Seq(desc("seq")), url, "games_sink")
      val expected = Map(
        "g1" -> ((1500, "NORMAL", 1L)),
        "g2" -> ((1650, "TIME_FORFEIT", 3L)),
        "g3" -> ((1700, "RESIGNED", 4L)))
      assert(readBack("games_sink") === expected)

      // crash-safety: re-running the same batch converges to the same state
      JdbcSink.upsert(batch2, "id_game", Seq(desc("seq")), url, "games_sink")
      assert(readBack("games_sink") === expected)
    }
  }

  test("versionCol guard keeps upsert monotone when an older batch replays") {
    withTable("replay_sink") {
      val newer = Seq(("g1", 1650, "TIME_FORFEIT", 5L))
        .toDF("id_game", "elo", "term", "seq")
      val older = Seq(("g1", 1500, "NORMAL", 3L))
        .toDF("id_game", "elo", "term", "seq")
      JdbcSink.upsert(newer, "id_game", Seq(desc("seq")), url, "replay_sink",
        versionCol = Some("seq"))
      // crash-recovery replay of a batch that had already been superseded
      JdbcSink.upsert(older, "id_game", Seq(desc("seq")), url, "replay_sink",
        versionCol = Some("seq"))
      assert(readBack("replay_sink") ===
        Map("g1" -> ((1650, "TIME_FORFEIT", 5L))))
      // and the guard still lets genuinely newer data through
      val newest = Seq(("g1", 1700, "RESIGNED", 7L))
        .toDF("id_game", "elo", "term", "seq")
      JdbcSink.upsert(newest, "id_game", Seq(desc("seq")), url, "replay_sink",
        versionCol = Some("seq"))
      assert(readBack("replay_sink") ===
        Map("g1" -> ((1700, "RESIGNED", 7L))))
    }
  }

  test("insertIfAbsent never updates existing rows") {
    withTable("users_sink") {
      val batch1 = Seq(("u1", 1500, "first", 1L))
        .toDF("id_game", "elo", "term", "seq")
      JdbcSink.insertIfAbsent(batch1, "id_game", Seq(asc("seq")),
        url, "users_sink")

      val batch2 = Seq(
        ("u1", 9999, "overwrite-attempt", 2L),
        ("u2", 1600, "second", 3L)).toDF("id_game", "elo", "term", "seq")
      JdbcSink.insertIfAbsent(batch2, "id_game", Seq(asc("seq")),
        url, "users_sink")
      val expected = Map(
        "u1" -> ((1500, "first", 1L)), "u2" -> ((1600, "second", 3L)))
      assert(readBack("users_sink") === expected)

      // idempotent re-run
      JdbcSink.insertIfAbsent(batch2, "id_game", Seq(asc("seq")),
        url, "users_sink")
      assert(readBack("users_sink") === expected)
    }
  }

  test("upsert agrees with the in-engine Upsert.lastWriteWins merge") {
    withTable("parity_sink") {
      val existing = Seq(("g1", 1500, "NORMAL", 1L), ("g2", 1600, "NORMAL", 2L))
        .toDF("id_game", "elo", "term", "seq")
      val incoming = Seq(("g2", 1650, "TIME_FORFEIT", 3L),
        ("g3", 1700, "RESIGNED", 4L)).toDF("id_game", "elo", "term", "seq")
      JdbcSink.upsert(existing, "id_game", Seq(desc("seq")), url, "parity_sink")
      JdbcSink.upsert(incoming, "id_game", Seq(desc("seq")), url, "parity_sink")

      val inEngine = graft.ops.Upsert
        .lastWriteWins(existing, incoming, "id_game", Seq(desc("seq")))
        .as[(String, Int, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(readBack("parity_sink") === inEngine)
    }
  }
}
