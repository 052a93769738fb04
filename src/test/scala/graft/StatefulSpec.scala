package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout
import graft.streaming.{CappedSessions, StatefulSessions}
import graft.streaming.StatefulSessions.{ClosedSession, Event}

/** Custom keyed state (flatMapGroupsWithState) and physical layout. */
class StatefulSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("flatMapGroupsWithState sessions ≡ session_window (closed ∪ open)") {
    val evs = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Event].cache()

    val viaState = StatefulSessions.closedSessions(evs).collect().toSet ++
      StatefulSessions.openSessionTails(spark, evs).collect().toSet

    val viaBuiltin = Tables.events(spark, sf0001)
      .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, e, n) => ClosedSession(u, s, e, n) }.toSet

    assert(viaState == viaBuiltin)
  }

  test("timeout branch: idle session emitted and state cleared") {
    import org.apache.spark.sql.streaming.TestGroupState
    val open = TestGroupState.create[StatefulSessions.SessionState](
      optionalState = org.apache.spark.api.java.Optional.of(StatefulSessions.SessionState(1000L, 2000L, 5L)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = StatefulSessions.updateUser(withTimeout = true)(
      7L, Iterator.empty, open).toSeq
    assert(out == Seq(StatefulSessions.ClosedSession(
      7L, 1000L, 2000L + StatefulSessions.GapUs, 5L)))
    assert(open.isRemoved)
  }

  test("update branch: events extend state and arm the timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[StatefulSessions.SessionState](
      optionalState = org.apache.spark.api.java.Optional.empty[StatefulSessions.SessionState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = StatefulSessions.updateUser(withTimeout = true)(
      7L, Iterator(Event(7L, 100L), Event(7L, 200L)), st).toSeq
    assert(out.isEmpty)
    assert(st.get == StatefulSessions.SessionState(100L, 200L, 2L))
    assert(st.getTimeoutTimestampMs.isPresent)
  }

  test("w10 capped sessionization: streaming twin ≡ batch (same rows)") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    val batch = rows("w10_capped_sessions")
    val stream = rows("w10_capped_sessions_stream")
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("capped state machine: gap split, cap split, tombstone numbering") {
    import graft.streaming.CappedSessions.{Frame, SubRow, GapUs, CapUs, updateUser}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    def mk(st: Option[Frame], timedOut: Boolean) =
      TestGroupState.create[Frame](
        optionalState = st.map(Optional.of[Frame])
          .getOrElse(Optional.empty[Frame]()),
        // hasTimedOut=true requires a timeout conf; the twin runs
        // under EventTimeTimeout (watermarked input) in streams
        timeoutConf = org.apache.spark.sql.streaming
          .GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 10000L,
        eventTimeWatermarkMs = Optional.of[Long](0L),
        hasTimedOut = timedOut)
    val gap = GapUs
    // two events 1h apart, then a cap-boundary crossing within session
    val st1 = mk(None, timedOut = false)
    val out1 = updateUser(withTimeout = false)(5L, Iterator(
      CappedSessions.Event(5L, null, 0L), CappedSessions.Event(5L, null, 3600L * 1000000L),
      CappedSessions.Event(5L, null, CapUs + 1L)), st1).toSeq
    assert(out1 == Seq(SubRow(5L, 1L, 0L, 0L, 3600L * 1000000L, 2L)))
    assert(st1.get.sub == 1L && st1.get.n == 1L)
    // gap-exceeding event: closes sub 1 of sess 1, opens sess 2
    val st2 = mk(Some(st1.get), timedOut = false)
    val out2 = updateUser(withTimeout = false)(5L, Iterator(
      CappedSessions.Event(5L, null, CapUs + 1L + gap + 1L)), st2).toSeq
    assert(out2 == Seq(SubRow(5L, 1L, 1L, CapUs + 1L, CapUs + 1L, 1L)))
    assert(st2.get.sess == 2L)
    // timeout path: emits the open frame, leaves a tombstone that
    // preserves numbering for the next session
    val st3 = mk(Some(st2.get), timedOut = true)
    val out3 = updateUser(withTimeout = true)(5L, Iterator.empty, st3).toSeq
    assert(out3.map(_.sess) == Seq(2L))
    assert(st3.get.n == 0L)
    val st4 = mk(Some(st3.get), timedOut = false)
    val out4 = updateUser(withTimeout = false)(5L, Iterator(
      CappedSessions.Event(5L, null, CapUs + 20L * gap)), st4).toSeq
    assert(out4.isEmpty)         // tombstone re-close emits nothing
    assert(st4.get.sess == 3L)   // numbering continued, not reset
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val dir = TestSpark.tempDir("layout").toString
    val games = Seq(
      ("g1", java.sql.Date.valueOf("2025-01-01")),
      ("g2", java.sql.Date.valueOf("2025-01-02")),
      ("g3", java.sql.Date.valueOf("2025-01-03")),
      ("g4", null.asInstanceOf[java.sql.Date]))
      .toDF("id_game", "dt_game")
    Layout.writePartitionedByDate(games, dir)

    // physical layout: one directory per date + the null bucket
    val parts = new java.io.File(dir).list().filter(_.startsWith("dt_part="))
    assert(parts.toSet == Set("dt_part=2025-01-01", "dt_part=2025-01-02",
      "dt_part=2025-01-03", "dt_part=unknown"))

    val pruned = Layout.scanDateRange(spark, dir, "2025-01-02", "2025-01-03")
    assert(pruned.select("id_game").as[String].collect().toSet ==
      Set("g2", "g3"))
    // the filter must be a partition filter, not a data filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dt_part"))
  }
}
