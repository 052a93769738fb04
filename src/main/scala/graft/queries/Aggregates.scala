package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Exact._

/** Aggregation / window / set-operation conformance queries:
  * SURVEY.md §2.5 (A1-A7), §2.6 (W1-W3, O1-O2, U1-U2).
  *
  * All grouped aggregates are two-phase (partial map-side combine +
  * final) hash aggregates — the shuffle carries only (key, partial
  * state), which is what keeps them viable at 100 TB.
  */
object Aggregates extends QueryModule {

  // ---- A3: run counters — added/updated/deleted tallies
  //      (get_games_from_tv.py:128-135, validate_tv_channel_games.py:
  //      172-190) as conditional counts in ONE pass over the data.
  private def a3ConditionalCounters(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
      count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
      count(when(col("o_orderstatus") === "P", 1)).as("n_pending"),
      count(lit(1)).as("n_total"))

  // ---- A4: distinct key-set from two columns (white ∪ black users,
  //      backfill_user_profiles.py:140-141) via explode — one shuffle
  //      for the distinct, no self-union double-scan.
  private def a4DistinctTwoCols(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(explode(array(col("l_suppkey"), col("l_partkey"))).as("key"))
      .distinct()
      .orderBy("key")

  // ---- A6: per-group run stats (batch size/min/max/avg,
  //      docs/CHANGELOG.md:13-15).
  private def a6RunStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        sumExact2(col("value")).as("sum_v"),
        avgExact2(col("value")).as("avg_v"))
      .orderBy("event_type")

  // ---- A7: rollup with grouping indicators.
  private def a7Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"),
        count(lit(1)).as("n"),
        sumExact2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  // ---- A7: cube.
  private def a7Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_prio"),
        count(lit(1)).as("n"))
      .orderBy(col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // ---- A7: exact distinct aggregation (two-phase distinct agg).
  private def a7CountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      count(lit(1)).as("n_rows"))

  // ---- A7: approximate distinct (HLL++). Engine-specific sketch, so
  //      no DuckDB oracle — the driver records a rows-only check; the
  //      ScalaTest suite asserts the estimate is within 5% of exact.
  private def a7ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"))

  // ---- A7: approximate percentiles (Greenwald-Khanna mergeable
  //      sketch — the distributed quantile path when an exact sort is
  //      off the table). Engine-specific sketch → rows-only driver
  //      check; AggregatesSpec pins the rank-error bound against the
  //      exact quantiles at this accuracy. The HASH-GREEN anchor for
  //      mergeable quantile mechanics is ops_incr_quantile
  //      ([[graft.ops.QuantileSketch]] — fixed-bucket histogram state,
  //      cross-engine-exact by construction); this entry keeps the
  //      adaptive GK form as the production dial.
  private def a7ApproxPercentile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.95)), lit(10000)).as("p"))
      .select(col("event_type"),
        col("p").getItem(0).as("p50_approx"),
        col("p").getItem(1).as("p95_approx"))
      .orderBy("event_type")

  // ---- A7 twin: the SAME p50/p95-per-event_type readout through the
  //      mergeable integer-histogram sketch
  //      ([[graft.ops.QuantileSketch]]) — cross-engine-exact by
  //      construction, so this is the HASH-GREEN anchor that pins the
  //      rows-only GK dial above to a provable quantile path on the
  //      same table and keys (RegistrySpec ties the two within one
  //      bucket width). W = 100 cents: est is within $1 above the
  //      exact percentile, state ≤ range/W rows per key.
  private def a7PercentileSketch(s: SparkSession, d: String): DataFrame =
    graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.summarize(
          Tables.events(s, d), Seq("event_type"), "value",
          widthCents = 100L),
        Seq("event_type"), pcts = Seq(50, 95), widthCents = 100L)
      .orderBy("event_type", "pct")

  // ---- W1: sessionization — the stateful record-boundary detection of
  //      the PGN stream (F1, get_games_from_tv.py:196-199) generalized:
  //      per-user sessions split on >1h inactivity gaps, assigned by a
  //      running sum over an ordered window (one shuffle on user_id).
  private def w1Sessionization(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("boundary",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > 3600L * 1000000L, 1)
        .otherwise(0))
      .groupBy("user_id")
      .agg(
        sum(col("boundary")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ---- W10: capped sessionization — the production sessionizer's
  //      SECOND rule: sessions close on an idle gap (24 h here) AND
  //      split when they exceed a max duration (24 h cap), so a
  //      never-idle user can't produce an unbounded session (state
  //      bound per key in the streaming form). Sub-session semantics
  //      are cap-aligned from the session start —
  //      floor((ts − sess_start)/cap) — a closed formula both engines
  //      compute identically (vs re-anchored splitting, which is
  //      iterative and engine-divergent). All three windows and the
  //      final aggregation share the user-keyed exchange; the
  //      (user, sess) sub-windows derive from the same sort order.
  private def w10CappedSessions(s: SparkSession, d: String): DataFrame = {
    val gapUs = 86400L * 1000000L
    val capUs = 86400L * 1000000L
    val e = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ws = Window.partitionBy("user_id", "sess")
    e.withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("boundary",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess", sum("boundary").over(w))
      .withColumn("sess_start_us", min("ts_us").over(ws))
      .withColumn("sub", // integer div: BIGINT in both engines
        expr(s"(ts_us - sess_start_us) div CAST($capUs AS BIGINT)"))
      .groupBy(col("user_id"), col("sess"), col("sub"))
      .agg(min("ts_us").as("sub_start_us"),
        max("ts_us").as("sub_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "sess", "sub")
  }

  /** Run the STREAMING capped sessionizer end-to-end once per
    * (session, dir): events in three global time-range deliveries
    * through a checkpointed `flatMapGroupsWithState` stream with an
    * event-time watermark ([[graft.streaming.CappedSessions]]), then a
    * per-user sentinel delivery past the horizon that closes every
    * open frame (the sentinel's own frames are never emitted — they
    * never close). Mid-stream event-time timeouts may close idle
    * frames earlier; the tombstone discipline keeps session NUMBERING
    * batch-equivalent, so the emitted set is identical either way and
    * the batch `w10_capped_sessions` oracle verifies it hash-for-hash
    * — the same stream≡batch proof shape as `pgn_stream_e2e`. */
  private def cappedStreamPath(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "w10_stream") { base =>
      import graft.streaming.CappedSessions
      val (src, cp, out) = (s"$base/src", s"$base/cp", s"$base/subs")
      val e = Tables.events(s, d)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
      val mm = e.agg(min("us"), max("us")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      // the first delivery pins the state-store count in the checkpoint,
      // so it is derived from that delivery's written source
      // (ScopedConf.streamPartitions)
      def deliver(df: DataFrame): Unit = {
        df.select("user_id", "ts").coalesce(1)
          .write.mode("append").parquet(src)
        val stream = s.readStream
          .schema("user_id LONG, ts TIMESTAMP").parquet(src)
        ScopedConf.withStreamPartitions(s, s.read.parquet(src)) {
          Fixture.await(CappedSessions
            .subSessions(CappedSessions.toEvents(stream), withTimeout = true)
            .toDF()
            .writeStream.option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out).start(),
            "w10_capped_sessions_stream")
        }
      }
      deliver(e.filter(col("us") <= c1))
      deliver(e.filter(col("us") > c1 && col("us") <= c2))
      deliver(e.filter(col("us") > c2))
      // sentinel flush: one far-future event per seen user
      deliver(e.select("user_id").distinct()
        .withColumn("ts", timestamp_micros(
          lit(hi + 3L * graft.streaming.CappedSessions.GapUs))))
      out
    }

  private def w10CappedSessionsStream(s: SparkSession, d: String): DataFrame =
    s.read.parquet(cappedStreamPath(s, d))
      .select(col("user_id"), col("sess"), col("sub"),
        col("sub_start_us"), col("sub_end_us"), col("n_events"))
      .orderBy("user_id", "sess", "sub")

  // ---- W3: analytic window functions — rank/dense_rank/ntile/lag/lead
  //      + a moving frame aggregate, per-customer order history.
  private def w3WindowAnalytics(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
        sum(dec4(col("o_totalprice")))
          .over(w.rowsBetween(-2, 0)).cast("double").as("moving_sum3"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- O1: deterministic cap (MAX_GAMES batch cap,
  //      get_games_from_tv.py:61,137-142): ordered limit, then verify
  //      the capped set by aggregate fingerprint.
  private def o1LimitCap(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy("o_orderdate", "o_orderkey")
      .limit(5000)
      .agg(
        count(lit(1)).as("n_capped"),
        max(col("o_orderkey")).as("max_key_in_cap"),
        to_date(max(col("o_orderdate"))).as("max_date_in_cap"))

  // ---- U2: intersect / except.
  private def u2Intersect(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  private def u2Except(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(col("n_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).filter(col("s_acctbal") > 5000.0)
        .select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  // ---- A7: explicit grouping sets (beyond rollup/cube).
  private def a7GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("__orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
                grouping(o_orderstatus) AS g_status,
                grouping(o_orderpriority) AS g_prio,
                count(*) AS n
         FROM __orders_gs
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio,
                  o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""")
  }

  // ---- A7: pivot — per-nation counts pivoted by order status. The
  //      oracle uses portable FILTER-ed counts (same result, no
  //      engine-specific PIVOT syntax).
  private def a7Pivot(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_nationkey")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .withColumnRenamed("F", "n_f")
      .withColumnRenamed("O", "n_o")
      .withColumnRenamed("P", "n_p")
      .orderBy("c_nationkey")
  }

  // ---- U2: multiset except (duplicates preserved).
  private def u2ExceptAll(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .exceptAll(Tables.supplier(s, d)
        .select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")

  // ---- A6: median (exact, linear interpolation — identical IEEE
  //      arithmetic in both engines on the same sorted doubles).
  private def a6Median(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        median(col("value")).as("median_v"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  // ---- A9: exact count-distinct under key skew — the aggregation
  //      map-side partials can't fix (a hot key's distinct SET must
  //      meet on one reducer). Salting by hash(value) keeps per-salt
  //      distinct sets disjoint, so summed partials are exact; result
  //      is identical to the plain form at any bucket count.
  private def a9SaltedCountDistinct(s: SparkSession, d: String): DataFrame =
    graft.ops.Skew.saltedCountDistinct(
        Tables.lineitem(s, d).select("l_returnflag", "l_partkey"),
        key = "l_returnflag", value = "l_partkey", buckets = 16)
      .orderBy("l_returnflag")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a9_salted_count_distinct" -> (a9SaltedCountDistinct _),
    "a7_grouping_sets"        -> (a7GroupingSets _),
    "a7_pivot"                -> (a7Pivot _),
    "u2_except_all"           -> (u2ExceptAll _),
    "a6_median"               -> (a6Median _),
    "a3_conditional_counters" -> (a3ConditionalCounters _),
    "a4_distinct_two_cols"    -> (a4DistinctTwoCols _),
    "a6_run_stats"            -> (a6RunStats _),
    "a7_rollup"               -> (a7Rollup _),
    "a7_cube"                 -> (a7Cube _),
    "a7_count_distinct"       -> (a7CountDistinct _),
    "a7_approx_distinct"      -> (a7ApproxDistinct _),
    "a7_approx_percentile"    -> (a7ApproxPercentile _),
    "a7_percentile_sketch"    -> (a7PercentileSketch _),
    "w1_sessionization"       -> (w1Sessionization _),
    "w10_capped_sessions"     -> (w10CappedSessions _),
    "w10_capped_sessions_stream" -> (w10CappedSessionsStream _),
    "w3_window_analytics"     -> (w3WindowAnalytics _),
    "o1_limit_cap"            -> (o1LimitCap _),
    "u2_intersect"            -> (u2Intersect _),
    "u2_except"               -> (u2Except _)
  )

  /** One SQL truth for BOTH capped-sessionization forms (batch window
    * query and streaming state machine) — shared verbatim so the two
    * entries cannot drift apart. */
  private val W10OracleSql: String =
    """WITH b AS (
           SELECT user_id, event_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
                    (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, event_id, ts_us,
                  CAST(SUM(CASE WHEN prev_us IS NULL
                                  OR ts_us - prev_us >
                                     CAST(86400000000 AS BIGINT)
                                THEN 1 ELSE 0 END) OVER
                    (PARTITION BY user_id
                     ORDER BY ts_us, event_id) AS BIGINT) AS sess
           FROM b),
         t AS (
           SELECT user_id, sess, ts_us,
                  (ts_us - min(ts_us) OVER (PARTITION BY user_id, sess))
                    // CAST(86400000000 AS BIGINT) AS sub
           FROM s)
         SELECT user_id, sess, sub,
                min(ts_us) AS sub_start_us,
                max(ts_us) AS sub_end_us,
                count(*) AS n_events
         FROM t
         GROUP BY user_id, sess, sub
         ORDER BY user_id, sess, sub"""

  /** The streaming sessionizer's one-time checkpointed run, benched as
    * an explicit build entry (build-once/read-many; see
    * [[QueryModule.benchBuilds]]). */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map("w10_stream_build" -> ((s, d) => { cappedStreamPath(s, d); () }))

  val oracles: Map[String, String] = Map(

    // the integer-histogram quantile chain, verbatim in SQL (same
    // shape as the ops_incr_quantile oracle; W = 100 cents)
    "a7_percentile_sketch" ->
      """WITH h AS (
           SELECT event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    // 100 AS bucket,
                  count(*) AS cnt
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT event_type, sum(cnt) AS n FROM h GROUP BY 1),
         cum AS (
           SELECT event_type, bucket,
                  sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
                    AS cum
           FROM h),
         p(pct) AS (VALUES (50), (95)),
         est AS (
           SELECT c.event_type, p.pct, min(c.bucket) AS bstar
           FROM cum c JOIN t USING (event_type) CROSS JOIN p
           WHERE c.cum * 100 >= t.n * p.pct
           GROUP BY 1, 2)
         SELECT event_type, pct, (bstar + 1) * 100 - 1 AS est_cents
         FROM est ORDER BY event_type, pct""",

    "a9_salted_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "a7_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                grouping(o_orderstatus) AS g_status,
                grouping(o_orderpriority) AS g_prio,
                count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio,
                  o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",

    "a7_pivot" ->
      """SELECT c_nationkey,
                count(*) FILTER (o_orderstatus = 'F') AS n_f,
                count(*) FILTER (o_orderstatus = 'O') AS n_o,
                count(*) FILTER (o_orderstatus = 'P') AS n_p
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "u2_except_all" ->
      """SELECT nationkey, count(*) AS n FROM (
           SELECT c_nationkey AS nationkey FROM customer
           EXCEPT ALL
           SELECT s_nationkey AS nationkey FROM supplier)
         GROUP BY nationkey ORDER BY nationkey""",

    "a6_median" ->
      """SELECT event_type,
                median(value) AS median_v,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "a3_conditional_counters" ->
      """SELECT count(CASE WHEN o_orderstatus='O' THEN 1 END) AS n_open,
                count(CASE WHEN o_orderstatus='F' THEN 1 END) AS n_finished,
                count(CASE WHEN o_orderstatus='P' THEN 1 END) AS n_pending,
                count(*) AS n_total
         FROM orders""",

    "a4_distinct_two_cols" ->
      """SELECT DISTINCT key FROM
           (SELECT l_suppkey AS key FROM lineitem
            UNION ALL SELECT l_partkey FROM lineitem)
         ORDER BY key""",

    "a6_run_stats" ->
      """SELECT event_type, count(*) AS n,
                min(value) AS min_v, max(value) AS max_v,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v
         FROM events GROUP BY event_type ORDER BY event_type""",

    "a7_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                grouping(l_returnflag) AS g_flag,
                grouping(l_linestatus) AS g_status,
                count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY g_flag, g_status,
                  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "a7_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                grouping(o_orderstatus) AS g_status,
                grouping(o_orderpriority) AS g_prio,
                count(*) AS n
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_prio,
                  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "a7_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(DISTINCT l_orderkey) AS n_orders,
                count(*) AS n_rows
         FROM lineitem""",

    "w10_capped_sessions" -> W10OracleSql,

    // the streaming twin emits the SAME closed-formula sub-sessions —
    // one oracle proves stream ≡ batch (pgn_stream_e2e pattern)
    "w10_capped_sessions_stream" -> W10OracleSql,

    "w1_sessionization" ->
      """SELECT user_id, CAST(SUM(boundary) AS BIGINT) AS n_sessions, count(*) AS n_events
         FROM (SELECT user_id,
                      CASE WHEN prev_us IS NULL
                             OR ts_us - prev_us > CAST(3600000000 AS BIGINT)
                           THEN 1 ELSE 0 END AS boundary
               FROM (SELECT user_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                            lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
                              (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
                     FROM events))
         GROUP BY user_id ORDER BY user_id""",

    "w3_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
                rank() OVER w AS rnk,
                dense_rank() OVER w AS drnk,
                ntile(4) OVER w AS quartile,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_orderkey, 1) OVER w AS next_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
                  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "o1_limit_cap" ->
      """SELECT count(*) AS n_capped,
                max(o_orderkey) AS max_key_in_cap,
                CAST(max(o_orderdate) AS DATE) AS max_date_in_cap
         FROM (SELECT * FROM orders
               ORDER BY o_orderdate, o_orderkey LIMIT 5000)""",

    "u2_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey AS nationkey FROM supplier
         ORDER BY nationkey""",

    "u2_except" ->
      """SELECT n_nationkey AS nationkey FROM nation
         EXCEPT
         SELECT s_nationkey AS nationkey FROM supplier
         WHERE s_acctbal > 5000.0
         ORDER BY nationkey"""
  )
}
