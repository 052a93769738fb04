package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Layout
import graft.sources.{Bucketing, TextFormats}

/** Registry proof for the write-time layout levers (VERDICT r4 §missing
  * item 3): partition pruning and bucketed exchange-free joins are
  * exercised END-TO-END — write the laid-out data, read it back through
  * the lever, and hash-check the rows against a DuckDB oracle computed
  * straight from the source tables. The PLAN-shape guarantees
  * (`PartitionFilters` non-empty, no shuffle Exchange on either join
  * side) are asserted in LayoutSpec; PLANS.md documents both.
  *
  * Write targets are [[Fixture.dir]] directories, written once per
  * (session, dir) — a Verify or Bench run pays one layout write, like a
  * real pipeline pays its write once and prunes forever after.
  */
object LayoutOps extends QueryModule {

  /** Date-partitioned cleaned games, written once per (session, dir). */
  private def partitionedGamesPath(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "layout_partitioned") { base =>
      val path = s"$base/games"
      Layout.writePartitionedByDate(ChessPipeline.cleanedGames(s, d), path)
      path
    }

  // Three-day slice out of the nine synthesized game dates: the scan
  // must list only 3 of 9+ partition directories (LayoutSpec pins
  // PartitionFilters + the pruned-partition count on this exact plan).
  private def layoutPartitionPrune(s: SparkSession, d: String): DataFrame =
    Layout.scanDateRange(s, partitionedGamesPath(s, d),
        "2025-05-02", "2025-05-04")
      .select("id_game", "dt_part", "val_result", "val_elo_white")
      .orderBy("id_game")

  /** Bucketed customer/orders tables, written once per (session, dir).
    * Returns the two catalog table names. */
  private[queries] def bucketedTables(s: SparkSession, d: String)
      : (String, String) =
    Fixture.dir(s, d, "layout_bucketed") { base =>
      val h = java.lang.Integer.toHexString(d.hashCode)
      val (ct, ot) = (s"graft_bkt_customer_$h", s"graft_bkt_orders_$h")
      Bucketing.writeBucketed(
        graft.Tables.customer(s, d).select("c_custkey", "c_name"),
        ct, s"$base/cust", "c_custkey", buckets = 8)
      Bucketing.writeBucketed(
        graft.Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, s"$base/ord", "o_custkey", buckets = 8)
      (ct, ot)
    }

  // Per-customer order rollup over the BUCKETED tables: both sides are
  // bucketed (and bucket-sorted) on the join key with equal bucket
  // counts, so the sort-merge join AND the post-join aggregation are
  // satisfied by the on-disk layout — zero shuffle Exchanges at any
  // size (LayoutSpec pins the plan with broadcast disabled). Sum goes
  // through exact decimal (QueryModule contract) so the oracle matches
  // bit-for-bit.
  private def layoutBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ct, ot) = bucketedTables(s, d)
    val c = Bucketing.read(s, ct)
    val o = Bucketing.read(s, ot)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumExact4(col("o_totalprice")).as("total_spent"))
      .orderBy("c_custkey")
  }

  // Interchange-format round trips: events (timestamps at µs, doubles,
  // JSON-with-quotes in props — the awkward cases) written through the
  // text source and read back under schema-on-read; the oracle reads
  // the ORIGINAL parquet, so hash equality proves write∘read = id.
  private def srcJsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val path = Fixture.dir(s, d, "src_jsonl") { base =>
      val p = s"$base/jsonl"
      TextFormats.writeJsonl(ev, p); p
    }
    TextFormats.readJsonl(s, path, ev.schema).orderBy("event_id")
  }

  private def srcCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val path = Fixture.dir(s, d, "src_csv") { base =>
      val p = s"$base/csv"
      TextFormats.writeCsv(ev, p); p
    }
    TextFormats.readCsv(s, path, ev.schema).orderBy("event_id")
  }

  private def srcOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val path = Fixture.dir(s, d, "src_orc") { base =>
      val p = s"$base/orc"
      TextFormats.writeOrc(ev, p); p
    }
    TextFormats.readOrc(s, path, ev.schema).orderBy("event_id")
  }

  /** Orders written z-clustered on (custkey, orderkey), once per
    * (session, dir). LayoutSpec pins the locality property (per-
    * partition bounding boxes ≪ the table's extent on BOTH axes). */
  private def zorderedOrdersPath(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "layout_zorder") { base =>
      val path = s"$base/zord"
      graft.Tables.orders(s, d)
        .withColumn("z", graft.functions.ZOrder.zValue(
          col("o_custkey"), col("o_orderkey")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(path)
      path
    }

  // 2-D box query over the z-clustered layout: the round trip is
  // hash-checked (oracle computes the same z arithmetic straight from
  // the source table); the pruning value of the layout is the spec's
  // bounding-box assertion, same split as layout_bucketed_join.
  private def layoutZorderScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(zorderedOrdersPath(s, d))
      .filter(col("o_custkey").between(100, 300) &&
        col("o_orderkey").between(1000, 8000))
      .select("o_orderkey", "o_custkey", "o_totalprice", "z")
      .orderBy("o_orderkey")

  // Fragment events into 50 small files, compact back to target-sized
  // files, read the compacted set: the oracle reads the ORIGINAL
  // parquet, so hash equality proves compaction is content-preserving.
  // (File-count arithmetic is pinned in LayoutSpec.)
  private def compactedEventsPath(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "layout_compact") { base =>
      val (frag, comp) = (s"$base/frag", s"$base/comp")
      graft.Tables.events(s, d).repartition(50)
        .write.mode("overwrite").parquet(frag)
      Layout.compact(s, frag, comp)
      comp
    }

  private def layoutCompact(s: SparkSession, d: String): DataFrame =
    s.read.parquet(compactedEventsPath(s, d)).orderBy("event_id")

  /** Two schema GENERATIONS of the same logical table, side by side:
    * gen0 is an early producer (int32 l_orderkey, float32 l_quantity —
    * every value exactly representable: keys ≤ 150k, quantities are
    * integers 1..50), gen1 the current wide types. Spark's own
    * mergeSchema refuses int↔long / float↔double footer merges
    * (pinned in SchemaContractSpec), so this is the drift case a real
    * multi-year table hits. Written once per (session, dir). */
  private def schemaGenerationsPath(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "layout_schema_evo") { root =>
      val base = graft.Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      // gen0 narrows l_orderkey to int32; guard the fixture against a
      // scale factor whose keys overflow int32 (the cast is non-ANSI
      // and would wrap silently, corrupting the fixture).
      val maxKey = base.agg(max("l_orderkey")).head().getLong(0)
      require(maxKey <= Int.MaxValue,
        s"layout_schema_evo: max l_orderkey $maxKey exceeds int32; " +
          "gen0 narrow cast would wrap")
      base.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey").cast("int").as("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast("float").as("l_quantity"),
          col("l_returnflag"))
        .write.mode("overwrite").parquet(s"$root/gen0")
      base.filter(col("l_orderkey") % 2 =!= 0)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("bigint").as("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").parquet(s"$root/gen1")
      root
    }

  // Mixed-generation read through the declared contract: each
  // generation scans with its own footer schema, widens inside the
  // scan projection, unions. The oracle reads the ORIGINAL lineitem,
  // so hash equality proves the evolution read loses nothing.
  private def opsSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val root = schemaGenerationsPath(s, d)
    val contract = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_linenumber",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_quantity",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType)))
    graft.ops.SchemaContract.readParquetConformed(s, contract,
        strict = true, s"$root/gen0", s"$root/gen1")
      .filter(col("l_returnflag") === "A")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Events exported in global (ts, event_id) order via range shards,
    * written once per (session, dir). */
  private[graft] def rangeSortedEventsPath(s: SparkSession, d: String)
      : String =
    Fixture.dir(s, d, "layout_range_sorted") { base =>
      val path = s"$base/rsort"
      graft.ops.Export.writeRangeSorted(
        graft.Tables.events(s, d), Seq("ts", "event_id"), 8, path)
      path
    }

  // Read the range-sorted export back: the oracle reads the ORIGINAL
  // parquet, so hash equality proves the ordered export is lossless;
  // the ORDER guarantees (per-file sorted, cross-file disjoint ranges,
  // concatenation = total order) are pinned in LayoutSpec — same
  // split as layout_zorder_scan.
  private def exportRangeSorted(s: SparkSession, d: String): DataFrame =
    s.read.parquet(rangeSortedEventsPath(s, d))
      .orderBy("ts", "event_id")

  // ---- Incremental aggregate maintenance -------------------------
  // The materialized-rollup shape: per-customer order summaries kept
  // current by merging batch partials, never rescanning history. The
  // registry entry folds THREE delta batches (o_orderkey mod 3) and
  // hash-proves the fold against a full DuckDB recompute — the
  // algebraic claim (merge ∘ summarize ≡ summarize ∘ union) made
  // concrete on real data. See [[graft.ops.IncrementalAgg]] for the
  // 100 TB shape (delta-only cost, bucketed state).
  private def opsIncrAgg(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val keys = Seq("o_custkey")
    val states = (0 until 3).map(i =>
      graft.ops.IncrementalAgg.summarize(
        o.filter(pmod(col("o_orderkey"), lit(3)) === i),
        keys, "o_totalprice", "o_orderdate"))
    graft.ops.IncrementalAgg.finalizeView(
        graft.ops.IncrementalAgg.mergeAll(states, keys))
      .orderBy("o_custkey")
  }

  /** Fold three slices of `df`, cut at the timestamps `c1` < `c2` on
    * `tsCol`, into `base/state` through `apply` with monotone batch ids
    * 0, 1, 2, then REPLAY batch 1, which must be a no-op (the batch-id
    * idempotence protocol — a double-counted replay would hash-mismatch
    * the oracle). The batches run at data-derived state partitioning
    * (the ScopedConf.streamPartitions rationale). Returns the state
    * path. */
  private def slicedReplay(s: SparkSession, df: DataFrame, tsCol: String,
      c1: String, c2: String, base: String, name: String)
      (apply: (DataFrame, Long, String) => Boolean): String = {
    val dir = s"$base/state"
    val (t1, t2) = (to_timestamp(lit(c1)), to_timestamp(lit(c2)))
    val slices = Seq(
      df.filter(col(tsCol) < t1),
      df.filter(col(tsCol) >= t1 && col(tsCol) < t2),
      df.filter(col(tsCol) >= t2))
    val replayed = ScopedConf.withStreamPartitions(s, df) {
      slices.zipWithIndex.foreach { case (sl, i) => apply(sl, i.toLong, dir) }
      // replay of an already-applied id: must be skipped entirely
      apply(slices(1), 1L, dir)
    }
    require(!replayed, s"$name: replay was not skipped")
    dir
  }

  /** The STREAMED rollup state: three order slices (by date) delivered
    * through [[graft.streaming.IncrementalAggStream.applyBatch]] plus
    * the replay of batch 1 ([[slicedReplay]]). Built once per
    * (session, dir). */
  private def incrAggStreamTable(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "incr_agg_stream") { base =>
      slicedReplay(s, graft.Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
        "o_orderdate", "1994-01-01 00:00:00", "1996-01-01 00:00:00",
        base, "ops_incr_agg_stream") { (sl, id, dir) =>
        graft.streaming.IncrementalAggStream.applyBatch(sl, id, dir,
          Seq("o_custkey"), "o_totalprice", "o_orderdate")
      }
    }

  private def opsIncrAggStream(s: SparkSession, d: String): DataFrame =
    graft.ops.IncrementalAgg.finalizeView(
        s.read.parquet(incrAggStreamTable(s, d)))
      .orderBy("o_custkey")

  // Incremental DISTINCT-count maintenance: per-key Datasketches HLL
  // state built per batch, merged by hll_union_agg — count-distinct is
  // the aggregate plain partials CANNOT maintain (a key's distinct set
  // must be seen whole), and the mergeable sketch is the standard
  // warehouse answer. Hash-green against exact COUNT(DISTINCT):
  // the sketch stays in sparse mode at this cardinality (5 priorities
  // ≪ 2^lgK), where Datasketches HLL is EXACT by construction — the
  // entry hash-proves the MERGE ALGEBRA (3-batch fold ≡ recompute),
  // not an approximation; at high cardinality the same plan returns
  // estimates with the documented ~1.6%/√(2^lgK) error.
  private def opsIncrDistinct(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    def state(df: DataFrame): DataFrame =
      df.groupBy("o_custkey")
        .agg(hll_sketch_agg(col("o_orderpriority")).as("hll"))
    val merged = (0 until 3)
      .map(i => state(o.filter(pmod(col("o_orderkey"), lit(3)) === i)))
      .reduce((a, b) => a.unionByName(b).groupBy("o_custkey")
        .agg(hll_union_agg(col("hll")).as("hll")))
    merged.select(col("o_custkey"),
        hll_sketch_estimate(col("hll")).as("n_distinct"))
      .orderBy("o_custkey")
  }

  // Incremental QUANTILE maintenance: the percentile member of the
  // mergeable family — a fixed-width integer histogram sketch
  // ([[graft.ops.QuantileSketch]]), folded over three delta batches
  // and read as p50/p95 estimates. Unlike t-digest/percentile_approx
  // partials the state is integer-exact and engine-neutral, so this
  // is HASH-GREEN against a DuckDB recompute of the same histogram
  // semantics (merge algebra ≡ recompute — the ops_incr_agg claim,
  // for quantiles); the one-bucket-width error bound vs exact order
  // statistics is pinned in QuantileSketchSpec.
  private def opsIncrQuantile(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val keys = Seq("o_custkey")
    val states = (0 until 3).map(i =>
      graft.ops.QuantileSketch.summarize(
        o.filter(pmod(col("o_orderkey"), lit(3)) === i),
        keys, "o_totalprice", widthCents = 50000L))
    graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.mergeAll(states, keys),
        keys, pcts = Seq(50, 95), widthCents = 50000L)
      .orderBy("o_custkey", "pct")
  }

  /** The STREAMED histogram state: three date slices delivered through
    * [[graft.streaming.QuantileSketchStream.applyBatch]] plus the replay
    * of batch 1 ([[slicedReplay]]; doubled histogram counts would
    * hash-mismatch the oracle). Built once per (session, dir). */
  private def incrQuantileStreamTable(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "incr_quantile_stream") { base =>
      slicedReplay(s, graft.Tables.orders(s, d)
          .select("o_custkey", "o_totalprice", "o_orderdate"),
        "o_orderdate", "1994-01-01 00:00:00", "1996-01-01 00:00:00",
        base, "ops_incr_quantile_stream") { (sl, id, dir) =>
        graft.streaming.QuantileSketchStream.applyBatch(sl, id, dir,
          Seq("o_custkey"), "o_totalprice", widthCents = 50000L)
      }
    }

  private def opsIncrQuantileStream(s: SparkSession, d: String): DataFrame =
    graft.ops.QuantileSketch.quantiles(
        s.read.parquet(incrQuantileStreamTable(s, d)),
        Seq("o_custkey"), pcts = Seq(50, 95), widthCents = 50000L)
      .orderBy("o_custkey", "pct")

  // ---- Windowed quantiles (w11): the dashboard shape — p50/p95 of
  // event value per (day, event_type) tumbling window — as the
  // QuantileSketch composed with event-time windowing: the window
  // start joins the sketch KEY, so the same mergeable histogram
  // state serves calendar rollups, and the streamed twin maintains
  // it across deliveries with replay idempotence. W = 1000 cents
  // ($10) on values ≤ $500.
  private def w11Keys = Seq("wday", "event_type")

  private def w11Events(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(to_date(col("ts")).as("wday"),
        col("event_type"), col("value"), col("event_id"), col("ts"))

  private def w11WindowedQuantile(s: SparkSession, d: String): DataFrame = {
    val e = w11Events(s, d)
    val states = (0 until 3).map(i =>
      graft.ops.QuantileSketch.summarize(
        e.filter(pmod(col("event_id"), lit(3)) === i),
        w11Keys, "value", widthCents = 1000L))
    graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.mergeAll(states, w11Keys),
        w11Keys, pcts = Seq(50, 95), widthCents = 1000L)
      .orderBy("wday", "event_type", "pct")
  }

  /** Streamed windowed-quantile state: three ten-day delivery slices
    * plus the replay of batch 1 ([[slicedReplay]]). */
  private def w11StreamTable(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "w11_quantile_stream") { base =>
      slicedReplay(s, w11Events(s, d), "ts", "2024-01-11 00:00:00",
        "2024-01-21 00:00:00", base, "w11_stream") { (sl, id, dir) =>
        graft.streaming.QuantileSketchStream.applyBatch(sl, id, dir,
          w11Keys, "value", widthCents = 1000L)
      }
    }

  private def w11WindowedQuantileStream(s: SparkSession, d: String)
      : DataFrame =
    graft.ops.QuantileSketch.quantiles(
        s.read.parquet(w11StreamTable(s, d)),
        w11Keys, pcts = Seq(50, 95), widthCents = 1000L)
      .orderBy("wday", "event_type", "pct")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ops_incr_distinct"      -> (opsIncrDistinct _),
    "ops_incr_quantile"      -> (opsIncrQuantile _),
    "ops_incr_quantile_stream" -> (opsIncrQuantileStream _),
    "w11_windowed_quantile"  -> (w11WindowedQuantile _),
    "w11_windowed_quantile_stream" -> (w11WindowedQuantileStream _),
    "ops_incr_agg"           -> (opsIncrAgg _),
    "ops_incr_agg_stream"    -> (opsIncrAggStream _),
    "export_range_sorted"    -> (exportRangeSorted _),
    "layout_partition_prune" -> (layoutPartitionPrune _),
    "layout_bucketed_join"   -> (layoutBucketedJoin _),
    "layout_zorder_scan"     -> (layoutZorderScan _),
    "layout_compact"         -> (layoutCompact _),
    "ops_schema_evolution"   -> (opsSchemaEvolution _),
    "src_jsonl_roundtrip"    -> (srcJsonlRoundtrip _),
    "src_csv_roundtrip"      -> (srcCsvRoundtrip _),
    "src_orc_roundtrip"      -> (srcOrcRoundtrip _)
  )

  /** The module's one-time layout WRITES (partitioned tree, bucketed
    * catalog tables, z-clustered orders, compaction round trip, schema
    * generations, range-sorted export), benched as explicit `*_build`
    * entries so the per-query numbers reflect the steady-state READ of
    * each layout — build-once/scan-many is the production shape, and a
    * single-shot benchmark otherwise books the write against whichever
    * consumer runs first (r8: layout_partition_prune read 18.6× its
    * builder median for exactly this reason). */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "layout_partition_build" ->
        ((s, d) => { partitionedGamesPath(s, d); () }),
      "layout_bucketed_build"  -> ((s, d) => { bucketedTables(s, d); () }),
      "layout_zorder_build"    -> ((s, d) => { zorderedOrdersPath(s, d); () }),
      "layout_compact_build"   -> ((s, d) => { compactedEventsPath(s, d); () }),
      "layout_schema_evo_build" ->
        ((s, d) => { schemaGenerationsPath(s, d); () }),
      "layout_range_sorted_build" ->
        ((s, d) => { rangeSortedEventsPath(s, d); () }),
      "ops_incr_agg_stream_build" ->
        ((s, d) => { incrAggStreamTable(s, d); () }),
      "ops_incr_quantile_stream_build" ->
        ((s, d) => { incrQuantileStreamTable(s, d); () }),
      "w11_stream_build" ->
        ((s, d) => { w11StreamTable(s, d); () })
    )

  /** Full recompute over ALL orders — shared by the batch fold and the
    * streamed state: both maintenance paths must converge to exactly
    * this table (different batch boundaries, same fixpoint). */
  private val incrAggOracle: String =
    """SELECT o_custkey, count(*) AS n_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                AS sum_v,
              CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                AS min_v,
              CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                AS max_v,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                / count(*) AS avg_v,
              min(o_orderdate) AS min_d, max(o_orderdate) AS max_d
       FROM orders GROUP BY o_custkey ORDER BY o_custkey"""

  /** Full histogram-quantile recompute over ALL orders — shared by
    * the batch fold and the streamed state (both must converge to the
    * same fixpoint; `//` ≡ Spark `div` on the non-negative domain). */
  private val incrQuantileOracle: String =
    """WITH h AS (
         SELECT o_custkey,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  // 50000 AS bucket,
                count(*) AS cnt
         FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT o_custkey, sum(cnt) AS n FROM h GROUP BY 1),
       cum AS (
         SELECT o_custkey, bucket,
                sum(cnt) OVER (PARTITION BY o_custkey ORDER BY bucket)
                  AS cum
         FROM h),
       p(pct) AS (VALUES (50), (95)),
       est AS (
         SELECT c.o_custkey, p.pct, min(c.bucket) AS bstar
         FROM cum c JOIN t USING (o_custkey) CROSS JOIN p
         WHERE c.cum * 100 >= t.n * p.pct
         GROUP BY 1, 2)
       SELECT o_custkey, pct, (bstar + 1) * 50000 - 1 AS est_cents
       FROM est ORDER BY o_custkey, pct"""

  /** Full windowed-histogram recompute over ALL events — shared by
    * the batch fold and the streamed state. */
  private val w11Oracle: String =
    """WITH h AS (
         SELECT CAST(ts AS DATE) AS wday, event_type,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  // 1000 AS bucket,
                count(*) AS cnt
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
       t AS (SELECT wday, event_type, sum(cnt) AS n FROM h
             GROUP BY 1, 2),
       cum AS (
         SELECT wday, event_type, bucket,
                sum(cnt) OVER (PARTITION BY wday, event_type
                               ORDER BY bucket) AS cum
         FROM h),
       p(pct) AS (VALUES (50), (95)),
       est AS (
         SELECT c.wday, c.event_type, p.pct, min(c.bucket) AS bstar
         FROM cum c
         JOIN t ON t.wday = c.wday AND t.event_type = c.event_type
         CROSS JOIN p
         WHERE c.cum * 100 >= t.n * p.pct
         GROUP BY 1, 2, 3)
       SELECT wday, event_type, pct, (bstar + 1) * 1000 - 1 AS est_cents
       FROM est ORDER BY wday, event_type, pct"""

  val oracles: Map[String, String] = Map(
    "ops_incr_agg"        -> incrAggOracle,
    "ops_incr_agg_stream" -> incrAggOracle,
    "ops_incr_quantile"        -> incrQuantileOracle,
    "ops_incr_quantile_stream" -> incrQuantileOracle,
    "w11_windowed_quantile"        -> w11Oracle,
    "w11_windowed_quantile_stream" -> w11Oracle,

    // exact recompute — the sparse-mode sketch fold must equal it
    "ops_incr_distinct" ->
      """SELECT o_custkey,
                count(DISTINCT o_orderpriority) AS n_distinct
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // straight from the source table: the narrowed generation's
    // int32/float32 detour is value-exact (keys ≤ 150k, integral
    // quantities 1..50), so equality proves the mixed-generation
    // contract read loses nothing
    "ops_schema_evolution" ->
      """SELECT l_orderkey,
                CAST(l_linenumber AS BIGINT) AS l_linenumber,
                l_quantity, l_returnflag
         FROM lineitem
         WHERE l_returnflag = 'A'
         ORDER BY l_orderkey, l_linenumber""",

    // the oracle computes the slice straight from the source table —
    // equality proves the partitioned round trip is lossless AND the
    // pruned read returns exactly the slice
    "layout_partition_prune" ->
      """WITH synth AS (
           SELECT 'g' || c_custkey AS id_game,
                  'u' || c_custkey || 'w' AS id_user_white,
                  CASE WHEN c_custkey % 11 = 7 THEN ''
                       ELSE 'u' || c_custkey || 'b' END AS id_user_black,
                  CASE WHEN c_custkey % 10 = 1 THEN '*'
                       WHEN c_custkey % 3 = 0 THEN '1-0'
                       WHEN c_custkey % 3 = 1 THEN '0-1'
                       ELSE '1/2-1/2' END AS val_result,
                  CASE WHEN c_custkey % 6 = 0 THEN NULL
                       ELSE CAST(1000 + c_custkey % 1500 AS INT) END
                    AS val_elo_white,
                  CAST('2025-05-0' || CAST(c_custkey % 9 + 1 AS VARCHAR)
                       AS DATE) AS dt_game
           FROM customer
         )
         SELECT id_game, strftime(dt_game, '%Y-%m-%d') AS dt_part,
                val_result, val_elo_white
         FROM synth
         WHERE id_user_black <> ''
           AND val_result IN ('1-0', '0-1', '1/2-1/2')
           AND dt_game BETWEEN DATE '2025-05-02' AND DATE '2025-05-04'
         ORDER BY id_game""",

    "layout_bucketed_join" ->
      """SELECT c.c_custkey,
                count(*) AS n_orders,
                CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS total_spent
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey
         ORDER BY c.c_custkey""",

    "layout_compact" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value, props
         FROM events ORDER BY event_id""",

    // straight reads of the ORIGINAL parquet: equality proves the text
    // the oracle reads the ORIGINAL events — equality proves the
    // range-sorted export is lossless; order properties live in spec
    "export_range_sorted" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value, props
         FROM events ORDER BY CAST(ts AS TIMESTAMP), event_id""",

    // round trip lost nothing (µs timestamps, doubles, quoted JSON)
    "src_jsonl_roundtrip" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value, props
         FROM events ORDER BY event_id""",

    "src_csv_roundtrip" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value, props
         FROM events ORDER BY event_id""",

    "src_orc_roundtrip" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value, props
         FROM events ORDER BY event_id""",

    // same bit-interleave, generated from the one zSql formula
    "layout_zorder_scan" ->
      (s"""SELECT o_orderkey, o_custkey, o_totalprice,
                ${graft.functions.ZOrder.zSql(
                  "(o_custkey % 65536)", "(o_orderkey % 65536)")} AS z
         FROM orders
         WHERE o_custkey BETWEEN 100 AND 300
           AND o_orderkey BETWEEN 1000 AND 8000
         ORDER BY o_orderkey""")
  )
}
