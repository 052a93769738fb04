package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape proofs for the write-time layout levers (the row-level
  * results are oracle-checked by the layout_* registry entries; these
  * tests pin what the plans DO: directory pruning and exchange-free
  * bucketed joins). */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._

  // force execution so AQE finalizes, then flatten the physical plan —
  // materialized AQE stages are LEAF QueryStageExec wrappers, so a
  // plain collect() never sees inside them; recurse through stage.plan
  private def allNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: flatten(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r +: flatten(r.child)
        case n => Seq(n)
      }
    flatten(df.queryExecution.executedPlan)
  }

  test("layout_partition_prune: scan lists only the sliced partitions") {
    val df = SparkEntry.queries("layout_partition_prune")(spark, sf001)
    val scans = allNodes(df).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    val scan = scans.head
    // the date-range filter must reach the scan as PartitionFilters —
    // directory pruning, not row filtering
    assert(scan.partitionFilters.nonEmpty,
      s"no PartitionFilters on the partitioned scan: $scan")
    // 3 of the 9 synthesized game dates selected → exactly 3 partitions
    // listed (the 'unknown' NULL-date partition and the other 6 days
    // are never touched)
    assert(scan.relation.partitionSchema.fieldNames.contains("dt_part"))
    val partitionsRead = scan.metrics.get("numPartitions")
      .map(_.value).getOrElse(-1L)
    assert(partitionsRead == 3L,
      s"expected 3 pruned partitions, scan read $partitionsRead")
  }

  test("layout_bucketed_join: no shuffle Exchange on either bucketed side") {
    // disable broadcast so the join must use the bucketed distribution —
    // the property under test is that the ON-DISK layout satisfies the
    // join + aggregation distribution, no per-query Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("layout_bucketed_join")(spark, sf001)
      val nodes = allNodes(df)
      assert(nodes.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected a sort-merge join, got:\n${nodes.map(_.nodeName)}")
      // the ORDER BY adds one final rangepartitioning exchange (global
      // sort of the result — unavoidable and O(output)); the join and
      // aggregation themselves must be exchange-free
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      val nonSortShuffles = shuffles.filterNot(
        _.outputPartitioning.toString.contains("rangepartitioning"))
      assert(nonSortShuffles.isEmpty,
        s"bucketed join/agg still shuffles:\n${nonSortShuffles.mkString("\n")}")
      // and the bucketed scans expose the bucket spec
      val scans = nodes.collect { case f: FileSourceScanExec => f }
      assert(scans.forall(_.bucketedScan),
        s"expected bucketed scans, got: ${scans.map(_.nodeName)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed join result equals the plain-table join row-for-row") {
    val viaBuckets = SparkEntry.queries("layout_bucketed_join")(spark, sf001)
      .collect()
    val plain = {
      val c = Tables.customer(spark, sf001)
      val o = Tables.orders(spark, sf001)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          graft.queries.Exact.sumExact4(col("o_totalprice"))
            .as("total_spent"))
        .orderBy("c_custkey")
        .collect()
    }
    assert(viaBuckets.toSeq == plain.toSeq)
  }

  test("compact: file count follows the byte target, content preserved") {
    val dir = TestSpark.tempDir("cmp").toString
    val ev = Tables.events(spark, sf0001)
    ev.repartition(20).write.mode("overwrite").parquet(s"$dir/frag")
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parts(s"$dir/frag") === 20)
    // tiny target → a handful of files, exactly the returned count
    val n = graft.ops.Layout.compact(spark, s"$dir/frag", s"$dir/comp",
      targetFileBytes = 64L << 10)
    assert(parts(s"$dir/comp") === n)
    assert(n < 20 && n >= 1)
    val back = spark.read.parquet(s"$dir/comp")
    assert(back.count() === ev.count())
    assert(back.except(ev).count() === 0 && ev.except(back).count() === 0)
  }

  // --- z-order clustering --------------------------------------------

  test("zValue is a bijection on the 32x32 grid and matches zSql") {
    import spark.implicits._
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    val z = grid.withColumn("z",
      graft.functions.ZOrder.zValue(col("x"), col("y"), 5))
    assert(z.select("z").distinct().count() === 1024)
    assert(z.agg(max("z")).head().getLong(0) === 1023L)
    // the Column program and the generated SQL formula agree
    val viaSql = grid.selectExpr("x", "y",
      s"(${graft.functions.ZOrder.zSql("x", "y", 5)}) AS z")
    assert(z.except(viaSql).count() === 0)
  }

  test("zValue round-trips: decoding interleaved bits recovers (x, y) on random pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(500)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val out = pairs.toDF("x", "y")
      .withColumn("z", graft.functions.ZOrder.zValue(col("x"), col("y")))
      .collect()
    out.foreach { r =>
      val (x, y, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      var (dx, dy) = (0L, 0L)
      for (i <- 0 until 16) {
        dx |= ((z >> (2 * i)) & 1L) << i
        dy |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(dx == x && dy == y, s"z=$z decoded to ($dx,$dy) not ($x,$y)")
    }
  }

  test("z-ordered range partitions bound BOTH axes (the 2-D pruning lever)") {
    val o = Tables.orders(spark, sf001)
      .withColumn("z", graft.functions.ZOrder.zValue(
        col("o_custkey"), col("o_orderkey")))
      .repartitionByRange(8, col("z"))
    val spans = o
      .select(spark_partition_id().as("pid"), col("o_custkey"),
        col("o_orderkey"))
      .groupBy("pid")
      .agg((max("o_custkey") - min("o_custkey")).as("sx"),
        (max("o_orderkey") - min("o_orderkey")).as("sy"))
      .collect()
    val g = o.agg(
      (max("o_custkey") - min("o_custkey")).cast("double"),
      (max("o_orderkey") - min("o_orderkey")).cast("double")).head()
    val (gx, gy) = (g.getDouble(0), g.getDouble(1))
    // perfect 8-way z split bounds each box to 1/2 x-extent × 1/4
    // y-extent (area 1/8); range-boundary straddle loosens that, so
    // assert the AVERAGE box area ≤ 40% of the table's extent — far
    // below the 100% an unclustered layout gives every partition
    val areas = spans.map(r =>
      (r.getLong(1).toDouble / gx) * (r.getLong(2).toDouble / gy))
    assert(areas.length === 8)
    assert(areas.sum / areas.length <= 0.4,
      s"mean z-partition box area ${areas.sum / areas.length} too large")
  }

  test("export_range_sorted: part files are sorted runs, disjoint and " +
      "increasing — concatenation IS the global order") {
    import graft.queries.LayoutOps
    import spark.implicits._
    val path = LayoutOps.rangeSortedEventsPath(spark, sf0001)
    val files = new java.io.File(path).listFiles
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    assert(files.length > 1, "range export must produce multiple files")
    val perFile = files.map { f =>
      spark.read.parquet(f)
        .select(unix_micros(col("ts")), col("event_id"))
        .as[(Long, Long)].collect().toSeq
    }.filter(_.nonEmpty)
    // within-file: each file is a sorted run
    perFile.foreach { rows =>
      assert(rows == rows.sorted, "file not sorted by (ts, event_id)")
    }
    // cross-file: ranges disjoint and increasing in part-number order
    perFile.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        assert(Ordering[(Long, Long)].lt(a.last, b.head),
          s"file ranges overlap: ${a.last} !< ${b.head}")
      case _ => ()
    }
    // concatenation in file order equals the globally sorted corpus
    val concat = perFile.toSeq.flatten
    val global = graft.Tables.events(spark, sf0001)
      .select(unix_micros(col("ts")), col("event_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(concat == global)
  }
}
