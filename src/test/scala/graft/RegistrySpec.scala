package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks over the whole SparkEntry registry. */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs on sf0.001 and has a deterministic schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      val n = df.count()
      withClue(s"$name: ") { assert(n >= 0) }
    }
  }

  test("approx_count_distinct estimates within 5% of exact") {
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, sf001)
    val row = df.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head()
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("percentile_approx at accuracy 10000 is rank-exact-ish vs exact quantiles") {
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sf001).filter(col("event_type") === "click")
    val row = df.agg(
      expr("percentile(value, 0.5)").as("exact_p50"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"),
      expr("percentile(value, 0.95)").as("exact_p95"),
      percentile_approx(col("value"), lit(0.95), lit(10000)).as("approx_p95"))
      .head()
    // GK sketch rank error ≤ n/accuracy ≈ 1 row here; values are 2-dp
    // in a [0, ~20] band, so a 1-row rank slip moves the value ≤ 2%
    assert(math.abs(row.getDouble(1) - row.getDouble(0)) <=
      0.02 * math.max(1.0, row.getDouble(0)))
    assert(math.abs(row.getDouble(3) - row.getDouble(2)) <=
      0.02 * math.max(1.0, row.getDouble(2)))
  }

  test("a7_percentile_sketch brackets the exact order statistic and ties the GK dial") {
    import org.apache.spark.sql.functions._
    val w = 100L // bucket width in cents (the registry entry's W)
    val est = SparkEntry.queries("a7_percentile_sketch")(spark, sf001)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("pct")) ->
        r.getAs[Long]("est_cents")).toMap
    val gk = SparkEntry.queries("a7_approx_percentile")(spark, sf001)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("p50_approx"), r.getAs[Double]("p95_approx")))
      .toMap
    val byType = Tables.events(spark, sf001)
      .filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    assert(est.nonEmpty && gk.keySet === byType.keySet)
    for ((et, rows) <- byType; pct <- Seq(50, 95)) {
      // exact order statistic at the sketch's rank rule:
      // the ⌈n·pct/100⌉-th smallest value, in exact cents
      val cents = rows.map(v => math.round(
        (BigDecimal(v._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          * 100).toDouble)).sorted
      val rank = (cents.length * pct + 99) / 100 // ceil
      val vCents = cents(rank - 1)
      val e = est((et, pct))
      // est is the bucket upper bound of that order statistic:
      // exact bracketing, by construction
      withClue(s"$et p$pct: est=$e v=$vCents ") {
        assert(e >= vCents && e < vCents + w)
      }
      // and the rows-only GK dial lands within one bucket width of
      // the hash-green sketch (plus GK's own pinned 2% rank-error
      // slack) — the anchor relation this entry exists to prove
      val gkCents = (if (pct == 50) gk(et)._1 else gk(et)._2) * 100
      withClue(s"$et p$pct: est=$e gk=$gkCents ") {
        val slack = 0.02 * math.max(100.0, gkCents)
        assert(e >= gkCents - slack && e <= gkCents + w + slack)
      }
    }
  }

  // Scope: CROSS-module shadowing only — a duplicate key inside one
  // module's Map literal is already collapsed by Scala's Map
  // construction before anything can observe it (last entry wins);
  // that class needs review, not a test.
  test("no query-name collisions across modules (flatMap+toMap would shadow silently)") {
    val perModule = SparkEntry.moduleQueryNames
    val flat = perModule.flatten
    val dups = flat.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate registry names: ${dups.mkString(",")}")
    assert(SparkEntry.queries.size === flat.size)
  }

  test("bench build names are distinct from query names and run on sf0.001") {
    val overlap = SparkEntry.benchBuilds.keySet & SparkEntry.queries.keySet
    assert(overlap.isEmpty, s"build name shadows a query: $overlap")
    assert(SparkEntry.benchBuilds.keySet.forall(_.endsWith("_build")))
    // each build on its own session: a build that leaves a scoped conf
    // changed would silently degrade every later query in the session
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    SparkEntry.benchBuilds.foreach { case (name, fn) =>
      val s = spark.newSession()
      val before = keys.map(s.conf.get)
      try withClue(s"$name: ") {
        fn(s, sf0001)
        assert(keys.map(s.conf.get) === before, "build leaked session conf")
      } finally CacheScope.releaseAll(s)
    }
  }

  test("registry covers every SURVEY §2 operator family") {
    val keys = SparkEntry.queries.keySet
    val families = Seq("s3_", "s4_", "s5_", "a1_", "a2_", "a3_", "a4_",
      "a5_", "a6_", "a7_", "f4_", "f5_", "f6_", "f7_", "f10_", "f11_",
      "f12_", "f13_", "f14_", "f15_", "f16_", "p1_", "p2_", "j1_",
      "j2_", "j3_", "j4_", "j5_", "w1_", "w3_", "o1_", "o2_", "u1_",
      "u2_", "t4_", "pgn_", "dedup_", "text_", "sim_", "mm_",
      "samp_", "pack_", "emb_", "vocab_")
    val missing = families.filterNot(f => keys.exists(_.startsWith(f)))
    assert(missing.isEmpty, s"no query for operator families: $missing")
  }

  test("queries with oracles return at least one row on sf0.01 (hash checks need data)") {
    SparkEntry.queries.filterKeys(SparkEntry.oracleSql.contains).foreach {
      case (name, fn) =>
        val n = fn(spark, sf001).count()
        withClue(s"$name returned 0 rows — weak conformance signal: ") {
          assert(n > 0)
        }
    }
  }
}
