package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.schema.ChessSchema

/** Source-format coverage (SURVEY §1: parquet is canonical; the
  * reference's other surfaces were Postgres rows and HTTP JSON — here:
  * csv and json round-trips through the canonical schema) and skew
  * utilities. */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("csv and json round-trip the tv_channel_games schema") {
    val dir = TestSpark.tempDir("src").toString
    val games = Seq(
      ("g1", "alice", "bob", "1-0", 2400, true),
      ("g2", "carol", "dave", "0-1", 2200, false))
      .toDF("id_game", "id_user_white", "id_user_black", "val_result",
        "val_elo_white", "ind_validated")

    games.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    games.write.mode("overwrite").json(s"$dir/json")

    val csvBack = spark.read.option("header", "true")
      .schema("id_game string, id_user_white string, id_user_black string, " +
        "val_result string, val_elo_white int, ind_validated boolean")
      .csv(s"$dir/csv").orderBy("id_game")
    val jsonBack = spark.read.json(s"$dir/json")
      .select(games.columns.map(col): _*).orderBy("id_game")

    assert(csvBack.collect().toSeq == games.orderBy("id_game").collect().toSeq)
    assert(jsonBack.collect().toSeq == games.orderBy("id_game").collect().toSeq)
  }

  test("canonical schema accepts a full games row (schema sanity)") {
    val row = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row]),
      ChessSchema.tvChannelGames)
    assert(row.schema.fieldNames.length == 24)
    assert(ChessSchema.lichessUsers.fieldNames.length == 27)
  }

  test("bucketed tables join with no Exchange on either side") {
    import graft.sources.Bucketing
    val base = TestSpark.tempDir("bk").toString
    val orders = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // testdata is small enough to broadcast, which would sidestep the
      // bucketed path entirely — force the shuffle-join planner so the
      // test exercises what bucketing buys at fact-to-fact scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Bucketing.writeBucketed(orders, "bk_orders", s"$base/o",
        "o_orderkey", buckets = 8)
      Bucketing.writeBucketed(lineitem, "bk_lineitem", s"$base/l",
        "o_orderkey", buckets = 8)
      val joined = Bucketing.read(spark, "bk_orders")
        .join(Bucketing.read(spark, "bk_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // bucket metadata satisfies the join's required distribution:
      // the per-query shuffle is gone from BOTH sides
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      // shuffle exchanges print as "Exchange hashpartitioning(...)";
      // matching "ShuffleExchange" would be vacuous (nodeName is the
      // bare "Exchange")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle Exchange in:\n$plan")
      // and the result is the plain join's result
      assert(joined.count() ===
        orders.join(lineitem, "o_orderkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_orders")
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    }
  }

  test("partitioned layout prunes directories for partition predicates") {
    import graft.ops.Layout
    val base = TestSpark.tempDir("pt").toString + "/events"
    val events = Tables.events(spark, sf001)
      .withColumn("dt_game", to_date(col("ts")))
    Layout.writePartitionedByDate(events, base)
    val oneDay = events.select(max("dt_game")).head().getDate(0).toString
    val pruned = spark.read.parquet(base).filter(col("dt_part") === oneDay)
    val scan = pruned.queryExecution.executedPlan.toString
    // the predicate must reach the file index as a PartitionFilter —
    // directory pruning, not a post-scan filter
    assert(scan.contains("PartitionFilters") &&
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*dt_part[^\\]]*\\].*"),
      s"partition predicate not pushed in:\n$scan")
    assert(pruned.count() ===
      events.filter(col("dt_game") === oneDay).count())
  }

  test("saltedJoin equals plain join (skew-spread, same result)") {
    val big = Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey")
    val small = Tables.customer(spark, sf0001).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = big.join(small, Seq("o_custkey"))
      .orderBy("o_orderkey").collect().toSeq
    val salted = Skew.saltedJoin(big, small, "o_custkey", buckets = 8)
      .select("o_custkey", "o_orderkey", "c_name")
      .orderBy("o_orderkey").collect().toSeq
    assert(salted == plain)
  }

  test("TextFormats: jsonl and csv round-trip events losslessly (µs ts, quoted props)") {
    import graft.sources.TextFormats
    val ev = Tables.events(spark, sf0001)
    val dir = TestSpark.tempDir("fmt").toString
    TextFormats.writeJsonl(ev, s"$dir/jsonl")
    TextFormats.writeCsv(ev, s"$dir/csv")
    val j = TextFormats.readJsonl(spark, s"$dir/jsonl", ev.schema)
    val c = TextFormats.readCsv(spark, s"$dir/csv", ev.schema)
    for (back <- Seq(j, c)) {
      assert(back.schema === ev.schema)
      assert(back.except(ev).count() === 0 && ev.except(back).count() === 0)
    }
    // the awkward value survived: quoted JSON text is byte-identical
    val orig = ev.orderBy("event_id").select("props").head().getString(0)
    assert(j.orderBy("event_id").select("props").head().getString(0) === orig)
    assert(c.orderBy("event_id").select("props").head().getString(0) === orig)
  }

  test("FuzzyJoin.bestMatch: single edit always recovered, ambiguity " +
      "counted, beyond-tau rejected") {
    import graft.ops.FuzzyJoin
    val clean = Seq(
      (1L, "Customer#000000010"),
      (2L, "Customer#000000011"),
      (3L, "Customer#000000777")).toDF("key", "name")
    val dirty = Seq(
      (101L, "Customer#00000001x"),  // 1 edit (pos 18) from keys 1 AND 2
      (102L, "Customer#0000x0777"),  // 1 edit (pos 14) from key 3
      (103L, "Customer#000zzzz77")   // 4 edits — must be rejected
    ).toDF("did", "dname")
    val got = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((14, 3), (17, 2)), tau = 2)
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // ambiguous: both 010 and 011 at distance 1 — ties to lowest key,
    // and both counted as candidates
    assert(got(101L) == ((1L, 1, 2)))
    // zone-A edit: zone-B block carried the pair
    assert(got(102L) == ((3L, 1, 1)))
    // blocked (zone B intact) but confirm rejects at distance 4
    assert(!got.contains(103L))
  }

  test("FuzzyJoin.bestMatch: pair found by both blocks scores once") {
    import graft.ops.FuzzyJoin
    val clean = Seq((1L, "Customer#000000010")).toDF("key", "name")
    val dirty = Seq((9L, "Customer#000000010")).toDF("did", "dname")
    val got = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((14, 3), (17, 2)), tau = 2)
      .as[(Long, Long, Int, Long)].collect()
    assert(got.toSeq == Seq((9L, 1L, 0, 1L)))  // n_candidates 1, not 2
  }

  test("FuzzyJoin: deletions shift positional blocks (documented miss); " +
      "the q-gram pass recovers them") {
    import graft.ops.FuzzyJoin
    val clean = Seq((1L, "Customer#000000010")).toDF("key", "name")
    // one DELETION ('u' dropped) — every later char shifts left
    val dirty = Seq((9L, "Cstomer#000000010")).toDF("did", "dname")
    val posOnly = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((14, 3), (17, 2)), tau = 2)
      .collect()
    assert(posOnly.isEmpty)  // the documented positional limitation
    val withQgram = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((14, 3), (17, 2)), tau = 2,
        qgram = Some(4))
      .as[(Long, Long, Int, Long)].collect()
    assert(withQgram.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((9L, 1L, 1)))
  }

  test("FuzzyJoin deletion pass: shift-alignment pairs inside the " +
      "window are caught (positional windows structurally miss them)") {
    import graft.ops.FuzzyJoin
    // dist(dirty, 12999) = 2 via delete-'x'+append-'9' — a SHIFTED
    // alignment: 4 position-wise mismatches in the tail, yet within
    // tau. Any fixed-window refinement drops it; the deletion
    // neighborhood must not.
    val clean = Seq((1299L, "Customer#000001299"),
      (12999L, "Customer#000012999")).toDF("key", "name")
    val dirty = Seq((101299L, "Customer#000x01299")).toDF("did", "dname")
    val got = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Nil, tau = 2, delBlock = Some((10, 9)))
      .as[(Long, Long, Int, Long)].collect()
    // best is the true source (dist 1); the shifted neighbor at
    // dist 2 is ALSO counted — n_candidates = 2 proves it was blocked
    assert(got.toSeq == Seq((101299L, 1299L, 1, 2L)))
  }

  test("FuzzyJoin deletion pass: recall ≡ brute force at tau=2 over " +
      "subs and indels; pairs score once despite 46 signatures") {
    import graft.ops.FuzzyJoin
    val clean = (1 to 400).map(k => (k.toLong, f"Customer#$k%09d")).toDF("key", "name")
    // corruptions: substitution, double substitution, delete+append
    // (shift), exact copy — all within tau=2 of their source
    val dirty = (1 to 400).map { k =>
      val n = f"$k%09d"
      val s = k % 4 match {
        case 0 => n.updated(k % 9, 'x')
        case 1 => n.updated(k % 9, 'x').updated((k + 4) % 9, 'y')
        case 2 => n.drop(1) + "7"          // shift: delete head, append
        case _ => n                        // exact
      }
      (k + 1000L, "Customer#" + s)
    }.toDF("did", "dname")
    val got = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Nil, tau = 2, delBlock = Some((10, 9)))
    // brute-force truth: full cross join, same confirm + arg-min
    val truth = dirty.crossJoin(clean)
      .withColumn("d", levenshtein($"dname", $"name"))
      .filter($"d" <= 2)
      .groupBy("did")
      .agg(min(struct($"d", $"key")).as("m"),
        count(lit(1)).as("n_candidates"))
      .select($"did", $"m.key".as("matched_key"),
        $"m.d".as("edit_dist"), $"n_candidates")
    assert(got.except(truth).count() === 0)
    assert(truth.except(got).count() === 0)
    assert(got.count() === 400)
  }

  test("FuzzyJoin: strings shorter than a positional window are " +
      "excluded from that pass — never keyed on an empty block") {
    import graft.ops.FuzzyJoin
    val clean = Seq((1L, "ab"), (2L, "xy")).toDF("key", "name")
    val dirty = Seq((9L, "ac")).toDF("did", "dname")
    // window (10, 4) is past every string: no empty-key cross join,
    // no crash, no candidates
    val got = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((10, 4)), tau = 2)
      .collect()
    assert(got.isEmpty)
    // a q-gram pass still matches the short strings
    val q = FuzzyJoin.bestMatch(dirty, clean, "did", "dname",
        "key", "name", blocks = Seq((10, 4)), tau = 1,
        qgram = Some(2))
      .as[(Long, Long, Int, Long)].collect()
    assert(q.isEmpty)  // "ac" shares no 2-gram with "ab" or "xy"
    val q2 = FuzzyJoin.bestMatch(
        Seq((9L, "abc")).toDF("did", "dname"),
        Seq((1L, "abd")).toDF("key", "name"),
        "did", "dname", "key", "name",
        blocks = Seq((10, 4)), tau = 1, qgram = Some(2))
      .as[(Long, Long, Int, Long)].collect()
    assert(q2.map(r => (r._1, r._2, r._3)).toSeq == Seq((9L, 1L, 1)))
  }
}
