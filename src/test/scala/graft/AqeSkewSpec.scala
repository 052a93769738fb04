package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, count_distinct}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

/** AQE skew-join coverage (docs/SCALE.md "skew" rows): the runtime
  * split handles the same hot join key [[graft.ops.Skew.saltedJoin]]
  * handles deterministically — this spec drives Spark's
  * `spark.sql.adaptive.skewJoin` on a synthetic celebrity key, asserts
  * the final adaptive plan actually took the skew split (not just that
  * the flag was on), and that plain ⋈, salted ⋈ and AQE-split ⋈ agree
  * row-for-row.
  *
  * Division of labor (SCALE.md): AQE's split is the default for JOIN
  * skew — zero code, runtime-sized. Salting still wins when (a) the
  * skew is in an AGGREGATION key (AQE only rebalances joins and
  * rebalance-partitions nodes, not a hot groupBy reducer —
  * [[Skew.saltedCountDistinct]] two-phases it), or (b) the plan must be
  * deterministic at authoring time (AQE splits depend on runtime
  * statistics). */
class AqeSkewSpec extends AnyFunSuite {

  // the FINAL adaptive plan of the execution that ran, as a string
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString

  test("AQE splits the hot key at runtime; plain ≡ salted ≡ AQE results") {
    // fresh session: AQE thresholds are session conf, and the shared
    // TestSpark session must keep its defaults for sibling suites
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // toy-scale thresholds so a ~3 MB hot partition counts as skewed
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // no broadcast: skew-join only rewrites shuffle joins
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._

    // celebrity key 0: 50k of 60k rows, padded so bytes (what the skew
    // detector measures) concentrate too. pad stays in the OUTPUT —
    // column pruning would otherwise strip it from the map side and
    // shrink the hot partition below the detector's threshold; its
    // content varies per row so shuffle-block lz4 can't flatten it
    val big = (0 until 60000).map { i =>
      val pad = ("%09x".format(i * 0x9e3779b9L & 0xffffffffL)) * 8
      (if (i < 50000) 0L else 1L + i % 100L, i.toLong, pad)
    }.toDF("k", "v", "pad")
    val small = (0L to 100L).map(k => (k, s"name$k")).toDF("k", "name")

    val aqe = big.join(small, "k").select("k", "v", "pad", "name")
    // collect() (not count()) — count() spawns a fresh QueryExecution,
    // and the skew assertion below must read the FINAL adaptive plan
    // of the execution that actually ran
    assert(aqe.collect().length === 60000)

    // the FINAL adaptive plan must contain a skew-split sort-merge
    // join reading skew-subdivided shuffle blocks (string-pinned: the
    // SMJ hides inside WholeStageCodegen under a ResultQueryStage,
    // which TreeNode.collect does not descend through)
    val plan = finalPlan(aqe)
    assert(plan.contains("SortMergeJoin(skew=true)"),
      s"AQE did not mark the join skew-split:\n$plan")
    assert(plan.contains("AQEShuffleRead coalesced and skewed"),
      s"hot partition was not subdivided at read time:\n$plan")

    // all three strategies agree (saltedJoin is proven against plain
    // join in SourcesSpec; here all run under this session's confs)
    val plain = big.hint("merge").join(small, "k")
      .select("k", "v", "pad", "name")
    val salted = Skew.saltedJoin(big, small, "k", buckets = 8)
      .select("k", "v", "pad", "name")
    assert(aqe.exceptAll(plain).isEmpty && plain.exceptAll(aqe).isEmpty)
    assert(aqe.exceptAll(salted).isEmpty && salted.exceptAll(aqe).isEmpty)
  }

  test("aggregation skew: AQE leaves the hot reducer; saltedCountDistinct two-phases it") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    val df = (0 until 30000).map { i =>
      (if (i < 25000) 0L else 1L + i % 50L, s"v${i % 5000}")
    }.toDF("k", "v")
    val direct = df.groupBy("k").agg(count_distinct(col("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltedDf = Skew.saltedCountDistinct(df, "k", "v", buckets = 8)
    val salted = saltedDf
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === direct)
    assert(direct(0L) === 5000L)
    // two phases: an exchange keyed on (k, __salt, ...), then a final
    // exchange on k alone that carries one partial count per (k, salt)
    val plan = finalPlan(saltedDf)
    assert("hashpartitioning\\(k#\\d+L?, __salt#".r.findFirstIn(plan).isDefined,
      s"no (k, __salt) exchange:\n$plan")
    assert("hashpartitioning\\(k#\\d+L?, \\d+\\)".r.findFirstIn(plan).isDefined,
      s"no final exchange on k:\n$plan")
  }

  test("count-distinct skew: value-hash salting is exact at every bucket count") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    // hot key 0 carries 20k distinct values plus 5k repeats; key 1 is
    // small; nulls must be ignored like SQL count(DISTINCT)
    val df = ((0 until 25000).map(i => (0L, s"v${i % 20000}")) ++
      (0 until 100).map(i => (1L, s"w${i % 7}")) ++
      Seq((0L, null: String), (1L, null: String))).toDF("k", "v")
    val direct = df.groupBy("k").agg(count_distinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (b <- Seq(1, 8, 64)) {
      val salted = Skew.saltedCountDistinct(df, "k", "v", buckets = b)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(salted === direct, s"buckets=$b")
    }
    assert(direct(0L) === 20000L && direct(1L) === 7L)
  }
}
