package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Export
import graft.text.LinearClassifier

/** Hashed linear classifier + sharded export: the weight arithmetic is
  * re-derived independently (java MessageDigest, not Spark md5) and the
  * shard directory layout is pinned against the column formula. */
class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- independent reference implementation of the frozen weights ----
  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def refWeight(salt: String, feature: String): Long = {
    val b = java.lang.Long.parseLong(
      md5hex(salt + feature).substring(0, 4), 16) % LinearClassifier.D
    (b * 2654435761L) % 4001L - 2000L
  }

  private def refScore(text: String): (Long, Long) = {
    val ts = text.trim.split(" +").filter(_.nonEmpty)
    val uni = ts.map(t => refWeight("u:", t)).sum
    val bi = ts.sliding(2).collect {
      case Array(a, b) => refWeight("b:", s"$a $b")
    }.sum
    (uni, bi)
  }

  test("classifier scores match an independent md5/weight derivation") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "one"),
      (3L, ""),
      (4L, "  padded   tokens  here "))
      .toDF("doc_id", "text")
    val got = LinearClassifier.score(docs, "doc_id", "text")
      .as[(Long, Int, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    for ((id, text) <- Seq(1L -> "the quick brown fox", 2L -> "one",
        3L -> "", 4L -> "  padded   tokens  here ")) {
      val (uni, bi) = refScore(text)
      val (_, n, u, b, s, keep) = got(id)
      assert(n === text.trim.split(" +").count(_.nonEmpty), s"doc $id")
      assert(u === uni, s"uni doc $id")
      assert(b === bi, s"bi doc $id")
      assert(s === uni + bi)
      assert(keep === (if (uni + bi >= 0) 1 else 0))
    }
  }

  test("classifier is a pure projection — no shuffle in the plan") {
    val plan = LinearClassifier
      .score(Tables.documents(spark, sf0001), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(5).mkString)
  }

  test("real-corpus scores split into both classes") {
    val keeps = LinearClassifier
      .score(Tables.documents(spark, sf0001), "doc_id", "text")
      .groupBy("keep").count().as[(Int, Long)].collect().toMap
    assert(keeps.getOrElse(1, 0L) > 0, "some docs kept")
    assert(keeps.getOrElse(0, 0L) > 0, "some docs dropped")
  }

  test("curate v3 composition coheres with its stage operators") {
    val v3 = SparkEntry.queries("pipeline_curate_v3")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getLong(3)))).toMap
    // every survivor passed the classifier gate (stage-1 agreement)
    val keptIds = LinearClassifier
      .score(Tables.documents(spark, sf0001), "doc_id", "text")
      .filter(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    val organic = v3.keySet.filter(_ < 100000L)
    assert(organic.nonEmpty && organic.subsetOf(keptIds))
    // planted full-duplicate husks never survive the length floor
    assert(v3.keySet.forall(_ < 200000L),
      "doubled-excerpt plants are fully covered and must be floored out")
    // the floor held and shards follow the md5 formula
    assert(v3.values.forall(_._1 >= 10))
    for ((id, (_, _, shard)) <- v3.take(50))
      assert(shard === (java.lang.Long.parseLong(
        md5hex(s"shard:$id").substring(0, 4), 16) % 16), s"doc $id")
  }

  // ---- sharded export ----

  // shared by the two tests below: the second reads the first's write
  private lazy val shardDir = TestSpark.tempDir("export_spec").toString

  test("written shard directories agree with the column formula") {
    val docs = Tables.documents(spark, sf0001)
    Export.writeShards(docs, "doc_id", 16, shardDir)
    val back = spark.read.parquet(shardDir)
    // partition value (directory) vs recomputed md5 assignment
    val mismatch = back
      .withColumn("expect", Export.shardId(col("doc_id"), 16))
      .filter(col("shard").cast("long") =!= col("expect")).count()
    assert(mismatch === 0L)
    assert(back.count() === docs.count())
  }

  test("single-shard read is partition-pruned and complete") {
    val one = spark.read.parquet(shardDir).filter(col("shard") === 3)
    val plan = one.queryExecution.executedPlan.toString
    // a NON-EMPTY PartitionFilters list — the bare label appears (as
    // "PartitionFilters: []") on every file scan, pruned or not
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "pruned scan expected")
    val ids = one.select("doc_id").as[Long].collect().toSet
    val expect = Tables.documents(spark, sf0001)
      .withColumn("s", Export.shardId(col("doc_id"), 16))
      .filter(col("s") === 3).select("doc_id").as[Long].collect().toSet
    assert(ids === expect)
  }

  test("shuffled write fixes a deterministic within-shard order") {
    val dir = TestSpark.tempDir("export_shuffled").toString
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    Export.writeShards(docs, "doc_id", 4, dir, shuffled = true)
    // one file per shard → read-back preserves the written row order
    val got = spark.read.parquet(dir).filter(col("shard") === 2)
      .select("doc_id").as[Long].collect().toSeq
    val expect = got.sortBy(id => (md5hex(s"order:$id"), id))
    assert(got === expect, "rows must be in md5('order:'||id) order")
    assert(got.nonEmpty)
  }

  test("manifest totals reconcile with the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val m = Export.manifest(docs, "doc_id", "text", 16)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(m.map(_._2).sum === docs.count())
    assert(m.map(_._1).toSet.subsetOf((0L until 16L).toSet))
    // every shard's id bounds hold for its members
    for ((shard, _, _, _, lo, hi) <- m) assert(lo <= hi, s"shard $shard")
    val chars = docs.agg(sum(length(col("text")))).as[Long].head()
    assert(m.map(_._4).sum === chars)
  }
}
