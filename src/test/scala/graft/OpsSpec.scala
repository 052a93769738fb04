package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Diff, Validation}

/** Pins the dataset-diff verdict semantics (incl. null-safe change
  * detection) and the validation report's null-as-failure contract. */
class OpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("Diff.diff: all four verdicts, null-safe value comparison") {
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, None),
      (4L, Option("d"))).toDF("k", "v")
    val nw = Seq((1L, Option("a")), (2L, Option("B")), (3L, None),
      (5L, Option("e"))).toDF("k", "v")
    val got = Diff.diff(old, nw, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq(
      (1L, "unchanged"),
      (2L, "changed"),
      (3L, "unchanged"),   // null <=> null is TRUE, not a change
      (4L, "removed"),
      (5L, "added")))
    val counts = Diff.diff(old, nw, "k").groupBy("status").count()
      .orderBy("status")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(counts === Seq(("added", 1L), ("changed", 1L),
      ("removed", 1L), ("unchanged", 2L)))
  }

  test("Diff.diff rejects key-only inputs fast") {
    val a = Seq(1L, 2L).toDF("k")
    intercept[IllegalArgumentException] { Diff.diff(a, a, "k") }
  }

  test("Validation.report: null predicate results count as failures") {
    val df = Seq(Option(5), Option(-1), None).toDF("x")
    val out = Validation.report(df, Seq(
        Validation.Rule("positive", col("x") > 0)))
      .head()
    // x=5 passes; x=-1 fails; x=NULL → predicate NULL → fails
    assert(out.getAs[Long]("n_rows") === 3L)
    assert(out.getAs[Long]("n_pass") === 1L)
    assert(out.getAs[Long]("n_fail") === 2L)
  }

  test("Validation.report rejects duplicate rule names") {
    val df = Seq(1).toDF("x")
    intercept[IllegalArgumentException] {
      Validation.report(df, Seq(
        Validation.Rule("r", col("x") > 0),
        Validation.Rule("r", col("x") < 0)))
    }
  }

  test("Validation.profile: nulls counted, distincts exclude nulls, " +
      "min/max on native type (not lexicographic)") {
    val df = Seq[(java.lang.Long, String)](
      (9L, "b"), (10L, "a"), (null, "a"), (2L, null))
      .toDF("num", "s")
    val got = Validation.profile(df, Seq("num", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    // native-type min/max: 2 < 9 < 10 (string min would say "10" < "2")
    assert(got("num") == ((4L, 1L, 3L, "2", "10")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
    intercept[IllegalArgumentException] {
      Validation.profile(df, Seq("no`tick"))
    }
  }
}
