package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry run loop that Bench, Stress, `graft.Dev` and the warm-up
  * share: failures are recorded, not fatal; the builds are the
  * registry's, in name order; the JSON is parseable. */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  test("a throwing entry is recorded as -1 and the next entry still runs") {
    var ran = Seq.empty[String]
    val times = Bench.timeEach(Seq("boom" -> 1, "after" -> 2)) { i =>
      ran :+= s"entry$i"
      if (i == 1) sys.error("planted failure")
    }
    assert(ran === Seq("entry1", "entry2"))
    assert(times.map(_._1) === Seq("boom", "after"))
    assert(times(0)._2 === -1.0)
    assert(times(1)._2 >= 0.0)
  }

  test("runBuilds runs every registry build, in name order") {
    val times = Bench.runBuilds(spark, sf0001)
    assert(times.map(_._1) === SparkEntry.benchBuilds.keys.toSeq.sorted)
    val failed = times.collect { case (n, t) if t < 0 => n }
    assert(failed.isEmpty, s"failed on sf0.001: $failed")
  }

  test("JSON rendering escapes quotes, backslashes and control chars") {
    assert(Bench.str("a\"b\\c\td\u0001e\n") === "\"a\\\"b\\\\c\\td\\u0001e\\n\"")
    assert(Bench.obj(Seq("q1" -> 1.23449, "q2" -> -1.0)) ===
      "{\"q1\":1.234,\"q2\":-1.000}")
    assert(Bench.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
  }
}
