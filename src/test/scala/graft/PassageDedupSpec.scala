package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.text.PassageDedup

/** Duplicated-passage detection/removal: every island-merge branch on
  * hand-built corpora, plus a randomized equivalence check of the
  * two-phase (hash-prefilter) duplicate finder against a naive
  * single-phase reference. */
class PassageDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def spans(df: DataFrame, k: Int): Set[(Long, Int, Int, Int)] =
    PassageDedup.duplicateSpansFromPositions(
        PassageDedup.duplicatedPositions(df, "doc_id", "text", k), k)
      .as[(Long, Int, Int, Int)].collect().toSet

  private def clean(df: DataFrame, k: Int): Map[Long, (Int, Int, String)] =
    PassageDedup.removeFromPositions(df, "doc_id", "text",
        PassageDedup.duplicatedPositions(df, "doc_id", "text", k), k)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("cross-document shared k-gram marks both sides") {
    val df = corpus(
      1L -> "a b c d e f",
      2L -> "x y a b c z",
      3L -> "p q r s")
    assert(spans(df, 3) === Set((1L, 0, 2, 3), (2L, 2, 4, 3)))
    val c = clean(df, 3)
    assert(c(1L) === ((6, 3, "d e f")))
    assert(c(2L) === ((6, 3, "x y z")))
    assert(c(3L) === ((4, 0, "p q r s")))   // untouched, re-spaced join
  }

  test("overlapping duplicated windows merge into one maximal span") {
    // "a b c d" shared → grams at pos 0 and 1 both duplicated → [0,3]
    val df = corpus(1L -> "a b c d p q", 2L -> "r s a b c d")
    assert(spans(df, 3) === Set((1L, 0, 3, 4), (2L, 2, 5, 4)))
  }

  test("adjacent spans (gap 0) fuse; interior unique grams survive") {
    // d1: "a b c" dup via d2, "d e f" dup via d3, middle grams unique
    // → covered [0,2] and [3,5] touch → one span [0,5], full husk
    val df = corpus(
      1L -> "a b c d e f",
      2L -> "a b c z1 z2 z3",
      3L -> "y1 y2 y3 d e f")
    val s1 = spans(df, 3).filter(_._1 == 1L)
    assert(s1 === Set((1L, 0, 5, 6)))
    assert(clean(df, 3)(1L) === ((6, 6, "")))
  }

  test("separated spans stay separate") {
    // dup at [0,2] and [4,6] with an uncovered token 3 between
    val df = corpus(
      1L -> "a b c m d e f",
      2L -> "a b c z1 z2 z3",
      3L -> "y1 y2 y3 d e f")
    assert(spans(df, 3).filter(_._1 == 1L) ===
      Set((1L, 0, 2, 3), (1L, 4, 6, 3)))
    assert(clean(df, 3)(1L) === ((7, 6, "m")))
  }

  test("within-document repetition is found without a second document") {
    val df = corpus(1L -> "m n o m n o", 2L -> "unrelated text here")
    assert(spans(df, 3) === Set((1L, 0, 5, 6)))
    assert(clean(df, 3)(1L) === ((6, 6, "")))
  }

  test("documents shorter than k and empty documents pass through") {
    val df = corpus(1L -> "a b", 2L -> "   ", 3L -> "a b")
    assert(spans(df, 3).isEmpty)   // 2-token docs have no 3-grams
    val c = clean(df, 3)
    assert(c(1L) === ((2, 0, "a b")))
    assert(c(2L) === ((0, 0, "")))
  }

  test("positionsMatching cuts only reference windows (span decontamination)") {
    val corpus = this.corpus(
      1L -> "x y a b c d z w",     // ref gram "a b c" at pos 2
      2L -> "no overlap at all")
    val ref = Seq("a b c", "q r s").toDF("gram")
    val pos = PassageDedup
      .positionsMatching(corpus, "doc_id", "text", 3, ref)
      .as[(Long, Int)].collect().toSet
    assert(pos === Set((1L, 2)))
    val cleaned = PassageDedup
      .removeFromPositions(corpus, "doc_id", "text",
        PassageDedup.positionsMatching(corpus, "doc_id", "text", 3, ref), 3)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(cleaned(1L) === ((3, "x y d z w")))
    assert(cleaned(2L) === ((0, "no overlap at all")))
  }

  test("two-phase finder ≡ naive single-phase on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { i =>
      val n = 5 + rnd.nextInt(20)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val df = corpus(docs: _*)
    val twoPhase = PassageDedup
      .duplicatedPositions(df, "doc_id", "text", 4)
      .as[(Long, Int)].collect().toSet
    // naive reference: group every gram occurrence by raw text once
    val grams = docs.flatMap { case (id, t) =>
      val ts = t.split(" +").filter(_.nonEmpty)
      ts.sliding(4).zipWithIndex.collect {
        case (w, i) if w.length == 4 => (id, i, w.mkString(" "))
      }
    }
    val dupTexts = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    val naive = grams.collect {
      case (id, pos, g) if dupTexts(g) => (id, pos)
    }.toSet
    assert(naive.nonEmpty, "fixture must contain duplicates")
    assert(twoPhase === naive)
  }
}
