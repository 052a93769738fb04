package graft

import org.scalatest.funsuite.AnyFunSuite

class DevSpec extends AnyFunSuite {
  test("jobs: overlapping job spans count once, so gaps cannot go negative") {
    // two concurrent jobs inside a third, one disjoint, one never ended
    val spans = Seq((100L, 400L), (150L, 200L), (180L, 300L), (500L, 550L),
      (600L, 0L))
    assert(Dev.coveredMs(spans) === 350L)
    assert(Dev.coveredMs(spans.reverse) === 350L)
    assert(Dev.coveredMs(Nil) === 0L)
    // touching spans join without double-counting the seam
    assert(Dev.coveredMs(Seq((0L, 10L), (10L, 20L))) === 20L)
  }
}
