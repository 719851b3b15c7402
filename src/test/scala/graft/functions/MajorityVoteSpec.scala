package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The win_juice1.py majority rule as an `Aggregator`: partial buffers
  * merge in `Long`, so the verdict holds past `Int` range. */
class MajorityVoteSpec extends AnyFunSuite {
  import MajorityVote.{finish, merge, reduce, zero}

  test("merge of partial buffers past Int.MaxValue keeps the strict-majority verdict") {
    // two map-side partials of 2^31 - 1 votes each; an Int tally of the
    // merged 1-bits (2^31 + 1) would wrap negative and flip the winner
    val a = (Int.MaxValue.toLong / 2 + 1, Int.MaxValue.toLong)
    val b = (Int.MaxValue.toLong / 2 + 1, Int.MaxValue.toLong)
    val m = merge(a, b)
    assert(m._1 > Int.MaxValue && m._2 > Int.MaxValue)
    assert(finish(m) == "R")
    assert(finish(merge(reduce(m, false), (0L, 2L))) == "other")
  }

  test("an exact tie 2·ones == total is not a majority (win_juice1.py:29)") {
    assert(finish(Seq(true, false).foldLeft(zero)(reduce)) == "other")
    assert(finish((3L, 6L)) == "other")
    assert(finish((4L, 7L)) == "R")
  }

  test("zero is the identity of merge") {
    for (b <- Seq((0L, 0L), (1L, 1L), (2L, 5L), (Long.MaxValue / 4, Long.MaxValue / 2))) {
      assert(merge(zero, b) == b)
      assert(merge(b, zero) == b)
    }
  }
}
