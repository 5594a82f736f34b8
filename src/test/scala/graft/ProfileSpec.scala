package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile counts job time as the union of job intervals, so concurrent
  * jobs never push the driver-side share below zero. */
class ProfileSpec extends AnyFunSuite {
  test("job time is the union of job intervals, not their sum") {
    assert(Profile.unionMs(Nil) == 0L)
    assert(Profile.unionMs(Seq((10L, 20L))) == 10L)
    // overlapping and nested jobs count once; gaps do not count
    assert(Profile.unionMs(Seq((30L, 50L), (10L, 40L), (12L, 15L), (60L, 70L))) == 50L)
    // touching intervals join
    assert(Profile.unionMs(Seq((0L, 5L), (5L, 9L))) == 9L)
  }
}
