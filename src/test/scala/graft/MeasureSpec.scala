package graft

import org.scalatest.funsuite.AnyFunSuite

/** The foreign-load formula every timed run reports: host busy delta
  * minus own CPU delta minus steal delta, clamped at 0, -1 when any
  * counter could not be read. */
class MeasureSpec extends AnyFunSuite {

  test("foreignTicks subtracts the steal delta, clamps at 0, and is -1 on an unreadable counter") {
    // host +500 busy (steal included), own +200, steal +120 → 180 foreign;
    // without the steal term it would read 300 and count steal twice once
    // Bench adds the steal channel back
    assert(Measure.foreignTicks(1000L, 1500L, 40L, 240L, 7L, 127L) == 180L)
    // own CPU above the host delta (counter skew) cannot go negative
    assert(Measure.foreignTicks(1000L, 1100L, 40L, 240L, 7L, 17L) == 0L)
    // a negative steal delta (counter reset) subtracts nothing
    assert(Measure.foreignTicks(1000L, 1500L, 40L, 240L, 127L, 7L) == 300L)
    val ok = Seq(1000L, 1500L, 40L, 240L, 7L, 127L)
    for (i <- ok.indices) {
      val c = ok.updated(i, -1L)
      assert(Measure.foreignTicks(c(0), c(1), c(2), c(3), c(4), c(5)) == -1L,
        s"counter $i unreadable must read -1, not a phantom quiet 0")
    }
  }
}
