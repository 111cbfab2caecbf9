package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.stealShare` on fixed /proc/stat `cpu ` lines. */
class BenchSpec extends AnyFunSuite {

  test("stealShare: steal delta over the first eight counters; 0 without a steal field") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val before = "cpu  100 0 50 800 10 0 5 20 0 0"
    val after = "cpu  200 0 100 1500 20 0 10 70 40 0"
    // deltas 100 + 0 + 50 + 700 + 10 + 0 + 5 + 50 = 915; guest is inside user
    assert(Bench.stealShare(before, after) == 50.0 / 915)
    val noSteal = "cpu  100 0 50 800 10 0 5"
    assert(Bench.stealShare(noSteal, "cpu  200 0 100 1500 20 0 10") == 0.0)
    assert(Bench.stealShare(before, before) == 0.0)
    assert(Bench.stealShare("", after) == 0.0)
  }
}
