package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s throttle decision reads the host the run is on, not the
  * host that set the committed minimums. */
class BenchThrottleSpec extends AnyFunSuite {

  test("a flat canary on a small host does not read as throttled") {
    // 4-CPU host, six A/B runs: canary median 0.0081-0.0085 s, no steal;
    // their `vs_min` read 1.70-1.92 against 32-core minimums
    for (median <- Seq(0.0081, 0.0083, 0.0085); baseline <- Seq(0.0070, 0.0078, 0.0081))
      assert(!Bench.throttled(median, baseline, stealShare = 0.0), s"median $median, baseline $baseline")
  }

  test("a dilated canary or heavy steal reads as throttled") {
    assert(Bench.throttled(0.0250, 0.0081, stealShare = 0.0))
    assert(Bench.throttled(0.0083, 0.0081, stealShare = 0.10))
    assert(!Bench.throttled(0.0083, 0.0081, stealShare = 0.01))
  }
}
