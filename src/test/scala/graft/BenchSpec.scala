package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s measurement policy: the reported contended-window flag,
  * the history-regression gate, and the one remeasure rule (top 10 suite
  * medians above a constant bar, with no calibration input).
  */
class BenchSpec extends AnyFunSuite {

  test("bench marks a contended calibration window as suspect at >2x spread") {
    // the r12 official artifact's actual draw (min 1.33, max 51.47) must flag
    assert(Bench.isSuspectWindow(Seq(1.3319, 1.41, 1.4835, 1.52, 51.4695)))
    // a healthy window (r12 re-measure: 1.51 +/- a few %) must not
    assert(!Bench.isSuspectWindow(Seq(1.47, 1.49, 1.51, 1.55, 1.60)))
    // boundary: exactly 2x is NOT suspect (strict >)
    assert(!Bench.isSuspectWindow(Seq(1.0, 1.2, 1.5, 1.8, 2.0)))
    assert(Bench.isSuspectWindow(Seq(1.0, 1.2, 1.5, 1.8, 2.01)))
    // degenerate inputs never flag (empty / zero-floor)
    assert(!Bench.isSuspectWindow(Nil))
    assert(!Bench.isSuspectWindow(Seq(0.0, 5.0)))
  }

  test("historyRegressions: >2x the committed med, floored, missing-history keys skipped") {
    val history = Map("q_a" -> 0.456, "q_b" -> 1.0, "q_c" -> 0.1, "q_zero" -> 0.0)
    val suite = Seq(
      "q_a" -> 1.563, // the r19 q_join_theta_range shape: 3.4x its clean med
      "q_b" -> 1.9,   // 1.9x — under the 2x bar
      "q_c" -> 0.35,  // 3.5x but under the 0.5 s floor: scheduler noise
      "q_new" -> 9.0, // no history — top-10 logic covers it, not this gate
      "q_zero" -> 4.0) // degenerate committed 0.0 must not divide/flag
    assert(Bench.historyRegressions(suite, history) == Seq("q_a"))
    // boundary: exactly 2x does not flag; just past it does
    assert(Bench.historyRegressions(Seq("q_b" -> 2.0), history).isEmpty)
    assert(Bench.historyRegressions(Seq("q_b" -> 2.01), history) == Seq("q_b"))
    // floor is a parameter: dropping it admits the cheap key
    assert(Bench.historyRegressions(suite, history, floorSec = 0.0)
      .contains("q_c"))
    // empty history (first round / file absent) flags nothing
    assert(Bench.historyRegressions(suite, Map.empty).isEmpty)
  }

  test("remeasureSet: top 10 above a constant 0.75 s bar, whatever the calibration") {
    val medians = (1 to 30).map(i => (f"q_$i%02d", i * 0.2)) // 0.2 .. 6.0 s
    val top10 = (21 to 30).map(i => f"q_$i%02d")
    // r13 shape: three stalled draws (calib 25.4 s, a flagged window) and
    // r18 shape: every draw ~17x hot (calib 32.19 s, spread 1.48x, not
    // flagged). A calib/3 bar sat above every key in both; the constant
    // bar re-measures the 10 most expensive either way.
    val r13Calib = Seq(1.78, 1.9, 25.4373, 30.0, 169.70)
    val r18Calib = Seq(29.56, 30.1, 32.19, 35.0, 43.85)
    assert(Bench.isSuspectWindow(r13Calib) && !Bench.isSuspectWindow(r18Calib))
    assert(medians.forall(_._2 < r13Calib(2) / 3.0), "fixture: the old bar excluded every key")
    assert(Bench.remeasureSet(medians) == top10, "names come back sorted, most expensive 10")
    // only keys strictly above the bar: 0.2, 0.4, 0.6 never; 0.75 itself never
    assert(Bench.RemeasureBarSec == 0.75)
    assert(Bench.remeasureSet(medians.take(5)) == Seq("q_04", "q_05"))
    assert(Bench.remeasureSet(Seq("q_at" -> 0.75, "q_over" -> 0.7501)) == Seq("q_over"))
    assert(Bench.remeasureSet(medians.take(3)).isEmpty)
    // cap at 10 however many clear the bar
    assert(Bench.remeasureSet(medians.map { case (k, v) => (k, v + 1.0) }) == top10)
  }
}
