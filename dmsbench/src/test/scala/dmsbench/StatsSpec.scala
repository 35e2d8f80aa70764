package dmsbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int): Seq[Double] = scala.util.Random.shuffle((1 to n).map(_.toDouble))

  test("tail is the highest rank with ten samples beyond it: n = 30 gives rank 20") {
    val (v, pct) = Stats.tail(samples(30))
    assert(v == 20.0)
    assert(math.abs(pct - 200.0 / 3) < 1e-9)
  }

  test("tail for n = 100 is rank 90, the 90th percentile") {
    assert(Stats.tail(samples(100)) == ((90.0, 90.0)))
  }

  test("with fewer than twenty samples the tail falls back to the median") {
    assert(Stats.tail(samples(15)) == ((8.0, 50.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
