package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.PipelineQueries

/** Property coverage for the occupancy-adaptive Bloom sizing policy shared by
  * q_decontaminate_bloom and q_stream_decontaminate (and mirrored in their
  * DuckDB oracle SQL — a policy bug here is also an oracle divergence).
  */
class BloomPolicySpec extends AnyFunSuite {

  private def check(prop: Prop, cases: Int = 500): Unit = PropCheck.check(prop, cases)

  test("policy bits: power of two, floored, capped, >=64 bits/gram, minimal") {
    check(Prop.forAll(Gen.choose(0L, 1L << 40)) { n =>
      val m = PipelineQueries.bloomPolicyBits(n)
      val powerOfTwo = (m & (m - 1)) == 0 && m > 0
      val floored = m >= (1L << 16)
      val capped = m <= (1L << 32)
      // ≥64 bits per gram unless the cap binds
      val sized = m >= 64L * n || m == (1L << 32)
      // minimal: halving m (if above the floor) must violate the sizing
      val minimal = m == (1L << 16) || (m / 2) < 64L * n
      powerOfTwo && floored && capped && sized && minimal
    })
  }

  test("policy matches the oracle SQL's closed-form CASE arithmetic") {
    // the DuckDB oracle computes: 65536 if 64n <= 65536; 2^32 if
    // ceil(log2(64n)) >= 32; else 2^ceil(log2(64n)) — must equal the loop
    check(Prop.forAll(Gen.choose(1L, 1L << 40)) { n =>
      val m = PipelineQueries.bloomPolicyBits(n)
      val oracle =
        if (64L * n <= 65536L) 65536L
        else {
          val e = math.ceil(math.log(64.0 * n) / math.log(2.0)).toLong
          if (e >= 32) 1L << 32 else 1L << e.toInt
        }
      m == oracle
    })
  }
}
