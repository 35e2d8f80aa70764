package graft

import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.Assertions

/** Replayable ScalaCheck runs. The initial seed comes from the system
  * property `graft.propSeed` (a base64 seed, as printed) when it is set,
  * otherwise from `Seed.random()`. A failing property prints and reports its
  * seed; `sbt -Dgraft.propSeed=<seed> "testOnly <spec>"` replays it (the
  * build passes the property on to the forked test JVM).
  */
object PropCheck {
  val SeedProperty = "graft.propSeed"

  /** Checks `prop` on at least `minSuccessful` cases; fails the calling test,
    * naming the seed, when the property fails.
    */
  def check(prop: Prop, minSuccessful: Int): Unit = {
    val seed = sys.props.get(SeedProperty) match {
      case Some(s) => Seed.fromBase64(s).get
      case None => Seed.random()
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(minSuccessful).withInitialSeed(seed), prop)
    if (!res.passed) {
      val msg = s"${Pretty.pretty(res)} (replay with -D$SeedProperty=${seed.toBase64})"
      println(s"[prop] $msg")
      Assertions.fail(msg)
    }
  }
}
