package graft

import org.scalacheck.{Properties, Test}
import org.scalacheck.rng.Seed

/** A ScalaCheck suite whose initial seed is pinned and printed: the seed
  * comes from `-Dgraft.prop.seed=N` (default 1), so a red run replays
  * exactly and a green one is not seed luck. `scripts/seed_sweep.sh` runs
  * every suite on seeds 1 to 5.
  */
abstract class SeededProperties(suite: String) extends Properties(suite) {
  val seed: Long = sys.props.get("graft.prop.seed").map(_.toLong).getOrElse(1L)
  println(s"$suite: ScalaCheck initial seed $seed (replay: -Dgraft.prop.seed=$seed)")

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(seed))
}
