package graft

import org.apache.spark.sql.Dataset

/** The round of an iterative Spark loop, written once:
  *
  * {{{
  * val (labels, sums, converged) =
  *   Loop.fixpoint(labels0, maxRounds = 40)((cur, _) => relabel(cur).cut)(
  *     sumLabels, sumLabels(labels0))(_ == _)
  * }}}
  *
  * The round rule:
  *  - `step(state, round)` builds the next state and returns it already
  *    cut (`round` counts from 1).
  *  - The driver then releases the superseded state: every frame of it
  *    that the next state does not carry over. A state is one frame or a
  *    pair or triple of frames and driver literals; only its frames are
  *    released, through [[Caches.releaseCheckpoint]], so the [[Cut]]
  *    rule decides which blocks go.
  *  - One `probe` runs per round, on the new state: the loop's one
  *    driver action.
  *  - The loop stops once `stop(previous probe, probe)` holds, with
  *    `seed` as the previous probe of round 1, or after `maxRounds`
  *    rounds; a loop stopped by the cap returns `converged = false`.
  *
  * Returns `(state, probes, converged)`; `probes.size` is the number of
  * rounds run. The final state is the caller's to release.
  */
object Loop {

  def fixpoint[S, P](state0: S, maxRounds: Int)(step: (S, Int) => S)(
      probe: S => P, seed: P)(stop: (P, P) => Boolean): (S, Seq[P], Boolean) = {
    var state = state0
    var prev = seed
    val probes = Vector.newBuilder[P]
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val next = step(state, rounds)
      val carried = frames(next)
      frames(state).filterNot(f => carried.exists(_ eq f))
        .foreach(Caches.releaseCheckpoint)
      state = next
      val p = probe(state)
      probes += p
      converged = stop(prev, p)
      prev = p
    }
    (state, probes.result(), converged)
  }

  private def frames(v: Any): Seq[Dataset[_]] = v match {
    case df: Dataset[_] => Seq(df)
    case (a, b)         => frames(a) ++ frames(b)
    case (a, b, c)      => frames(a) ++ frames(b) ++ frames(c)
    case _              => Nil
  }
}
