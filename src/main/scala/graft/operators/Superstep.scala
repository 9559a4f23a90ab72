package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one iteration driver for single-frame supersteps (Pregel's round
  * over a relational frame): it owns the round counter and its cap, the
  * lineage truncation of each round's frame, an optional convergence
  * statistic, and the stopping round. PageRank, the component labelings,
  * the k-core peel, BFS, the KMV sketch chain, NN-Descent, the PCA power
  * iteration and the BPE merge loop are step functions on it.
  *
  * EAGER mode (the default) `localCheckpoint`s `init` and every round's
  * frame, so later rounds and the caller read memory, never the round's
  * lineage — and a staged edge cache ([[EdgeLayout]]) can be released
  * once the loop returns. A convergence probe is one aggregate observed
  * (`observe()`) on that same checkpoint: the statistic costs no job of
  * its own, where a separate probe action re-scans the frame every round.
  * The probe sees `init` too, so a statistic over the starting frame can
  * stop the loop at round 0.
  *
  * LAZY mode keeps the fixed-round plan lazy, so a consumer that reads
  * only some columns still prunes the rest: rounds are checkpointed every
  * [[LazyEvery]] rounds (never the last), which keeps the plan O(1) deep
  * instead of doubling per round. A probe needs a materialized frame, so
  * lazy mode takes none.
  */
object Superstep {
  val LazyEvery = 8

  /** A convergence statistic: one aggregate over a round's frame, and the
    * test that stops the loop on its value (null for an aggregate over no
    * rows, e.g. a max). */
  final case class Probe(stat: Column, stop: Any => Boolean)

  /** Every round's frame, `init` first, and whether the probe stopped the
    * loop (false when the cap did). */
  final case class Rounds(frames: IndexedSeq[DataFrame], converged: Boolean) {
    def last: DataFrame = frames.last
    def rounds: Int = frames.length - 1
  }

  def run(init: DataFrame, maxRounds: Int, probe: Option[Probe] = None,
          lazyPlan: Boolean = false)(step: DataFrame => DataFrame): Rounds = {
    require(!(lazyPlan && probe.isDefined), "a lazy plan cannot be probed")
    def checkpoint(df: DataFrame): (DataFrame, Boolean) = probe match {
      case Some(p) =>
        val obs = Observation()
        val cp = df.observe(obs, p.stat.as("stat")).localCheckpoint()
        (cp, p.stop(obs.get("stat")))
      case None => (df.localCheckpoint(), false)
    }
    val (first, done0) = if (lazyPlan) (init, false) else checkpoint(init)
    var frames = Vector(first)
    var done = done0
    while (!done && frames.length <= maxRounds) {
      val r = frames.length
      val next = step(frames.last)
      if (!lazyPlan) { val (cp, d) = checkpoint(next); frames :+= cp; done = d }
      else if (r % LazyEvery == 0 && r < maxRounds) frames :+= next.localCheckpoint()
      else frames :+= next
    }
    Rounds(frames, done)
  }
}
