package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graftbridge.PlanBridge

/** The loop kernel of the iterative [[GraphAnalytics]] operators:
  * cadence, statistic, release, scratch, size estimate and exit live
  * here once. The contract (and the frames that must stay off it) is
  * stated in the [[GraphAnalytics]] header.
  */
private[graft] object Fixpoint {

  /** What a step sees of its round: its 1-based `index`, and `cut` for
    * round scratch. */
  final class Round private[Fixpoint] (val index: Int,
                                       held: collection.mutable.Buffer[DataFrame]) {
    /** `df` eagerly checkpointed, for a frame the round reads more than
      * once; the kernel releases it after the next state cut. */
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      held += c
      c
    }
  }

  /** `n` rounds of `step` from `init`, chained lazily with a lineage
    * cut every `every` rounds and on the last; `init` itself when
    * `n` is 0. */
  def rounds(init: DataFrame, n: Int, every: Int)
            (step: (DataFrame, Round) => DataFrame): DataFrame = {
    val held = collection.mutable.Buffer.empty[DataFrame]
    var state = init
    var cut: Option[DataFrame] = None // the kernel's latest checkpoint
    for (i <- 1 to n) {
      val next = step(state, new Round(i, held))
      state = if (i % every == 0 || i == n) {
        val c = PlanBridge.boundedEstimate(next.localCheckpoint(true))
        (cut ++ held).foreach(GraphAnalytics.releaseCheckpoint)
        held.clear()
        cut = Some(c)
        c
      } else next
    }
    state
  }

  /** Eager rounds of `step` from `init` (whose statistic is
    * `initStat`) until `done(prevStat, stat)` holds or `maxRounds`
    * rounds ran.
    *
    * @return (final state, whether `done` fired, rounds run) */
  def converge(init: DataFrame, initStat: Long, stat: Column, maxRounds: Int)
              (step: (DataFrame, Round) => DataFrame)
              (done: (Long, Long) => Boolean): (DataFrame, Boolean, Int) = {
    val held = collection.mutable.Buffer.empty[DataFrame]
    var state = init
    var prev = initStat
    var fired = false
    var r = 0
    while (!fired && r < maxRounds) {
      r += 1
      val (next, s) = observed(step(state, new Round(r, held)), stat)
      (if (state ne init) held :+ state else held)
        .foreach(GraphAnalytics.releaseCheckpoint)
      held.clear()
      state = next
      fired = done(prev, s)
      prev = s
    }
    (state, fired, r)
  }

  /** `df` eagerly checkpointed (its size estimate bounded), with the
    * Long aggregate `stat` over its rows computed by the same job. */
  def observed(df: DataFrame, stat: Column): (DataFrame, Long) = {
    val o = Observation()
    val cut = df.observe(o, stat.as("stat")).localCheckpoint(true)
    (PlanBridge.boundedEstimate(cut), o.get("stat").asInstanceOf[Long])
  }
}
