package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The loop kernel of the iterative [[GraphAnalytics]] operators:
  * cadence, statistic, release and exit live here once. The contract
  * (and the frames that must stay off it) is stated in the
  * [[GraphAnalytics]] header.
  */
private[graft] object Fixpoint {

  /** `n` rounds of `step` from `init`, chained lazily with a lineage
    * cut every `every` rounds and on the last; `init` itself when
    * `n` is 0. */
  def rounds(init: DataFrame, n: Int, every: Int)
            (step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var cut: Option[DataFrame] = None // the kernel's latest checkpoint
    for (i <- 1 to n) {
      val next = step(state)
      state = if (i % every == 0 || i == n) {
        val c = next.localCheckpoint(true)
        cut.foreach(GraphAnalytics.releaseCheckpoint)
        cut = Some(c)
        c
      } else next
    }
    state
  }

  /** Eager rounds of `step(state, round)` from `init` (whose statistic
    * is `initStat`) until `done(prevStat, stat)` holds or `maxRounds`
    * rounds ran.
    *
    * @return (final state, whether `done` fired, rounds run) */
  def converge(init: DataFrame, initStat: Long, stat: Column, maxRounds: Int)
              (step: (DataFrame, Int) => DataFrame)
              (done: (Long, Long) => Boolean): (DataFrame, Boolean, Int) = {
    var state = init
    var prev = initStat
    var fired = false
    var r = 0
    while (!fired && r < maxRounds) {
      r += 1
      val (next, s) = observed(step(state, r), stat)
      if (state ne init) GraphAnalytics.releaseCheckpoint(state)
      state = next
      fired = done(prev, s)
      prev = s
    }
    (state, fired, r)
  }

  /** `df` eagerly checkpointed, with the Long aggregate `stat` over
    * its rows computed by the same job. */
  def observed(df: DataFrame, stat: Column): (DataFrame, Long) = {
    val o = Observation()
    val cut = df.observe(o, stat.as("stat")).localCheckpoint(true)
    (cut, o.get("stat").asInstanceOf[Long])
  }
}
