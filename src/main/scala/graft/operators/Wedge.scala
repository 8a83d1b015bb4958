package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The wedge kernel of the all-pairs 2-hop operators — the sparse A²
  * plan of [[Pymk.recommendAll]] and its capped and weighted twins,
  * [[GraphAnalytics.adamicAdar]] and [[GraphAnalytics.linkPredictScores]]
  * — stated once. A query is one [[Wedge]] over a symmetric adjacency
  * (from, to, leg columns): every (x, y) row has a (y, x) row with the
  * same leg columns, as a bag (path counts) or a set (neighbour sets).
  * The caller states only what differs: the adjacency, the per-wedge
  * values, the pair aggregates and the tail (top-k or degree joins).
  *
  * Plan, in order:
  *  - Sizing: the wedge bag (Σ min(deg, cap)² over the middles, one
  *    agg over the checkpointed adjacency) sets the partition count
  *    ([[wedgeParSized]]). AQE sizes stages by INPUT bytes, and the
  *    adjacency is small next to its join OUTPUT, so an exact query's
  *    legs read the adjacency re-spread round-robin to that count
  *    (round-robin, not keyed, so a hub cannot pin its whole
  *    neighbourhood to one task).
  *  - Cap: with `cap` < `Int.MaxValue` both legs enumerate the
  *    [[sample]] of each middle's neighbours instead; its heap
  *    aggregate's shuffle already keys them by the middle, and the cap
  *    bounds any middle's rows. The adjacency (and so the direct-edge
  *    anti-join and any degree the caller derives from [[adj]]) stays
  *    exact: the cap bounds wedge multiplicity only. `cap =
  *    Int.MaxValue` is the exact query.
  *  - Join: the legs self-join on the middle vertex (`from` on both
  *    sides: one shuffle keyed by vertex id, which both legs share).
  *    Hub skew in this join is AQE-splittable, or saltable via
  *    [[Skew.saltedInnerJoin]] when AQE is off.
  *  - Halving: the adjacency is symmetric and both legs draw from the
  *    same middle's list, so wedge (a, z, c) exists iff (c, z, a) does
  *    with the same values; only a < c is aggregated (half the shuffle
  *    and agg input) and the aggregated pairs are mirrored afterwards.
  *    A per-anchor cap would break this symmetry; a per-middle cap
  *    keeps it.
  *  - Aggregate: the half bag is repartitioned on the pair key before
  *    the fold, so each reducer's hash map holds only its own key range
  *    instead of every task spanning the pair space.
  *  - Mirror: by explode over the aggregated pairs (10–20× smaller than
  *    the bag), not a self-union, which would run the aggregation once
  *    per branch.
  *  - Anti-join: direct edges are removed AFTER the aggregate. Removing
  *    whole keys commutes with any per-pair fold, and the aggregated
  *    pairs are far fewer than the bag (~2× at sf0.1, more with skew).
  *    No broadcast hint: the adjacency is the full edge list.
  *  - No window anywhere: tails rank with [[TopK.grouped]]'s bounded
  *    heap, never a per-anchor sort.
  *
  * Pinned: a wedge query leaves one checkpoint, the adjacency's (a
  * `localCheckpoint`, freed by the ContextCleaner with the result).
  * The sample stays lazy: both legs read it through one reused
  * exchange, and a checkpoint of it cost the link-prediction gates two
  * Spark jobs more.
  */
private[graft] final class Wedge(adjacency: DataFrame, cap: Int) {
  import Wedge._

  /** The adjacency, checkpointed once: the sizing agg, the sampler, the
    * legs, the anti-join and the caller's degree tables read these
    * blocks instead of re-deriving the caller's edge frame each. */
  val adj: DataFrame = adjacency.localCheckpoint(true)

  private val par = wedgeParSized(adj, estWedgeBagRows(adj, cap))

  private val legs =
    if (cap == Int.MaxValue) adj.repartition(par) else sample(adj, cap)

  /** The mirrored pairs (a, c, aggregates…) with a ≠ c not adjacent:
    * `aggs` folded over the wedges a —z— c, whose per-wedge values are
    * `wedge` (columns over the legs `l` = (z, a) and `r` = (z, c), each
    * with its adjacency row's leg columns; `l.from` is the middle).
    * `left` extends the left leg before the join, e.g. with the
    * middle's discount. */
  def pairs(wedge: Seq[Column], aggs: Seq[Column],
            left: DataFrame => DataFrame = identity): DataFrame = {
    val half = left(legs).as("l")
      .join(legs.as("r"), col("l.from") === col("r.from"))
      .filter(col("l.to") < col("r.to"))
      .select(col("l.to").as("a") +: col("r.to").as("c") +: wedge: _*)
      .repartition(par, col("a"), col("c"))
      .groupBy("a", "c").agg(aggs.head, aggs.tail: _*)
    val values = half.columns.drop(2).map(col).toSeq
    half.select(explode(array(struct(col("a") +: col("c") +: values: _*),
        struct(col("c").as("a") +: col("a").as("c") +: values: _*))).as("p"))
      .select("p.*")
      .join(adj.select(col("from").as("a"), col("to").as("c")),
        Seq("a", "c"), "left_anti")
  }
}

private[graft] object Wedge {

  /** Partition count for explosive (quadratic-output) wedge bags: the
    * larger of the cluster's core count (scales with executors on a
    * real cluster) and the session's `spark.sql.shuffle.partitions`
    * (the data-sized knob — big-SF single-box runs raise it so a
    * partition of the bag still fits in memory). Equal under the
    * bench's one-partition-per-core config.
    * NOTE: the explicit repartition(n) is NOT AQE-coalesced, so a
    * session left at the stock 200-partition default pays 200-task
    * wedge stages on tiny inputs — perf-only, results unchanged;
    * size the conf to the data (every harness session here does).
    * A non-integer conf value (e.g. a platform's "auto") falls back
    * to defaultParallelism with a warning — crashing every wedge
    * operator over a sizing knob would be worse than a default. */
  def wedgePar(df: DataFrame): Int = {
    val spark = df.sparkSession
    val raw = spark.conf.get("spark.sql.shuffle.partitions")
    val conf = scala.util.Try(raw.toInt).toOption match {
      case Some(n) if n > 0 => n
      case _ =>
        System.err.println(s"[graft] spark.sql.shuffle.partitions='$raw' " +
          "is not a positive integer; wedge sizing falls back to " +
          s"defaultParallelism=${spark.sparkContext.defaultParallelism}")
        spark.sparkContext.defaultParallelism
    }
    math.max(spark.sparkContext.defaultParallelism, conf)
  }

  /** Wedge-bag partition budget per task: the sf1000 c4 calibration —
    * ~4M bag rows per task (512 partitions) OOM'd a 64 GiB/32-thread
    * box on a quiet run, ~2M (1024 partitions) ran clean AND beat the
    * loaded 512-partition runs. Wedge rows are two ids + agg-map
    * state, so ~2M rows/task ≈ low hundreds of MB of execution
    * memory. */
  private val WedgeRowsPerTask = 2000000L

  /** [[wedgePar]] sized to the DATA: an operator that knows its
    * wedge-bag row estimate partitions the bag so each task sees
    * ~[[WedgeRowsPerTask]] rows, floored at the static [[wedgePar]]
    * (small inputs keep their plans — PlanSpec-pinned) and capped at
    * 2^16. The estimate grows with the data, the conf does not, so
    * big-SF sweeps need no manual partition override. */
  def wedgeParSized(df: DataFrame, estBagRows: Long): Int = {
    val static = wedgePar(df)
    val byData = math.ceil(estBagRows.toDouble / WedgeRowsPerTask).toLong
    math.max(static.toLong, math.min(byData, 1L << 16)).toInt
  }

  /** Σ min(deg, cap)² over an adjacency's `from` column — the wedge-bag
    * row estimate behind [[wedgeParSized]] (exact for an uncapped
    * middle join; an upper bound for a<c-halved ones — a ≤2× sizing
    * overshoot is free, an undershoot is the OOM). One tiny agg + one
    * driver scalar. Pass a CHECKPOINTED adjacency: the estimate then
    * costs one pass over materialized blocks, not its own scan and
    * dedup of the raw edge list. */
  def estWedgeBagRows(adj: DataFrame, cap: Int): Long = {
    val d = least(count(lit(1)), lit(cap.toLong))
    adj.groupBy(col("from")).agg((d * d).as("w2"))
      .agg(coalesce(sum(col("w2")), lit(0L)).as("bag")).head().getLong(0)
  }

  /** Hash-spread per-vertex neighbour cap — the hub guard. A power-law
    * hub z emits deg(z)² wedges: at 100× scale a 10⁶-degree vertex
    * alone is ~10¹² pairs on one reducer key. Each `from` keeps the
    * `cap` rows with the lowest (md5Bucket("from:to"), to, other
    * columns) — the [[Sampling.perKeyCap]] precedent: deterministic,
    * rerun-stable, md5-portable (oracle-replayable) and hash-spread
    * (top-by-id would bias wedges toward low ids). Sub-cap vertices
    * keep every row. A bounded-heap top-k: the hub's reducer holds
    * `cap` rows of state, never a sorted deg(z). Lazy; `adj` itself
    * when `cap` is `Int.MaxValue`. */
  def sample(adj: DataFrame, cap: Int, from: String = "from",
             to: String = "to"): DataFrame =
    if (cap == Int.MaxValue) adj
    else {
      val kept = to +: adj.columns.filterNot(c => c == from || c == to).toSeq
      val keyed = adj.withColumn("_hk",
        Sampling.md5Bucket(concat_ws(":", col(from), col(to))))
      TopK.grouped(keyed, Seq(from), struct(col("_hk") +: kept.map(col): _*), cap)
        .select(col(from) +: kept.map(c => col(s"best.$c").as(c)): _*)
    }
}
