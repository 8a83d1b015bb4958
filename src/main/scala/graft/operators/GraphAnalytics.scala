package graft.operators

import org.apache.spark.graphx.{Edge, Graph, VertexId, VertexRDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GraphX twin of the DataFrame graph operators — the iterative
  * analytics vehicle (BASELINE.json: "GraphX for analytics") for
  * workloads where iteration depth > 2 makes join-chains unwieldy
  * (SURVEY §4 custom-work item 4).
  *
  * The 2-hop PYMK itself stays in DataFrame joins ([[Pymk]] — two
  * hash joins beat Pregel setup for fixed depth 2); this module
  * generalizes: k-hop walk counting via iterated `aggregateMessages`,
  * degrees, PageRank, connected components.
  *
  * String md5-8 vertex ids are mapped to GraphX's Long VertexId via
  * xxhash64 (collision-free in practice at 8-hex-char id space, and
  * deterministic so results are reproducible across runs).
  *
  * Iteration: the DataFrame fixpoint operators run on [[Fixpoint]],
  * the one copy of the loop policy.
  *  - Cadence: `Fixpoint.rounds` chains a fixed round count lazily and
  *    cuts lineage with an eager `localCheckpoint` every `every`
  *    rounds and on the last round (per-round materialization costs
  *    ~3 jobs a round — pure fixed overhead on a small graph).
  *    `Fixpoint.converge` checkpoints every round, because its exit
  *    test needs each round's statistic, which rides the checkpoint
  *    job as an `Observation` (one job a round, not checkpoint + count).
  *  - Release: the kernel unpersists each state it checkpointed as
  *    soon as the successor is materialized, so a query pins its fixed
  *    inputs plus the returned state, not one checkpoint per cadence
  *    step. It never releases the caller's `init` (a fixed input such
  *    as kCore's vertex set) nor the state it returns.
  *  - Scratch: a frame a round reads more than once (Louvain's
  *    community totals, MIS priorities, a raw score table) goes through
  *    the step's `round.cut`, never a `localCheckpoint` of its own. The
  *    kernel releases it after the next state cut, the first point at
  *    which nothing lazy reads it any more.
  *  - Estimates: a kernel cut's size estimate is capped at
  *    `spark.sql.defaultSizeInBytes` (what an RDD without statistics
  *    reports). An inherited estimate is squared by every round that
  *    joins the state twice, and a deep loop then spends minutes
  *    multiplying `BigInt`s in planning. The cap keeps the planner's
  *    choices (anything above the broadcast threshold is "large"); a
  *    row-count estimate would broadcast small states instead, which
  *    costs PageRank, CC and Katz one job more at gate scale.
  *  - Exit: the caller passes `done(prev, cur)` over consecutive
  *    statistics — "unchanged" for the monotone peels (kCore,
  *    coreness, kTruss: a round that changes the count changes the
  *    set, and an unchanged set fixes every later round, so skipped
  *    rounds are no-ops the unrolled oracles replay identically),
  *    "no label moved" for CC, "empty" for MIS — bounded by the round
  *    budget.
  *  - Trap: the state must be the only frame that outlives its round.
  *    Operators whose output still reads earlier rounds keep those
  *    frames off the kernel: [[randomWalks]] and [[node2vecWalks]]
  *    union every step, [[hyperBall]] reads every round's registers,
  *    [[betweennessSampled]] every BFS level, and
  *    [[maximalIndependentSet]] every round's winners (its active set
  *    is the kernel state, its winners its own checkpoints).
  *    [[ccTwoStar]] stays off too: its exit probes read the old and
  *    the new edge set, so it releases each superseded set itself.
  * `localCheckpoint` (not `persist`) so unreleased blocks belong to the
  * RDD and the ContextCleaner frees them when the result is dropped; on
  * a cluster this becomes checkpoint-to-table (local blocks don't
  * survive executor loss).
  */
object GraphAnalytics {

  /** The simple undirected view: self-loops dropped, each edge once as
    * its canonical (u, v) = (least, greatest) pair. */
  private[graft] def simpleEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Per-vertex degree (id, `name`) of a canonical (u, v) edge set. */
  private def simpleDegrees(canon: DataFrame, name: String): DataFrame =
    canon.select(col("u").as("id")).unionAll(canon.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as(name))

  /** A canonical (u, v) edge set as symmetric adjacency (from, to) —
    * both orientations of every edge, under the caller's names. */
  private[graft] def bothWays(canon: DataFrame, from: String,
                              to: String): DataFrame =
    canon.select(col("u").as(from), col("v").as(to))
      .unionAll(canon.select(col("v").as(from), col("u").as(to)))

  /** Build a GraphX graph from (vertices, edges) DataFrames with string
    * ids. Returns the graph plus the id↔hash mapping DataFrame for
    * joining results back to properties.
    */
  def toGraphX(vertices: DataFrame, edges: DataFrame): (Graph[String, Double], DataFrame) = {
    val vmap = vertices.select(col("id"), xxhash64(col("id")).as("vid")).cache()
    val vrdd = vmap.rdd.map(r => (r.getLong(1), r.getString(0)))
    val erdd = edges
      .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"),
        coalesce(col("weight"), lit(1.0)).as("w"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    (Graph(vrdd, erdd), vmap)
  }

  /** Number of length-k undirected walks from `anchor` to every vertex:
    * k rounds of `aggregateMessages` propagating walk counts along both
    * edge directions (the `both('knows')` semantics). For k = 2 minus
    * the self/friend exclusions this is exactly PYMK's bag path count
    * — asserted against [[Pymk.recommend]] in tests.
    */
  def kWalkCounts[V](graph: Graph[V, Double], anchor: VertexId, k: Int): VertexRDD[Long] = {
    var counts: Graph[Long, Double] =
      graph.mapVertices((vid, _) => if (vid == anchor) 1L else 0L)
    for (_ <- 1 to k) {
      val msgs = counts.aggregateMessages[Long](
        ctx => {
          if (ctx.srcAttr > 0) ctx.sendToDst(ctx.srcAttr)
          if (ctx.dstAttr > 0) ctx.sendToSrc(ctx.dstAttr) // undirected
        },
        _ + _)
      counts = counts.outerJoinVertices(msgs)((_, _, m) => m.getOrElse(0L))
    }
    counts.vertices
  }

  /** PYMK via GraphX for arbitrary hop count k (default 2): walk counts
    * at depth k, excluding the anchor and every vertex within the 1-hop
    * neighborhood (the `without('friends')` set). Returns a DataFrame
    * (id, score) like [[Pymk.recommend]].
    */
  def pymkK(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
            anchorId: String, k: Int = 2, limit: Int = 10): DataFrame = {
    import spark.implicits._
    val (graph, vmap) = toGraphX(vertices, edges)
    val anchor = vmap.filter(col("id") === anchorId).select("vid")
      .head().getLong(0)
    val walkK = kWalkCounts(graph, anchor, k)
    val hop1 = kWalkCounts(graph, anchor, 1)
    // friend exclusion stays distributed (subtractByKey, the RDD
    // anti-join): a hub anchor can have millions of 1-hop neighbors —
    // collecting them to a driver-side Set would OOM at scale
    val friends = hop1.filter(_._2 > 0)
    val scores = walkK
      .filter { case (vid, c) => c > 0 && vid != anchor }
      .subtractByKey(friends)
      .toDF("vid", "score")
    scores.join(vmap, "vid").select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(limit)
  }

  /** Undirected degree per vertex id (GraphX `degrees`). */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val (graph, vmap) = toGraphX(vertices, edges)
    val spark = vertices.sparkSession
    import spark.implicits._
    graph.degrees.toDF("vid", "degree").join(vmap, "vid")
      .select(col("id"), col("degree"))
  }

  /** PageRank over the directed `knows` graph — the centrality
    * extension the reference gestures at but never ships. Fixed
    * iteration count (`staticPageRank`), not tolerance-convergence:
    * deterministic result and bounded cost regardless of graph
    * connectivity. */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               iters: Int = 10): DataFrame = {
    val (graph, vmap) = toGraphX(vertices, edges)
    val spark = vertices.sparkSession
    import spark.implicits._
    graph.staticPageRank(iters).vertices.toDF("vid", "rank").join(vmap, "vid")
      .select(col("id"), round(col("rank"), 6).as("rank"))
  }

  /** Integer-micro PageRank on the GraphX/Pregel machinery — the
    * fold-order-proof twin of [[pageRank]] (the X89 HITS convention,
    * GraphX flavor): every quantity is a Long in MICROS, so message
    * combination (a Long sum) is exactly associative/commutative and
    * the result is bit-identical regardless of RDD partitioning —
    * which makes the GraphX execution path itself full-SQL-oracle-able
    * (qX_pagerank_graphx), not just consistency-twin-pinned.
    *
    * Arithmetic (replayed verbatim by the unrolled DuckDB oracle):
    * ranks start at 1e6; each round a vertex sends
    * `rank_micros / outdeg` (integer floor) along each out-edge and
    * recomputes `150000 + (msum · 17) / 20` — damping 0.85 as the
    * exact rational 17/20, never a float. No final rescale: the
    * fixed-point ranks are the contract (the float [[pageRank]] keeps
    * GraphX's Σ=|V| normalization). Per-vertex floors lose < outdeg
    * micros per round — deterministic, engine-identical.
    *
    * Scale: one aggregateMessages (edge-partition-local combine, the
    * map-side-combine analogue) + one vertex join per round; each
    * round's graph is cached and the previous unpersisted, so lineage
    * stays flat (the RDD-world version of the [[Fixpoint]] cadence).
    */
  def pageRankMicros(vertices: DataFrame, edges: DataFrame,
                     iters: Int = 10): DataFrame = {
    val (graph0, vmap) = toGraphX(vertices, edges)
    val spark = vertices.sparkSession
    import spark.implicits._
    var g: Graph[(Long, Int), Double] =
      graph0.outerJoinVertices(graph0.outDegrees) { (_, _, d) =>
        (1000000L, d.getOrElse(0)) }.cache()
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Long](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2),
        _ + _)
      val prev = g
      g = g.outerJoinVertices(msgs) { (_, attr, m) =>
        (150000L + (m.getOrElse(0L) * 17L) / 20L, attr._2) }.cache()
      g.vertices.count() // materialize before releasing the parent
      prev.unpersist(blocking = false)
    }
    g.vertices.map { case (vid, (r, _)) => (vid, r) }
      .toDF("vid", "rank_micros")
      .join(vmap, "vid")
      .select(col("id"), col("rank_micros"))
  }

  /** DataFrame power-iteration PageRank — the same fixed-iteration
    * semantics as [[pageRank]] (GraphX staticPageRank: ranks start at
    * 1.0; each round every vertex recomputes
    * `rank = (1-d) + d * Σ_{u→v} rank(u)/outdeg(u)`; dangling mass is
    * not redistributed per-round, and the FINAL ranks are rescaled so
    * they sum to |V| — GraphX's sink correction, verified value-equal
    * against staticPageRank in AsOfPageRankSpec), expressed as one
    * shuffle per iteration so the whole computation is plain Catalyst
    * plans and — unlike the GraphX RDD path — SQL-expressible for the
    * DuckDB oracle (qX_pagerank_df).
    *
    * Scale shape: `contribs` (edges with their source's out-degree) is
    * materialized once; each iteration joins it to the current ranks on
    * `src` (narrow if edges are bucketed by src) and reduces on `dst`
    * (map-side partial sums first — the hub-skew absorber at 100 TB).
    * Rounds run on the [[Fixpoint]] cadence, a lineage cut every 5.
    */
  def pageRankDF(edges: DataFrame, iters: Int = 10,
                 damping: Double = 0.85): DataFrame =
    normalizeToV(powerIteration(edges.select(col("src"), col("dst")),
      count(lit(1)).as("outdeg"), col("rank") / col("outdeg"), lit(1.0),
      lit(1.0 - damping), iters, damping))

  /** One power-iteration round: join current ranks into the contrib
    * edges on src, reduce each dst's `msg` (map-side partial sums —
    * the hub-skew absorber), left-join back onto the full vertex set
    * as `reset + d·msum`. Exposed for plan-shape regression tests. */
  private[graft] def prStep(contribs: DataFrame, verts: DataFrame,
                            ranks: DataFrame, msg: Column, reset: Column,
                            damping: Double): DataFrame = {
    val msgs = contribs
      .join(ranks.withColumnRenamed("id", "src"), "src")
      .groupBy(col("dst").as("id"))
      .agg(sum(msg).as("msum"))
    verts.join(msgs, Seq("id"), "left")
      .select(col("id"),
        (reset + lit(damping) * coalesce(col("msum"), lit(0.0))).as("rank"))
  }

  /** The PageRank family's power-iteration core: `e` (src, dst, …)
    * joined with its per-source `out` aggregate is the contrib table,
    * materialized once with the vertex set; ranks start at `rank0` and
    * take `iters` [[prStep]] rounds of `msg` and `reset`. The message
    * divides per term (`rank / outdeg`, never `rank · (1/outdeg)`): the
    * two differ in the last float ulp and the oracles divide. */
  private def powerIteration(e: DataFrame, out: Column, msg: Column,
                             rank0: Column, reset: Column, iters: Int,
                             damping: Double): DataFrame = {
    val outs = e.groupBy("src").agg(out)
    val contribs = e.join(outs, "src")
      .select((e.columns ++ outs.columns.tail).map(col).toSeq: _*)
      .localCheckpoint(true)
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    Fixpoint.rounds(verts.withColumn("rank", rank0), iters, 5)(
      (ranks, _) => prStep(contribs, verts, ranks, msg, reset, damping))
  }

  /** GraphX's normalization: rescale so Σrank = |V| (two scalars to
    * the driver — constant-size at any graph scale). */
  private def normalizeToV(ranks: DataFrame): DataFrame = {
    val agg = ranks.agg(count(lit(1)).as("n"), sum(col("rank")).as("s")).head()
    val (n, s) = (agg.getLong(0), agg.getDouble(1))
    ranks.select(col("id"),
      round(col("rank") * lit(n) / lit(s), 6).as("rank"))
  }

  /** Weighted PageRank — [[pageRankDF]] with edge weights: each round
    * `rank(v) = (1−d) + d · Σ_{u→v} rank(u) · w(u,v) / wout(u)` where
    * `wout(u)` is u's total outgoing weight. The reference's `knows`
    * edges carry a `weight: double` property the unweighted walk
    * ignores (upsert_bizcard_to_graph_db.py:104-109,
    * README.md:359-364) — this is the centrality that actually uses
    * it. Same fixed-iteration determinism, dangling handling, final
    * Σrank = |V| rescale and power-iteration core as [[pageRankDF]].
    * Integer weights keep `rank·w/wout` a two-op IEEE expression
    * identical across engines (oracle-checked, qX_pagerank_weighted).
    *
    * @param edges (src, dst, w) — positive weights; multiplicity
    *              counts from [[graft.queries.GraphQueries.derivedEdgesWeighted]]
    *              in the gate.
    */
  def pageRankWeightedDF(edges: DataFrame, iters: Int = 10,
                         damping: Double = 0.85): DataFrame =
    normalizeToV(powerIteration(edges.select(col("src"), col("dst"), col("w")),
      sum(col("w")).as("wout"), col("rank") * col("w") / col("wout"),
      lit(1.0), lit(1.0 - damping), iters, damping))

  /** Connected components (undirected) — community seed for the social
    * graph. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val (graph, vmap) = toGraphX(vertices, edges)
    val spark = vertices.sparkSession
    import spark.implicits._
    graph.connectedComponents().vertices.toDF("vid", "component")
      .join(vmap, "vid").select(col("id"), col("component"))
  }

  /** Personalized PageRank — random walk with restart to ONE anchor
    * vertex: rank₀ = [v = anchor]; each round
    * `rank = (1−d)·[v = anchor] + d·Σ_{u→v} rank(u)/outdeg(u)`.
    * The probability mass concentrates around the anchor, which makes
    * PPR the principled generalization of the 2-hop PYMK count
    * ([[Pymk.recommend]] is exactly the 2-walk term of this series) —
    * recommendation strength with multi-hop evidence folded in. No
    * final rescale (the teleport vector already fixes total mass).
    * Same power-iteration core as [[pageRankDF]] (one keyed shuffle
    * per round); SQL-expressible, oracle-checked (qX_ppr).
    */
  def personalizedPageRankDF(edges: DataFrame, anchor: Column,
                             iters: Int = 10,
                             damping: Double = 0.85): DataFrame =
    powerIteration(edges.select(col("src"), col("dst")),
        count(lit(1)).as("outdeg"), col("rank") / col("outdeg"),
        when(col("id") === anchor, lit(1.0)).otherwise(lit(0.0)),
        when(col("id") === anchor, lit(1.0 - damping)).otherwise(lit(0.0)),
        iters, damping)
      .select(col("id"), round(col("rank"), 6).as("rank"))

  /** Connected components in pure DataFrame ops — min-label
    * propagation to convergence: every vertex starts labeled with its
    * own id; each round it takes the min of its label and its
    * neighbors' labels; at the fixpoint the label IS the component's
    * minimum vertex id (the same canonical form qX_cc_graphx maps
    * GraphX components onto, so both share one DuckDB
    * recursive-closure oracle).
    *
    * Scale shape: one keyed shuffle per round (join labels into the
    * adjacency on the neighbor side, min-reduce per vertex) with
    * map-side partial mins absorbing hub skew — the same
    * hub-absorber argument as [[pageRankDF]]'s rank sum. Each round
    * ends with a pointer-jump (path halving: comp := comp(comp), a
    * self-join of the label table on the label value), so a label's
    * distance to its component minimum HALVES per round — O(log
    * diameter) rounds instead of O(diameter), the same guarantee the
    * alternating large-star/small-star algorithm buys, at one extra
    * keyed join per round. Rounds chain lazily in blocks of two, one
    * [[Fixpoint]] round each: the block's changed-row count (its last
    * round against its pre-round label) rides the block's one
    * checkpoint job, and a final round that changed nothing proves the
    * fixpoint (the round operator is deterministic and monotone —
    * tighter than comparing across the block).
    *
    * Safety of the jump: label values are always vertex ids from the
    * SAME component (min-propagation only moves ids along edges, and
    * the jump reads another vertex's label), so comp(comp) is defined
    * and stays in-component; labels stay monotone non-increasing, and
    * the combined operator's fixpoint is the plain min-label fixpoint
    * (comp constant per component = the component minimum).
    *
    * @return (id, comp) — comp = min vertex id of the component.
    */
  def connectedComponentsDF(edges: DataFrame,
                            maxRounds: Int = 60): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "from", "to").localCheckpoint(true)
    // initial labels chain lazily into block 1 (the distinct's
    // exchange is reused within the block plan) — no separate
    // materialization job
    val labels = adj.select(col("from").as("id")).distinct()
      .withColumn("comp", col("id"))
    val (fixed, _, _) = Fixpoint.converge(labels, 0L,
        count(when(col("_chg"), lit(1))), (maxRounds + 1) / 2) { (state, _) =>
      var cur = state.select(col("id"), col("comp"))
      for (r <- 1 to 2) {
        // the block's last round carries its pre-round label (pc)
        val capture = if (r == 2) Seq(col("comp").as("pc")) else Nil
        val carry = if (r == 2) Seq(col("pc")) else Nil
        val msgs = adj
          .join(cur.select(col("id").as("to"), col("comp").as("nc")), "to")
          .groupBy(col("from").as("id"))
          .agg(min(col("nc")).as("mc"))
        val stepped = cur.join(msgs, Seq("id"), "left")
          .select(col("id") +: capture :+
            least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"): _*)
        // pointer jump: comp := min(comp, comp(comp))
        val parents = stepped
          .select(col("id").as("pid"), col("comp").as("pcomp"))
        cur = stepped.join(parents, col("comp") === col("pid"), "left")
          .select(col("id") +: carry :+
            least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"): _*)
      }
      cur.select(col("id"), col("comp"), (col("comp") < col("pc")).as("_chg"))
    } ((_, changed) => changed == 0L)
    fixed.select(col("id"), col("comp"))
  }

  /** Deterministic random-walk corpus over the simple undirected graph
    * — the DeepWalk/node2vec input generator: `walksPerVertex` walks
    * of `length` steps start at every vertex, each step moving to the
    * neighbor at index `mix(walk, step, cur) mod deg(cur)` of the
    * id-ordered adjacency. The walk "randomness" is a splittable
    * arithmetic mix (affine in walk id, step, and current vertex,
    * reduced mod the prime 1000003 — the [[Dedup]] MinHash field
    * trick), NOT an RNG: replayable, resumable, and SQL-expressible,
    * so the corpus is oracle-checked end to end (qX_random_walks) —
    * the property a training pipeline needs when a walk corpus must be
    * regenerated bit-identically months later. Magnitude bound under
    * ANSI mode: all products stay < 2^63 for vertex ids up to ~2^40.
    *
    * Scale shape per step: the frontier joins the degree table (narrow)
    * to compute its pick, then equi-joins the indexed adjacency on the
    * COMPOSITE key (vertex, idx) — never "join the full neighbor list,
    * then filter", which would materialize deg(v) rows per walk at a
    * hub. Adjacency index + degrees are built once (one window over the
    * id-ordered neighbor list) and localCheckpointed; the walk frontier
    * stays (walk_id, cur)-narrow; steps chain lazily with a lineage cut
    * every 2 steps.
    *
    * @return (walk_id, step, vertex), step 0..length — one corpus row
    *         per visited position; walk_id = start_id·walksPerVertex+r.
    */
  def randomWalks(edges: DataFrame, walksPerVertex: Int = 2,
                  length: Int = 4, seed: Long = 7L): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "from", "to")
    val adjIdx = adj.withColumn("idx",
        row_number().over(Window.partitionBy(col("from"))
          .orderBy(col("to"))) - 1)
      .localCheckpoint(true)
    val degs = adjIdx.groupBy("from").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var cur = adjIdx.select(col("from").as("id")).distinct()
      .select(col("id"), explode(sequence(lit(0),
        lit(walksPerVertex - 1))).as("r"))
      .select((col("id") * walksPerVertex + col("r")).as("walk_id"),
        col("id").as("cur"))
    var out = cur.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("vertex"))
    for (s <- 1 to length) {
      // pmod, not %: Spark % takes the dividend's sign, so a negative
      // vertex id would yield a negative pick matching no 0-based adj
      // idx and silently truncate the walk (the oracle floor-mods the
      // same way; inner pmod makes the outer % operate on a
      // non-negative value, so it needs no second pmod)
      val picked = cur
        .join(degs.withColumnRenamed("from", "cur"), "cur")
        .withColumn("pick",
          pmod(col("walk_id") * lit(40503L) + lit(s.toLong) * lit(2654435L) +
            col("cur") * lit(69069L) + lit(seed), lit(1000003L))
            % col("deg"))
      val stepped0 = picked.alias("p")
        .join(adjIdx.alias("a"),
          col("p.cur") === col("a.from") && col("p.pick") === col("a.idx"))
        .select(col("p.walk_id").as("walk_id"), col("a.to").as("cur"))
      val stepped = if (s % 2 == 0 || s == length)
        stepped0.localCheckpoint(true) else stepped0
      cur = stepped
      out = out.unionAll(stepped.select(col("walk_id"),
        lit(s).as("step"), col("cur").as("vertex")))
    }
    out
  }

  /** node2vec biased second-order walks (Grover & Leskovec 2016) —
    * [[randomWalks]]' uniform step upgraded to the p/q-biased
    * transition: stepping from `prev` through `cur`, neighbor `x`
    * weighs 1/p if x == prev (return), 1 if x is a neighbor of prev
    * (BFS-ish stay-local), 1/q otherwise (DFS-ish explore). Weights
    * quantize to integer MILLIs (round(1000/p) etc.) so the cumulative
    * sums and the modular pick are exact integer arithmetic — the same
    * replayable no-RNG contract as [[randomWalks]] (identical
    * arithmetic-mix coin), which is what makes a 100 TB walk corpus
    * regenerable bit-identically and the whole corpus oracle-checkable
    * (qX_node2vec). Step 1 has no `prev` and is uniform, exactly
    * [[randomWalks]]' first step.
    *
    * Scale shape per step: the frontier fans out to its full neighbor
    * candidate list (Σ deg(cur) rows — inherent to second-order
    * sampling: every candidate's weight depends on prev-adjacency),
    * one broadcast-free keyed join against the canonical edge set
    * marks prev-neighbors, and the weighted pick is a per-walk window
    * over ≤ deg(cur) rows (never a global window). Three keyed
    * shuffles per step, frontier re-narrowed to (walk_id, prev, cur)
    * immediately; lineage cut every 2 steps like every iterative op
    * here.
    *
    * @return (walk_id, step, vertex), step 0..length.
    */
  def node2vecWalks(edges: DataFrame, walksPerVertex: Int = 2,
                    length: Int = 4, p: Double = 4.0, q: Double = 0.25,
                    seed: Long = 7L): DataFrame = {
    require(p > 0 && q > 0, s"node2vec p and q must be > 0, got p=$p q=$q")
    // clamp to >= 1 milli: a 0 weight from huge p/q would zero a
    // degree-1 vertex's total and make the modular pick divide by
    // zero (ANSI throws); 1/1000th keeps every neighbor reachable
    val wRet = math.max(1L, math.round(1000.0 / p))
    val wOut = math.max(1L, math.round(1000.0 / q))
    val canon = simpleEdges(edges)
      .localCheckpoint(true)
    val adj = bothWays(canon, "from", "to")
    val adjIdx = adj.withColumn("idx",
        row_number().over(Window.partitionBy(col("from"))
          .orderBy(col("to"))) - 1)
      .localCheckpoint(true)
    val degs = adjIdx.groupBy("from").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val starts = adjIdx.select(col("from").as("id")).distinct()
      .select(col("id"), explode(sequence(lit(0),
        lit(walksPerVertex - 1))).as("r"))
      .select((col("id") * walksPerVertex + col("r")).as("walk_id"),
        col("id").as("cur"))
    def coin(s: Int): Column =
      pmod(col("walk_id") * lit(40503L) + lit(s.toLong) * lit(2654435L) +
        col("cur") * lit(69069L) + lit(seed), lit(1000003L))
    // step 1: uniform, no prev yet — randomWalks' exact first step
    val first = starts
      .join(degs.withColumnRenamed("from", "cur"), "cur")
      .withColumn("pick", coin(1) % col("deg"))
      .alias("p")
      .join(adjIdx.alias("a"),
        col("p.cur") === col("a.from") && col("p.pick") === col("a.idx"))
      .select(col("p.walk_id").as("walk_id"), col("p.cur").as("prev"),
        col("a.to").as("cur"))
      .localCheckpoint(true)
    var cur = first
    var out = starts.select(col("walk_id"), lit(0).as("step"),
        col("cur").as("vertex"))
      .unionAll(first.select(col("walk_id"), lit(1).as("step"),
        col("cur").as("vertex")))
    for (s <- 2 to length) {
      val cands = cur.alias("w")
        .join(adjIdx.alias("a"), col("w.cur") === col("a.from"))
        .select(col("w.walk_id").as("walk_id"), col("w.prev").as("prev"),
          col("w.cur").as("cur"), col("a.to").as("to"), col("a.idx").as("idx"))
      val marked = cands.alias("c")
        .join(canon.withColumn("_nb", lit(1)).alias("n"),
          least(col("c.prev"), col("c.to")) === col("n.u") &&
            greatest(col("c.prev"), col("c.to")) === col("n.v"),
          "left")
        .select(col("c.*"),
          when(col("c.to") === col("c.prev"), lit(wRet))
            .when(col("n._nb").isNotNull, lit(1000L))
            .otherwise(lit(wOut)).as("w"))
      val wWin = Window.partitionBy(col("walk_id")).orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tWin = Window.partitionBy(col("walk_id"))
      val picked = marked
        .withColumn("cw", sum(col("w")).over(wWin))
        .withColumn("tot", sum(col("w")).over(tWin))
        .withColumn("rr", coin(s) % col("tot"))
        .filter(col("rr") >= col("cw") - col("w") && col("rr") < col("cw"))
        .select(col("walk_id"), col("cur").as("prev"), col("to").as("cur"))
      val stepped = if (s % 2 == 0 || s == length)
        picked.localCheckpoint(true) else picked
      cur = stepped
      out = out.unionAll(stepped.select(col("walk_id"),
        lit(s).as("step"), col("cur").as("vertex")))
    }
    out
  }

  /** Skip-gram (center, context) training pairs from a walk corpus —
    * the DeepWalk/node2vec step that turns [[randomWalks]] output into
    * word2vec input: for every walk, each ordered pair of positions at
    * distance 1..`window` yields (vertex@i, vertex@j), aggregated to
    * (center, context, n) counts.
    *
    * Scale shape: ONE keyed shuffle on walk_id for the self-join; per
    * walk the join output is ≤ (L+1)·2w rows — bounded by walk length
    * and window, never by graph degree (hubs already flattened into
    * fixed-length walks upstream) — then a (center, context) hash
    * aggregation with map-side partial counts. The count matrix is the
    * co-occurrence statistic SGNS factorizes, so downstream trainers
    * read (center, context, n) instead of re-materializing pair
    * instances.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "skip-gram window must be >= 1")
    val a = walks.select(col("walk_id"), col("step").as("ci"),
      col("vertex").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("xi"),
      col("vertex").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("ci") =!= col("xi") &&
        abs(col("ci") - col("xi")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }

  /** word2vec frequent-token subsampling over the walk corpus
    * (Mikolov et al. 2013 §2.3): occurrence of vertex v survives with
    *   p(v) = min(1, (√(f/t) + 1) · t/f),   f = corpus frequency of v
    * so hubs (which dominate walk corpora exactly like "the" dominates
    * text) lose most of their occurrences while rare vertices keep
    * all. The per-occurrence coin is the engine's arithmetic-mix hash
    * on (walk_id, step) — the same replayable scheme as the walk's
    * neighbor pick, so the decision is deterministic, shuffle-free to
    * recompute, and SQL-reproducible (no xxhash — this keeps the gate
    * a full-row oracle rather than a recall contract).
    *
    * Scale shape: the frequency table is one hash aggregation of the
    * corpus (|V| rows — broadcast into the filter join); the keep
    * decision is a narrow per-row expression. One scan + one broadcast
    * join, no shuffle of the corpus itself.
    */
  def subsampleWalks(walks: DataFrame, t: Double = 1e-3,
                     seed: Long = 7L): DataFrame = {
    val freqs = walks.groupBy("vertex").agg(count(lit(1)).as("_n"))
    val totalRow = freqs.agg(sum(col("_n"))).head
    if (totalRow.isNullAt(0)) return walks // empty corpus: nothing to thin
    val total = totalRow.getLong(0).toDouble
    val keep = broadcast(freqs.select(col("vertex"),
      least(lit(1.0),
        (sqrt(col("_n") / lit(total) / lit(t)) + lit(1.0)) *
          lit(t) / (col("_n") / lit(total))).as("_p")))
    walks.join(keep, "vertex")
      .filter(pmod(col("walk_id") * lit(40503L) +
          col("step") * lit(2654435L) + lit(seed), lit(1000003L))
          .cast("double") / lit(1000003.0) < col("_p"))
      .select(col("walk_id"), col("step"), col("vertex"))
  }

  /** word2vec negative-sampling table: per-vertex sampling weight
    * n^`power` (0.75 — the unigram smoothing that upweights rare
    * tokens), with exact-integer micro-unit weights so the normalizing
    * sum and the cumulative column are order-independent across
    * engines (the NOTES integer-micro rule: summing rounded FLOATS is
    * still order-sensitive at the next rounding boundary). A sampler
    * draws u ~ U[0,1) and binary-searches `cum` — the standard
    * alias-free word2vec table, here as data instead of an array.
    *
    * The cumulative window is global (single partition) — fine here
    * because it runs over the |V|-row VOCAB aggregate, never the walk
    * corpus; for a vocabulary that doesn't fit one partition use
    * [[negativeSamplingTableScalable]] (bit-identical output, no
    * global window).
    *
    * @return (vertex, n, p, cum) ordered by vertex; p = normalized
    *         sampling probability, cum = inclusive cumulative p.
    */
  def negativeSamplingTable(walks: DataFrame,
                            power: Double = 0.75): DataFrame = {
    val w = walks.groupBy("vertex").agg(count(lit(1)).as("n"))
      .withColumn("_w",
        round(pow(col("n").cast("double"), lit(power)) * lit(1e6))
          .cast("long"))
    val totalRow = w.agg(sum(col("_w"))).head
    if (totalRow.isNullAt(0)) // empty corpus: empty table, right schema
      return w.select(col("vertex"), col("n"),
        lit(0.0).as("p"), lit(0.0).as("cum"))
    val totalW = totalRow.getLong(0)
    val cumW = Window.orderBy(col("vertex"))
      .rowsBetween(Window.unboundedPreceding, 0)
    w.withColumn("p", round(col("_w") / lit(totalW.toDouble), 8))
      .withColumn("cum",
        round(sum(col("_w")).over(cumW) / lit(totalW.toDouble), 8))
      .select(col("vertex"), col("n"), col("p"), col("cum"))
      .orderBy(col("vertex"))
  }

  /** [[negativeSamplingTable]] without the global window — the
    * billion-token-vocab path: the inclusive cumulative weight comes
    * from [[Packing.globalCumSum]] (range-partition by vertex, local
    * windowed cumsum, per-partition totals lifted via one
    * O(#partitions) driver transfer). The integer micro weights make
    * the distributed prefix sum EXACT, so the output is bit-identical
    * to the window form (equivalence-spec'd in ScaleOpsSpec). */
  def negativeSamplingTableScalable(walks: DataFrame,
                                    power: Double = 0.75,
                                    partitions: Int = 0): DataFrame = {
    val w = walks.groupBy("vertex").agg(count(lit(1)).as("n"))
      .withColumn("_w",
        round(pow(col("n").cast("double"), lit(power)) * lit(1e6))
          .cast("long"))
    val totalRow = w.agg(sum(col("_w"))).head
    if (totalRow.isNullAt(0)) // empty corpus: empty table, right schema
      return w.select(col("vertex"), col("n"),
        lit(0.0).as("p"), lit(0.0).as("cum"))
    val totalW = totalRow.getLong(0)
    Packing.globalCumSum(w, Seq("vertex"), "_w", partitions)
      .withColumn("p", round(col("_w") / lit(totalW.toDouble), 8))
      .withColumn("cum", round(col("_gcum") / lit(totalW.toDouble), 8))
      .select(col("vertex"), col("n"), col("p"), col("cum"))
      .orderBy(col("vertex"))
  }

  /** Synchronous label propagation communities over the simple
    * undirected graph — the cheap community detector that needs no
    * target count: label₀(v) = v; each round every vertex adopts the
    * most frequent label among its neighbors, ties broken by the
    * SMALLEST label (the determinism LPA usually lacks — GraphX's
    * `LabelPropagation` tie-breaks on hash-map iteration order, which
    * is why this engine ships the DF form as the contract). Fixed
    * `rounds`, not convergence: synchronous LPA can 2-cycle on
    * bipartite-ish regions, so a fixed budget is both the determinism
    * and the termination story, and the qX_lpa oracle unrolls the same
    * rounds as chained CTEs (the [[kCore]] playbook).
    *
    * Scale shape per round: one keyed shuffle — join labels into the
    * adjacency on the neighbor side, count (vertex, label) pairs with
    * map-side partial counts (the hub absorber), then a bounded-heap
    * top-1 per vertex ([[TopK.grouped]] — no window sort of the full
    * label-count table). [[Fixpoint]] cadence, a lineage cut every 2.
    *
    * @return (id, lbl) — community label per vertex of the edge view.
    */
  def labelPropagationDF(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "from", "to")
      .localCheckpoint(true)
    val labels = adj.select(col("from").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    Fixpoint.rounds(labels, rounds, 2) { (labels, _) =>
      val counted = adj
        .join(labels.select(col("id").as("to"), col("lbl")), "to")
        .groupBy(col("from").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // top-1 by (count desc, label asc): negate the count for the
      // smallest-first heap; every vertex of adj has >= 1 neighbor
      TopK.grouped(counted, Seq("id"),
          struct((-col("c")).as("_nc"), col("lbl").as("_l")), 1)
        .select(col("id"), col("best._l").as("lbl"))
    }
  }

  /** One-level synchronous Louvain local moving (Blondel et al. 2008,
    * the first sweep) — the MODULARITY-greedy community detector
    * beside [[labelPropagationDF]]'s frequency-greedy one: from
    * singleton communities, each round EVERY vertex evaluates moving
    * into each neighbor's community and takes the best strictly
    * positive modularity gain. Gains compare as EXACT cross-multiplied
    * integers — ΔQ·2m² ∝ [2m·k_{i,in}(c) − k_i·tot_c] −
    * [2m·k_{i,in}(own) − k_i·(tot_own − k_i)] — so no float fold ever
    * orders a move (ties → smaller community label), and the fixed
    * `rounds` computation unrolls as chained CTEs in the DuckDB
    * oracle. Synchronous moving can oscillate (like synchronous LPA);
    * the fixed budget is the determinism and termination story.
    * Labels canonicalize to the community's min member id.
    *
    * Scale shape per round: one adjacency join against the B-row
    * community table, one (vertex, community) count fold (map-side
    * partial), one community-degree fold, one bounded-heap argmax per
    * vertex — every stage keyed, the [[labelPropagationDF]] cadence.
    * The 1-row 2m scalar is a driver long (codebook convention).
    *
    * @return (id, community) — canonical min-member label, ordered.
    */
  def louvainSync(edges: DataFrame, rounds: Int = 2): DataFrame = {
    // 2m: each undirected edge counted twice
    val (adj, m2) = Fixpoint.observed(bothWays(simpleEdges(edges), "from", "to"),
      count(lit(1)))
    val deg = adj.groupBy(col("from").as("id"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(true)
    val init = deg.select(col("id"), col("id").as("c0"))
    val com = Fixpoint.rounds(init, rounds, 1) { (com, round) =>
      // read for candidates AND the own term
      val tot = round.cut(com.join(deg, "id").groupBy(col("c0").as("c"))
        .agg(sum(col("k")).as("tot")))
      // k_{i,in}(c): edges from each vertex into each NEIGHBOR community
      // (own term + move candidates)
      val kiin = round.cut(adj
        .join(com.select(col("id").as("to"), col("c0").as("c")), "to")
        .groupBy(col("from").as("id"), col("c"))
        .agg(count(lit(1)).as("kin")))
      val base = com.join(deg, "id")
        .join(tot.select(col("c").as("c0"), col("tot").as("tot_own")), "c0")
        .join(kiin.select(col("id"), col("c").as("c0"),
          col("kin").as("kin_own")), Seq("id", "c0"), "left")
        .select(col("id"), col("c0"), col("k"),
          (lit(m2) * coalesce(col("kin_own"), lit(0L))
            - col("k") * (col("tot_own") - col("k"))).as("own_term"))
      val moves = kiin.join(base, "id")
        .filter(col("c") =!= col("c0"))
        .join(tot, "c")
        .select(col("id"),
          struct((-(lit(m2) * col("kin") - col("k") * col("tot")
            - col("own_term"))).as("nd"), col("c").as("tc")).as("mv"))
        .filter(-col("mv.nd") > 0)
      val best = TopK.grouped(moves, Seq("id"), col("mv"), 1)
        .select(col("id"), col("best.tc").as("c_new"))
      com.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("c_new"), col("c0")).as("c0"))
    }
    val canonLbl = com.groupBy(col("c0"))
      .agg(min(col("id")).as("community"))
    com.join(canonLbl, "c0")
      .select(col("id"), col("community"))
      .orderBy(col("id"))
  }

  /** Global transitivity (Newman 2003's graph clustering coefficient)
    * — one number for the whole graph: `C = 3·triangles / wedges`,
    * distinct from the AVERAGE of [[clusteringCoefficientDF]]'s local
    * coefficients (the two diverge on hub-heavy graphs — transitivity
    * weights hubs by their wedge count, the average does not). Both
    * sufficient statistics are exact integer folds: Σ per-vertex
    * triangle counts = 3T, Σ d(d−1)/2 = wedges.
    *
    * @return one row (n_wedges, triangle_incidences,
    *         transitivity_micros) — triangle_incidences = 3T.
    */
  def transitivity(edges: DataFrame): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "deg")
    val wedges = deg.agg(
      sum((col("deg") * (col("deg") - 1) / lit(2)).cast("long")).as("w"))
    val tri = triangleCountsDF(edges)
      .agg(sum(col("n_tri")).as("t3"))
    wedges.crossJoin(tri)
      .select(col("w").as("n_wedges"), col("t3").as("triangle_incidences"),
        when(col("w") === 0, lit(0L))
          .otherwise(floor(lit(1e6) * col("t3").cast("double")
            / col("w").cast("double")).cast("long"))
          .as("transitivity_micros"))
  }

  /** Bond-percolation robustness curve (Callaway et al. 2000; the
    * random-failure side of the Albert–Barabási attack analysis) —
    * how much of the graph stays connected as edges fail: for each
    * retention rate the simple undirected view keeps edges whose
    * md5 bucket clears the rate (deterministic, replayable — the
    * mixtureSample keep rule on edge keys), connected components run
    * on the survivors, and the giant-component fraction is reported
    * against the FULL vertex set (an isolated vertex is a size-1
    * component). One CC pass per rate — rates are a handful, so the
    * curve costs |rates| keyed-iteration runs, never |rates|·n².
    *
    * @return (rate_micros, n_edges_kept, n_vertices, giant_size,
    *         giant_frac_micros), one row per rate, ordered.
    */
  def percolation(edges: DataFrame, rates: Seq[Double]): DataFrame = {
    val canon = simpleEdges(edges)
      .localCheckpoint(true) // re-filtered once per rate
    val verts = canon.select(col("u").as("id"))
      .unionAll(canon.select(col("v").as("id"))).distinct()
      .localCheckpoint(true)
    val nVerts = verts.count()
    val spark = edges.sparkSession
    // each rate's keep-filter → CC → giant-component agg is an
    // INDEPENDENT job chain over the shared checkpointed edge set:
    // submit them from concurrent driver threads so one rate's
    // iterative CC stages back-fill cores another rate's tail leaves
    // idle (results are per-rate deterministic; awaited in rate order)
    val rows = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(rates.sorted.map { rate => Future {
        val kObs = org.apache.spark.sql.Observation()
        val keep = canon.filter(
          Sampling.md5Bucket(concat(col("u").cast("string"), lit(":"),
            col("v").cast("string")))
            < lit(math.floor(rate * Sampling.BucketSpace).toLong))
          .observe(kObs, count(lit(1)).as("n"))
          .localCheckpoint(true) // CC input; count rides the same job
        val nKept = kObs.get("n").asInstanceOf[Long]
        val giant =
          if (nKept == 0) 1L // every vertex isolated; giant = 1 (if any)
          else connectedComponentsDF(
              keep.select(col("u").as("src"), col("v").as("dst")))
            .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
            .agg(max(col("sz"))).head().getLong(0)
        val g = if (nVerts == 0) 0L else giant
        (math.floor(rate * 1e6).toLong, nKept, nVerts, g,
          if (nVerts == 0) 0L else math.floor(1e6 * g.toDouble / nVerts).toLong)
      }}), Duration.Inf)
    }
    import spark.implicits._
    rows.toDF("rate_micros", "n_edges_kept", "n_vertices", "giant_size",
        "giant_frac_micros")
      .orderBy(col("rate_micros"))
  }

  /** Coreness (k-shell number) of every vertex by ITERATED H-INDEX
    * (Lü et al. 2016: h⁰ = degree; hᵏ⁺¹(v) = H over the neighbors'
    * hᵏ — the largest h with ≥h neighbors at ≥h; the fixpoint IS the
    * coreness) — the full decomposition [[kCore]]'s single-k peel
    * only thresholds: ranking spreaders, onion layers, graph
    * visualization shells. The H operator evaluates as
    * `max over neighbor rank r of min(r, value_r)` with values
    * ranked desc within each vertex — a DEGREE-BOUNDED per-vertex
    * window (partitioned by vertex, never global), all integer.
    * At most `rounds` rounds (h-index iteration converges in a few
    * rounds on short-diameter graphs; monotone non-increasing toward
    * the coreness from above), unrolled in the qX_coreness oracle —
    * with a FIXPOINT EARLY EXIT: an unchanged Σh proves an unchanged
    * vector (pointwise monotonicity), so skipped rounds are provable
    * no-ops the unrolled oracle replays identically.
    *
    * @return (id, coreness) over the simple undirected view, ordered.
    */
  def corenessHIndex(edges: DataFrame, rounds: Int = 4): DataFrame = {
    // Σh⁰ = Σ degree = |adj|: the count rides adj's checkpoint, and h⁰
    // chains lazily into round 1
    val (adj, degSum) = Fixpoint.observed(bothWays(simpleEdges(edges), "f", "t"),
      count(lit(1)))
    val h0 = adj.groupBy(col("f").as("id")).agg(count(lit(1)).as("h"))
    // exit on an unchanged Σh: the iterated h-index is POINTWISE
    // NON-INCREASING from the degree init (H is monotone in its inputs,
    // so hᵏ ≤ hᵏ⁻¹ pointwise by induction — Lü et al. 2016) over a
    // constant vertex set, so an unchanged sum proves an unchanged vector
    val (h, _, _) = Fixpoint.converge(h0, degSum,
        coalesce(sum(col("h")), lit(0L)), rounds) { (h, _) =>
      val nbr = adj.join(h.select(col("id").as("t"), col("h").as("hv")), "t")
      // BOUNDED per-vertex window: one vertex's neighbor list
      val w = Window.partitionBy(col("f"))
        .orderBy(desc("hv"), col("t"))
      nbr.withColumn("r", row_number().over(w))
        .groupBy(col("f").as("id"))
        .agg(max(least(col("r"), col("hv"))).as("h"))
    } (_ == _)
    h.select(col("id"), col("h").as("coreness")).orderBy(col("id"))
  }

  /** k-core of the simple undirected graph — the densest-region
    * extraction used for community cores and spam-farm detection:
    * iteratively peel every vertex whose degree WITHIN the remaining
    * subgraph is < k until no vertex falls out. Runs a FIXED `rounds`
    * count rather than to-convergence: the result is deterministic and
    * SQL-expressible (the qX_kcore oracle unrolls the same rounds as
    * chained CTEs, hash-matching even mid-convergence), and peeling on
    * short-diameter social graphs converges in a handful of rounds —
    * the spec asserts the gate configuration reaches its fixpoint.
    * Per round: one induced-degree aggregation (map-side partial
    * counts) + one semi join — O(rounds) keyed shuffles. It is
    * [[kCoreConverged]]'s loop with `maxRounds = rounds`, which also
    * stops on an empty survivor set: peeling only REMOVES vertices, so
    * an unchanged or empty survivor count fixes every later round,
    * and the skipped rounds are no-ops the unrolled oracle replays to
    * the same table.
    *
    * @return (id, in_core) for every vertex of the edge view.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame =
    peel(edges, k, rounds)((prev, n) => n == prev || n == 0L)._1

  /** [[kCore]]'s converge-and-verify mode: peel until a round removes
    * no vertex (the true k-core fixpoint), up to `maxRounds`. The
    * fixed-round sibling is the oracle contract (deterministic,
    * SQL-unrollable) but silently returns mid-cascade membership on
    * graphs whose peeling is deeper than its round budget — general
    * callers should use this form and check the flag. Peeling is
    * monotone (the survivor set only shrinks), so "this round removed
    * nothing" IS the fixpoint test, one count per round riding the
    * round's checkpoint job.
    *
    * @return (membership as in [[kCore]], converged, rounds) —
    *         `converged` false only if `maxRounds` rounds elapsed while
    *         vertices were still falling out; `rounds` = peel
    *         iterations executed, INCLUDING the fixpoint-confirming one
    *         (the first round that removes nothing), so it is directly
    *         comparable to an unrolled-CTE oracle's first i with
    *         |c_i| = |c_{i-1}|.
    */
  def kCoreConverged(edges: DataFrame, k: Int,
                     maxRounds: Int = 64): (DataFrame, Boolean, Int) =
    peel(edges, k, maxRounds)(_ == _)

  /** The k-core peel on [[Fixpoint.converge]]: each round keeps the
    * survivors with ≥ k edges to other survivors, until
    * `done(prevCount, count)` or `maxRounds`. */
  private def peel(edges: DataFrame, k: Int, maxRounds: Int)
                  (done: (Long, Long) => Boolean): (DataFrame, Boolean, Int) = {
    val adj = bothWays(simpleEdges(edges), "from", "to")
      .localCheckpoint(true)
    val (verts, n) = Fixpoint.observed(adj.select(col("from").as("id")).distinct(),
      count(lit(1)))
    val (core, converged, rounds) =
      Fixpoint.converge(verts, n, count(lit(1)), maxRounds) { (core, _) =>
        // induced degree: only edges whose BOTH endpoints survive
        adj.join(core.select(col("id").as("from")), "from")
          .join(core.select(col("id").as("to")), "to")
          .groupBy(col("from").as("id"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select("id")
      } (done)
    val membership = verts
      .join(core.withColumn("in_core", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_core"), lit(false)).as("in_core"))
    (membership, converged, rounds)
  }

  /** Exact per-vertex triangle counts over the simple undirected graph,
    * in pure DataFrame joins — clustering-coefficient / community
    * signal (the graph twin of the reference's friend-of-friend
    * analytics; the SQL-expressible sibling of GraphX
    * `TriangleCount`, agreement locked in MultimodalGraphXSpec).
    *
    * Scale shape — DEGREE ORIENTATION, the standard trick that makes
    * distributed triangle enumeration feasible: orient every canonical
    * edge from its lower-(degree, id) endpoint to the higher one, then
    * enumerate wedges ONLY at each edge's low vertex and close them
    * with one semi join. Out-degree after orientation is O(√m) on any
    * graph (vs Θ(max-degree) wedges for the naive a-joins-a plan), so
    * the wedge join neither explodes on hubs nor skews a partition:
    * the 50-hub edge view here generates wedges at the low-degree
    * spokes, not the hubs. Long ids (the edge-view id space); string
    * graphs ride through [[toGraphX]]'s xxhash64 mapping first.
    *
    * @return (id, n_tri) for every vertex of the edge view, 0 for
    *         triangle-free vertices.
    */
  def triangleCountsDF(edges: DataFrame): DataFrame = {
    val canon = simpleEdges(edges)
    val verts = canon.select(col("u").as("id"))
      .unionAll(canon.select(col("v").as("id"))).distinct()
    val deg = simpleDegrees(canon, "deg")
    // attach both endpoint degrees, orient low-(deg,id) → high-(deg,id)
    // (struct comparison is lexicographic — ties broken by id, total order)
    val withDeg = canon
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("lo"), col("v").as("hi"),
          struct(col("dv").as("d"), col("v").as("i")).as("hikey")))
        .otherwise(struct(col("v").as("lo"), col("u").as("hi"),
          struct(col("du").as("d"), col("u").as("i")).as("hikey"))).as("o"))
      .select(col("o.lo").as("lo"), col("o.hi").as("hi"),
        col("o.hikey").as("hikey"))
      .localCheckpoint(true) // reused 3× below — tokenize the plan once
    // wedges at the low vertex: unordered out-neighbor pairs (b, c)
    // taken in orientation order, so the closing edge — if present —
    // is oriented exactly b → c
    val wedges = oriented.select(col("lo"), col("hi").as("b"),
        col("hikey").as("bkey"))
      .join(oriented.select(col("lo"), col("hi").as("c"),
        col("hikey").as("ckey")), "lo")
      .filter(col("bkey") < col("ckey"))
      .select(col("lo").as("a"), col("b"), col("c"))
    val triangles = wedges.join(
      oriented.select(col("lo").as("b"), col("hi").as("c")),
      Seq("b", "c"), "left_semi")
    val perVertex = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    verts.join(perVertex, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient — how close each vertex's
    * neighborhood is to a clique: `2·tri(v) / (deg(v)·(deg(v)−1))` on
    * the simple undirected graph, 0.0 for degree < 2. The per-vertex
    * community-density score that turns the triangle counts into a
    * feature column (spam rings and bot farms sit at coeff ≈ 1,
    * broadcast hubs near 0 — the classic curation signal).
    *
    * Scale shape: [[triangleCountsDF]] (degree-oriented wedge join —
    * every wedge materialized at its LOWEST-degree corner, the standard
    * hub-skew guard) plus one degree aggregation and one keyed join.
    * The division is a single IEEE op on exact integers, so the
    * 6-decimal rounding is engine-independent (oracle-checked,
    * qX_clustering_coeff).
    *
    * @return (id, deg, n_tri, coeff) for every vertex of the edge view.
    */
  def clusteringCoefficientDF(edges: DataFrame): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "deg")
    triangleCountsDF(edges).join(deg, "id")
      .select(col("id"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          round(col("n_tri") * lit(2.0) / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** GraphX `TriangleCount` twin of [[triangleCountsDF]] (string-id
    * graphs; canonicalized + partitioned as the GraphX implementation
    * requires). */
  def triangleCounts(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val (graph, vmap) = toGraphX(vertices, edges)
    val spark = vertices.sparkSession
    import spark.implicits._
    val canonical = graph
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    canonical.triangleCount().vertices.toDF("vid", "n_tri")
      .join(vmap, "vid").select(col("id"), col("n_tri").cast("long").as("n_tri"))
  }

  /** Local bridges — edges closing NO triangle (span > 2), the "weak
    * ties" of Granovetter 1973: the links that carry novel
    * information between otherwise-disconnected circles, exactly the
    * edges a PYMK ranker over-penalizes (no common friends) yet a
    * diversity-aware recommender should protect. One wedge join +
    * anti join over the canonical edge view — the triangle-count
    * shuffle budget, integer-only.
    *
    * @return zero-support canonical edges (u, v) ordered.
    */
  def weakTies(edges: DataFrame): DataFrame = {
    val e = simpleEdges(edges)
      .localCheckpoint(true) // reused: support pass + anti join
    // supported = edges with >=1 triangle, via the degree-ORIENTED
    // enumeration ([[kTrussSupport]]): the unoriented both-endpoint
    // wedge join this replaced materialized Σ_e (deg(u)+deg(v)) rows
    // and OOM'd at 10× scale on the fixed-hub graph; the oriented
    // form's out-degree is O(√m) on any graph
    val supported = kTrussSupport(e, Int.MaxValue).select(col("u"), col("v"))
    e.join(supported, Seq("u", "v"), "left_anti").orderBy("u", "v")
  }

  /** Truncated Katz centrality (Katz 1953) in integer micros — the
    * attenuated-reach score `Σ_{k≤rounds} αᵏ·(#walks of length k)`
    * with the DYADIC attenuation α = 1/8, so every round is
    * `x(v) = 1e6 + ⌊Σ_{u∼v} x_prev(u) / 8⌋` — exact integer
    * arithmetic, order-independent folds, full-SQL-oracle-able
    * unrolled. Truncation is the operating point (the link-prediction
    * literature's truncated Katz): values stay in int64 while
    * `maxDegree/8 « 2⁶³ᐟʳᵒᵘⁿᵈˢ`; for deeper horizons renormalize per
    * round (the pageRankMicros convention) instead.
    *
    * 100 TB shape: one keyed join + map-side-combined sum per round
    * over the undirected adjacency — the BFS/SSSP shuffle budget.
    *
    * @return (id, katz_micros) ordered by id.
    */
  def katzMicros(edges: DataFrame, rounds: Int): DataFrame = {
    val adj = Pymk.undirected(edges).distinct().localCheckpoint(true)
    val x0 = adj.select(col("from").as("id")).distinct()
      .withColumn("katz_micros", lit(1000000L))
      .localCheckpoint(true)
    Fixpoint.rounds(x0, rounds, 2) { (x, _) =>
      val in = adj
        .join(x.select(col("id").as("from"), col("katz_micros").as("xv")),
          "from")
        .groupBy(col("to").as("id")).agg(sum(col("xv")).as("s"))
      x.select(col("id"))
        .join(in, Seq("id"), "left")
        .select(col("id"),
          (lit(1000000L) + floor(coalesce(col("s"), lit(0L)) / lit(8)))
            .cast("long").as("katz_micros"))
    }.orderBy("id")
  }

  /** k-truss decomposition membership (Cohen 2008) by synchronous
    * support peeling: an edge survives the k-truss iff it closes at
    * least k−2 triangles WITH OTHER SURVIVING EDGES; each round
    * recomputes per-edge support over the current edge set (one
    * wedge join) and drops under-supported edges. `rounds` bounds the
    * peel depth — a fixpoint is reached once rounds ≥ the longest
    * peeling chain (the oracle replays the same bounded rounds, so
    * gate parity holds at any round count).
    *
    * Integer supports + set-membership filters only — no floats
    * anywhere, full-SQL-oracle-able unrolled.
    *
    * 100 TB shape: per round ONE degree-ORIENTED triangle enumeration
    * (the [[triangleCountsDF]] form: orient each surviving edge from
    * its lower-(degree, id) endpoint to the higher one, pair
    * out-neighbors only at the low vertex, close with one semi join),
    * then three edge-credits per triangle aggregated into per-edge
    * support. Oriented out-degree is O(√m) on ANY graph, so a
    * power-law hub contributes wedges at its spokes — the unoriented
    * both-endpoint wedge join this replaced materialized
    * Σ_e (deg(u)+deg(v)) rows, which the hubs dominate at 100×.
    * Degrees re-derive per round from the shrinking edge set (support
    * is orientation-invariant, so re-orienting between rounds cannot
    * change the peel). `maxOutDegree` optionally caps each oriented
    * out-list with the hash-spread [[capNeighbors]] sample — a
    * DOCUMENTED approximation (support undercounts at capped
    * vertices); the default is exact, and after orientation the cap
    * is belt-and-braces (out-degree is already √m-bounded).
    * Rounds run on [[Fixpoint.converge]].
    *
    * @return surviving canonical edges (u, v, sup) ordered.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             maxOutDegree: Int = Int.MaxValue): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    // The state is the surviving edges WITH the support that justified
    // their survival (computed over the previous round's set): every
    // triangle's three edges come from that set, so the survivors are
    // exactly the support rows with sup ≥ k−2 — one checkpoint a round,
    // and at a fixpoint the reported sup is the final set's support.
    // Exit on an unchanged |E|: the surviving set determines degrees,
    // orientation, the md5-capped out-list sample and therefore the
    // support EXACTLY, so a round that removes nothing fixes every
    // later round (sound for the capped path too — the hash sample is
    // a pure function of the surviving list).
    val (e0, n0) = Fixpoint.observed(simpleEdges(edges), count(lit(1)))
    // the oriented lists are round scratch: unreleased, peak storage is
    // rounds × |E| of blocks (measured: heap death on the 600M-edge slice)
    val (truss, _, _) = Fixpoint.converge(e0, n0, count(lit(1)), rounds) {
      (e, round) => kTrussSupport(e.select("u", "v"), maxOutDegree, round.cut)
        .filter(col("sup") >= k - 2)
    } (_ == _)
    truss.orderBy("u", "v")
  }

  /** Unpersist the checkpoint blocks backing `df`: walk the physical
    * RDD's dependency chain to its persisted ancestors and unpersist
    * exactly those. Precise by construction — never a global
    * persistent-RDD registry diff, which would misclassify (and
    * free) blocks another thread checkpointed on the shared context
    * between snapshots.
    *
    * CALLER CONTRACT: pass the checkpointed frame itself (every call
    * site here does). On a frame DERIVED from a checkpoint the walk
    * descends to — and frees — the NEAREST persisted ancestors, which
    * may be a live checkpoint still shared with sibling frames; on a
    * frame with no persisted ancestry it is a no-op. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        r.unpersist(blocking = false)
      else r.dependencies.foreach(d => walk(d.rdd))
    walk(df.queryExecution.toRdd)
  }

  /** One k-truss support round over a canonical (u, v) edge set: the
    * degree-oriented triangle enumeration + three edge-credits per
    * triangle. The oriented lists are read 3× (both wedge sides +
    * closure) and go through `cut`, which [[kTruss]] makes round
    * scratch. Package-visible so PlanSpec can pin the oriented shape. */
  private[graft] def kTrussSupport(e: DataFrame, maxOutDegree: Int,
      cut: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    val deg = simpleDegrees(e, "deg")
    val withDeg = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // orient low-(deg,id) → high-(deg,id); carry the high endpoint's
    // (deg, id) key so wedge pairs order in orientation order and the
    // closing edge — if present — is oriented exactly b → c
    val oriented0 = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("lo"), col("v").as("hi"),
          struct(col("dv").as("d"), col("v").as("i")).as("hikey")))
        .otherwise(struct(col("v").as("lo"), col("u").as("hi"),
          struct(col("du").as("d"), col("u").as("i")).as("hikey")))
        .as("o"))
      .select(col("o.lo").as("lo"), col("o.hi").as("hi"),
        col("o.hikey").as("hikey"))
    val oriented = cut(if (maxOutDegree == Int.MaxValue) oriented0
      else {
        // hash-spread out-list cap — the capNeighbors medicine on
        // the ORIENTED lists (deterministic, md5-portable)
        val keyed = oriented0.withColumn("_hk",
          Sampling.md5Bucket(concat_ws(":", col("lo"), col("hi"))))
        TopK.grouped(keyed, Seq("lo"),
            struct(col("_hk"), col("hi").as("_hi"),
              col("hikey").as("_hikey")), maxOutDegree)
          .select(col("lo"), col("best._hi").as("hi"),
            col("best._hikey").as("hikey"))
      })
    val wedges = oriented.select(col("lo"), col("hi").as("b"),
        col("hikey").as("bkey"))
      .join(oriented.select(col("lo"), col("hi").as("c"),
        col("hikey").as("ckey")), "lo")
      .filter(col("bkey") < col("ckey"))
      .select(col("lo").as("a"), col("b"), col("c"))
    val triangles = wedges.join(
      oriented.select(col("lo").as("b"), col("hi").as("c")),
      Seq("b", "c"), "left_semi")
    // each triangle credits its three edges (back in canonical form)
    triangles.select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * degrees across edges — do hubs attach to hubs (r > 0, social
    * networks) or to leaves (r < 0, hub-and-spoke)? Over the directed
    * both-ways view of the simple undirected graph (the standard
    * convention, making Σx = Σy).
    *
    * All six sufficient statistics are exact BIGINT folds (degrees ×
    * edge count); the final Pearson ratio is ONE fixed IEEE
    * expression over them, so `r_micros` is engine-exact. A
    * zero-variance degree sequence (regular graph) reports r = 0.
    *
    * 100 TB shape: a degree fold, two vertex-keyed hydration joins,
    * one scalar fold — three shuffles over the edge list, no windows.
    *
    * @return one row (m, r_micros) with m = directed edge count.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val adj = Pymk.undirected(edges).distinct()
    val deg = adj.groupBy(col("from").as("id")).agg(count(lit(1)).as("deg"))
    val pairs = adj
      .join(deg.select(col("id").as("from"), col("deg").as("x")), "from")
      .join(deg.select(col("id").as("to"), col("deg").as("y")), "to")
    val s = pairs.agg(count(lit(1)).as("m"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val vary = col("m") * col("syy") - col("sy") * col("sy")
    s.select(col("m"),
      when(varx === 0 || vary === 0, lit(0L))
        .otherwise(floor(lit(1e6) *
          ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(varx.cast("double") * vary.cast("double"))))
          .cast("long"))
        .as("r_micros"))
  }

  /** HyperBall (Boldi & Vigna 2013): the neighborhood function
    * N(r) = Σ_v |ball(v, r)| estimated with per-vertex HyperLogLog
    * registers — THE technique that made billion-node
    * distance-distribution/diameter computation feasible, and the
    * canonical 100 TB answer to "how far apart is this graph": state
    * is |V|·m register rows, each round ONE keyed join + max-fold,
    * versus the |V|² pair table an exact all-sources BFS needs.
    *
    * Engine-exact determinism (this implementation's contribution —
    * the reason the whole sketch is full-SQL-oracle-able):
    *  - registers are md5-derived ([[Sampling.md5Bucket]]): j = h mod
    *    m, rho = trailing-zero rank of ⌊h/m⌋ (equidistributed with
    *    the classic leading-zero form, P(rho=k)=2⁻ᵏ, but computable
    *    exactly in SQL via `round(log2(w & −w))` — log2 of an exact
    *    power of two rounds identically everywhere); the 28 payload
    *    bits all-zero case caps at rho = 29.
    *  - register folds are integer max — order-independent.
    *  - per-vertex 2⁻ʳʰᵒ terms are DYADIC rationals ≥ 2⁻²⁹: their sum
    *    (plus the integer zero-register mass) is EXACT in double in
    *    any order, so the harmonic-mean denominator is bit-identical
    *    across engines and partition orders.
    *  - per-vertex estimates round to integers BEFORE the global sum
    *    (the modularity-term convention): the fold is an integer sum.
    * Small-range correction: raw ≤ 2.5m with empty registers →
    * linear counting `round(m·ln(m/V₀))`, same branch in the oracle.
    *
    * @param m register count — fixed 16 (α₁₆ = 0.673 baked into both
    *          engines' expressions).
    * @return (r, n_reached_est) for r = 0..maxR: the estimated number
    *         of (source, vertex) pairs within distance r.
    */
  def hyperBall(edges: DataFrame, maxR: Int, m: Int = 16): DataFrame = {
    require(m == 16, "m is fixed at 16 (alpha constant baked into the plan)")
    val adj = Pymk.undirected(edges).distinct()
      .localCheckpoint(true) // reused every round
    val verts = adj.select(col("from").as("v")).distinct()
    val h = Sampling.md5Bucket(col("v"))
    val w = floor(h / lit(m)).cast("long")
    val rho = when(w === 0, lit(29L))
      .otherwise(round(log2(w.bitwiseAND(-w))).cast("long") + 1)
    var regs = verts.select(col("v"), (h % m).as("j"), rho.as("rho"))
      .localCheckpoint(true)
    def estimate(r: Int, rg: DataFrame): DataFrame = {
      val perv = rg.groupBy("v").agg(
        (sum(pow(lit(2.0), -col("rho"))) + (lit(m) - count(lit(1))))
          .as("s"),
        (lit(m) - count(lit(1))).as("v0"))
      val raw = lit(0.673) * lit(256.0) / col("s")
      val estv = when(raw <= lit(40.0) && col("v0") > 0,
          round(lit(16.0) * log(lit(16.0) / col("v0"))).cast("long"))
        .otherwise(round(raw).cast("long"))
      perv.select(estv.as("e"))
        .agg(sum("e").as("n_reached_est"))
        .select(lit(r).as("r"), col("n_reached_est"))
    }
    var out = List(estimate(0, regs))
    for (i <- 1 to maxR) {
      val prop = regs
        .join(adj.withColumnRenamed("from", "v").withColumnRenamed("to", "t"),
          "v")
        .select(col("t").as("v"), col("j"), col("rho"))
      regs = regs.unionByName(prop)
        .groupBy("v", "j").agg(max(col("rho")).as("rho"))
        .localCheckpoint(true)
      out = estimate(i, regs) :: out
    }
    out.reduce(_.unionAll(_)).orderBy("r")
  }

  /** Effective diameter from the [[hyperBall]] neighborhood function:
    * the smallest radius reaching ≥ 90% of the maximal pair mass
    * (`10·N(r) ≥ 9·N_max` — integer comparison, engine-exact).
    * @return one row (n_max, r90). */
  def effectiveDiameter(edges: DataFrame, maxR: Int): DataFrame = {
    val nf = hyperBall(edges, maxR)
    val mx = nf.agg(max("n_reached_est").as("n_max"))
    nf.crossJoin(broadcast(mx))
      .filter(col("n_reached_est") * 10 >= col("n_max") * 9)
      .groupBy("n_max").agg(min("r").as("r90"))
      .select(col("n_max"), col("r90"))
  }

  /** Weighted single/multi-source shortest paths over the undirected
    * weighted edge view (src, dst, w) — distributed Bellman–Ford:
    * each round relaxes every edge once (`dist ⋈ adj` + a min-fold),
    * so after `rounds ≥` the hop-diameter the table is the EXACT
    * weighted distance (Bellman–Ford's invariant: round k holds all
    * shortest paths of ≤ k hops). Weights are positive integers
    * (multiplicity weights by contract), so every fold is an integer
    * min — order-independent and full-SQL-oracle-able by unrolled
    * rounds (the pageRankMicros convention).
    *
    * 100 TB shape: per round ONE keyed join of the frontier table
    * against the adjacency plus a map-side-combined min — the same
    * state/shuffle budget as [[hashSpreadBfs]] with a weight column;
    * state is |sources|·|reached| rows, checkpointed every other
    * round to keep lineage flat. Rounds are a structural bound (hop
    * diameter), not data-scale; for huge diameters compose with
    * landmark pruning.
    *
    * @return (s, v, d) — exact weighted distance from each source to
    *         every vertex within `rounds` hops.
    */
  def weightedSssp(edges: DataFrame, sources: Seq[Long],
                   rounds: Int): DataFrame = {
    val adj = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("w").cast("long").as("w")))
      .localCheckpoint(true) // reused every relaxation round
    val spark = edges.sparkSession
    import spark.implicits._
    val dist0 = sources.toDF("s")
      .select(col("s"), col("s").as("v"), lit(0L).as("d"))
      .localCheckpoint(true)
    Fixpoint.rounds(dist0, rounds, 2) { (dist, _) =>
      val relaxed = dist.join(adj.withColumnRenamed("src", "v"), "v")
        .select(col("s"), col("dst").as("v"), (col("d") + col("w")).as("d"))
      dist.unionByName(relaxed)
        .groupBy("s", "v").agg(min(col("d")).as("d"))
    }.orderBy(col("s"), col("v"))
  }

  /** Shared multi-source truncated BFS from the hash-spread source
    * sample (the harmonic/betweenness source convention: the
    * `numSources` lowest vertices by `(md5Bucket(id), id)` — uniform
    * over vertices yet RNG-free and engine-replayable). Per round: one
    * keyed join of (s, v, d) against the adjacency + a min-fold; state
    * is |S|·ball rows.
    *
    * @return (adjacency (from, to), vertex table (id),
    *         distances (s, v, d) with d ≤ maxDepth) — adjacency and
    *         distances checkpointed for iterative callers.
    */
  private[graft] def hashSpreadBfs(edges: DataFrame, numSources: Int,
                                   maxDepth: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val adj = Pymk.undirected(edges).distinct()
      .localCheckpoint(true) // reused every BFS round
    val verts = adj.select(col("from").as("id")).distinct()
      .localCheckpoint(true)
    val sources = verts
      .orderBy(Sampling.md5Bucket(col("id")).asc, col("id").asc)
      .limit(numSources)
      .select(col("id").as("s"))
    // sources ⊆ verts by construction — init directly, no identity join
    val dist0 = sources
      .select(col("s"), col("s").as("v"), lit(0).as("d"))
      .localCheckpoint(true)
    val dist = Fixpoint.rounds(dist0, maxDepth, 2) { (dist, _) =>
      val expanded = dist
        .join(adj.withColumnRenamed("from", "v"), "v")
        .select(col("s"), col("to").as("v"), (col("d") + 1).as("d"))
      dist.unionByName(expanded)
        .groupBy("s", "v").agg(min(col("d")).as("d"))
    }
    (adj, verts, dist)
  }

  /** Landmark distance table — the [[hashSpreadBfs]] distances as a
    * first-class output: d(landmark, v) for every vertex within
    * `maxDepth` of each of the `numSources` hash-spread landmarks.
    * This is the landmark (pivot) embedding of Potamias et al. 2009:
    * downstream consumers estimate d(u, v) ≲ min_l d(u,l) + d(l,v)
    * from the |S|-dimensional distance profile, and ML pipelines use
    * the profile directly as structural features (the graph twin of
    * [[graft.operators.Pca]] features). Unreached (landmark, vertex)
    * pairs are absent — at 100 TB emitting the |S|·|V| dense matrix
    * with infinities would dwarf the reached-ball output.
    *
    * @return (s, v, d) — landmark id, vertex, hop distance, ordered.
    */
  def landmarkDistances(edges: DataFrame, numSources: Int = 8,
                        maxDepth: Int = 4): DataFrame = {
    val (_, _, dist) = hashSpreadBfs(edges, numSources, maxDepth)
    dist.orderBy(col("s"), col("v"))
  }

  /** One-row graph summary — the first table a graph platform shows
    * (and the sanity check before any expensive analytic): vertex and
    * simple-edge counts, density, average and max degree. Exact
    * integer folds; density and the average are single floored
    * divisions.
    *
    * @return one row (n_vertices, n_edges, density_micros,
    *         avg_deg_milli, max_deg).
    */
  def graphSummary(edges: DataFrame): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "d")
    deg.agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("d2"),
        max(col("d")).as("max_deg"))
      .select(col("n_vertices"), (col("d2") / lit(2)).cast("long")
          .as("n_edges"),
        when(col("n_vertices") < 2, lit(0L))
          .otherwise(floor(lit(1e6) * col("d2").cast("double") /
            (col("n_vertices") * (col("n_vertices") - 1))).cast("long"))
          .as("density_micros"),
        floor(lit(1000L) * col("d2") / col("n_vertices")).cast("long")
          .as("avg_deg_milli"),
        col("max_deg"))
  }

  /** Friendship paradox readout (Feld 1991) — "your friends have
    * more friends than you": mean degree vs mean NEIGHBOR degree
    * (`Σd²/Σd` — each vertex is sampled once per incident edge), the
    * size-biased sampling effect that makes neighbor-based seeding
    * beat random seeding. Exact integer folds, two floored divisions.
    *
    * @return one row (n_vertices, avg_deg_milli, avg_nbr_deg_milli,
    *         ratio_micros).
    */
  def friendshipParadox(edges: DataFrame): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "d")
    deg.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .select(col("n").as("n_vertices"),
        floor(lit(1000L) * col("sd") / col("n")).cast("long")
          .as("avg_deg_milli"),
        floor(lit(1000L) * col("sd2") / col("sd")).cast("long")
          .as("avg_nbr_deg_milli"),
        floor(lit(1e6) * (col("sd2").cast("double") / col("sd")) /
          (col("sd").cast("double") / col("n"))).cast("long")
          .as("ratio_micros"))
  }

  /** Gini coefficient of the degree distribution — connectivity
    * inequality in one number (scale-free graphs sit high; a near-
    * regular mesh near 0), the graph face of the exposure Gini:
    * degrees rank by (d, id) on [[Packing.globalRank]] and
    * `G = (2·Σ i·d_i)/(n·Σd) − (n+1)/n` is exact integer arithmetic
    * up to one final floored division.
    *
    * @return one row (n_vertices, sum_deg, gini_micros).
    */
  def degreeGini(edges: DataFrame): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "d")
    val (ranked, n) = Packing.globalRank(
      deg.select(col("d"), col("id")), Seq("d", "id"))
    ranked.agg(sum(col("d")).as("sd"),
        sum(col("_grank") * col("d")).as("sid"))
      .select(lit(n).as("n_vertices"), col("sd").as("sum_deg"),
        floor(lit(1e6) *
          ((lit(2.0) * col("sid")) / (lit(n).cast("double") * col("sd"))
            - (lit(n + 1).cast("double") / lit(n)))).cast("long")
          .as("gini_micros"))
  }

  /** Landmark eccentricity — per BFS source the farthest reached
    * depth and reach count from [[landmarkDistances]]'s truncated
    * BFS: the per-landmark face of [[hyperBall]]'s effective
    * diameter (a landmark whose eccentricity hits `maxDepth` is
    * censored — reported, the caller raises the budget).
    *
    * @return (s, ecc, n_reached) per landmark, ordered.
    */
  def landmarkEccentricity(edges: DataFrame, numSources: Int = 8,
                           maxDepth: Int = 4): DataFrame =
    landmarkDistances(edges, numSources, maxDepth)
      .groupBy(col("s"))
      .agg(max(col("d")).cast("long").as("ecc"),
        count(lit(1)).as("n_reached"))
      .orderBy(col("s"))

  /** Newman modularity Q of a community assignment over the simple
    * undirected edge view — the quality score that turns [[labelPropagationDF]]
    * from "some labels" into a measured clustering:
    * `Q = Σ_c (e_c/m − (d_c/2m)²)` with m = |edges|, e_c =
    * intra-community edges, d_c = total degree of community c.
    *
    * Engine-exact arithmetic: every per-community term is computed as
    * ONE integer division `floor(1e6·(4·m·e_c − d_c²) / (4·m²))`
    * (numerator and denominator are exact BIGINTs; floor handles the
    * negative-term case identically in both engines), then summed —
    * order-independent, no float folds. The +1e6-scale bias of
    * flooring each term (vs the real sum) is bounded by #communities
    * micro-units, identical in the oracle by construction.
    *
    * Plan: the canonical edge view + degree table are two keyed folds;
    * e_c/d_c are two label-keyed joins + folds (labels broadcast-sized
    * per community, the label JOIN is on vertex id); the final fold is
    * a scalar. No all-pairs anything — at 100 TB this is three
    * shuffles over the edge list.
    *
    * @return one row (m, n_comms, q_micros).
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = simpleEdges(edges)
    val lab = communities.select(col("id"), col("lbl"))
    val deg = simpleDegrees(e, "deg")
    val mRow = e.agg(count(lit(1)).as("m"))
    val dByC = deg.join(lab, "id")
      .groupBy(col("lbl")).agg(sum(col("deg")).as("d_c"))
    val eByC = e
      .join(lab.select(col("id").as("u"), col("lbl").as("lu")), "u")
      .join(lab.select(col("id").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_c"))
    val terms = dByC.join(eByC, Seq("lbl"), "left")
      .select(col("lbl"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .crossJoin(mRow)
      .select(floor(
          (lit(1e6) * (lit(4L) * col("m") * col("e_c")
            - col("d_c") * col("d_c")))
            / (lit(4L) * col("m") * col("m")))
        .cast("long").as("t"))
    terms.agg(count(lit(1)).as("n_comms"), sum(col("t")).as("q_micros"))
      .crossJoin(mRow)
      .select(col("m"), col("n_comms"), col("q_micros"))
  }

  /** Per-community conductance φ(C) = cut(C) / min(vol(C), 2m−vol(C))
    * over the undirected simple view — the LOCAL community-quality
    * readout next to [[modularity]]'s global Q (a partition can score
    * a decent Q while one community leaks half its edges; conductance
    * names the leaker). `cut` counts boundary edges (each credits BOTH
    * endpoint communities), `vol` sums member degrees; exact integer
    * folds, ONE floored micro division per community (φ = 0 when the
    * denominator is 0 — a community owning every edge end has no
    * outside to leak to).
    *
    * Shape: the [[modularity]] plan — two label joins on the edge
    * list, two keyed folds, one 1-row m broadcast. Nothing all-pairs.
    *
    * @param communities (id, lbl) assignment.
    * @return (lbl, n_vertices, vol, cut, phi_micros) ordered by lbl.
    */
  def conductance(edges: DataFrame,
                  communities: DataFrame): DataFrame = {
    val e = simpleEdges(edges).localCheckpoint(true)
    val lab = communities.select(col("id"), col("lbl"))
    val mRow = e.agg(count(lit(1)).as("m"))
    val deg = simpleDegrees(e, "deg")
    val vol = deg.join(lab, "id")
      .groupBy(col("lbl")).agg(sum(col("deg")).as("vol"))
    val boundary = e
      .join(lab.select(col("id").as("u"), col("lbl").as("lu")), "u")
      .join(lab.select(col("id").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") =!= col("lv"))
      .localCheckpoint(true) // credited to BOTH sides below
    val cut = boundary.select(col("lu").as("lbl"))
      .unionAll(boundary.select(col("lv").as("lbl")))
      .groupBy("lbl").agg(count(lit(1)).as("cut"))
    lab.groupBy("lbl").agg(count(lit(1)).as("n_vertices"))
      .join(vol, Seq("lbl"), "left")
      .join(cut, Seq("lbl"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("lbl"), col("n_vertices"),
        coalesce(col("vol"), lit(0L)).as("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        col("m"))
      .select(col("lbl"), col("n_vertices"), col("vol"), col("cut"),
        when(least(col("vol"), lit(2L) * col("m") - col("vol")) > 0,
          floor(lit(1e6) * col("cut")
            / least(col("vol"), lit(2L) * col("m") - col("vol")))
            .cast("long"))
          .otherwise(lit(0L)).as("phi_micros"))
      .orderBy(col("lbl"))
  }

  /** [[conductance]] over SEVERAL assignments of the SAME graph in one
    * pass — the tagged-union form (the PSI one-aggregation pattern,
    * r16): a gate scoring k candidate partitions (LPA vs a hash split)
    * previously re-canonicalized, re-checkpointed and re-folded the
    * identical edge set once per call; here every assignment-
    * independent artifact (canonical edge set, m, degrees) is computed
    * once and the label joins / folds carry the `assignment` tag. Each
    * (assignment, lbl) row is arithmetically identical to the single-
    * assignment call's (lbl) row by construction: the tag only splits
    * the folds the way separate calls did.
    *
    * @param communities (id, lbl, assignment) — every vertex labeled
    *                    once per assignment value.
    * @return (lbl, n_vertices, vol, cut, phi_micros, assignment)
    *         ordered by (assignment, lbl).
    */
  def conductanceMulti(edges: DataFrame,
                       communities: DataFrame): DataFrame = {
    val e = simpleEdges(edges).localCheckpoint(true)
    val lab = communities.select(col("id"), col("lbl"), col("assignment"))
    val mRow = e.agg(count(lit(1)).as("m"))
    val deg = simpleDegrees(e, "deg")
    val vol = deg.join(lab, "id")
      .groupBy(col("assignment"), col("lbl")).agg(sum(col("deg")).as("vol"))
    val boundary = e
      .join(lab.select(col("id").as("u"), col("lbl").as("lu"),
        col("assignment")), "u")
      .join(lab.select(col("id").as("v"), col("lbl").as("lv"),
        col("assignment")), Seq("v", "assignment"))
      .filter(col("lu") =!= col("lv"))
      .localCheckpoint(true) // credited to BOTH sides below
    val cut = boundary.select(col("assignment"), col("lu").as("lbl"))
      .unionAll(boundary.select(col("assignment"), col("lv").as("lbl")))
      .groupBy("assignment", "lbl").agg(count(lit(1)).as("cut"))
    lab.groupBy("assignment", "lbl").agg(count(lit(1)).as("n_vertices"))
      .join(vol, Seq("assignment", "lbl"), "left")
      .join(cut, Seq("assignment", "lbl"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("assignment"), col("lbl"), col("n_vertices"),
        coalesce(col("vol"), lit(0L)).as("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        col("m"))
      .select(col("lbl"), col("n_vertices"), col("vol"), col("cut"),
        when(least(col("vol"), lit(2L) * col("m") - col("vol")) > 0,
          floor(lit(1e6) * col("cut")
            / least(col("vol"), lit(2L) * col("m") - col("vol")))
            .cast("long"))
          .otherwise(lit(0L)).as("phi_micros"),
        col("assignment"))
      .orderBy(col("assignment"), col("lbl"))
  }

  /** Log-binned degree histogram of the undirected simple view — the
    * distribution readout behind [[powerLawAlpha]]'s single-number
    * fit (a fit is only as honest as the histogram it summarizes).
    * Bins are `⌊log₂ d⌋` computed EXACTLY as `length(bin(d)) − 1`
    * (the binary-string trick — a float log₂ is 1-ulp-ambiguous at
    * powers of two and would bin-flip cross-engine). One degree fold
    * + one bin fold.
    *
    * @return (bin, n_vertices, min_deg, max_deg) ordered by bin.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    simpleDegrees(simpleEdges(edges), "d")
      .groupBy((length(bin(col("d"))) - 1).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_vertices"), min(col("d")).as("min_deg"),
        max(col("d")).as("max_deg"))
      .orderBy(col("bin"))
  }

  /** Component-size histogram over [[connectedComponentsDF]] labels —
    * the fragmentation readout next to [[degreeHistogram]]: is the
    * graph one giant component plus dust, or many mid-size islands
    * (the shape that decides whether graph-partition-by-component is
    * even a viable 100 TB layout). Sizes bucket by EXACT binary-length
    * log₂ (`length(bin(sz)) − 1` — float log₂ bin-flips at powers of
    * two, the [[degreeHistogram]] rule).
    *
    * @return (bin, n_components, min_size, max_size, n_vertices)
    *         ordered by bin — the top bin's max_size is the giant.
    */
  def componentSizes(edges: DataFrame): DataFrame =
    connectedComponentsDF(edges)
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy((length(bin(col("sz"))) - 1).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_components"), min(col("sz")).as("min_size"),
        max(col("sz")).as("max_size"), sum(col("sz")).as("n_vertices"))
      .orderBy(col("bin"))

  /** 4-cycle (quadrilateral) count on the undirected simple view —
    * the motif family's next rung after triangles and two-stars: C4s
    * are the co-citation/co-purchase signature (two vertices sharing
    * TWO distinct common neighbors), and their count calibrates how
    * much signal a common-neighbor recommender actually has. Identity:
    * each 4-cycle is seen once by each of its two diagonals, so
    * `C4 = ½·Σ_{a<c} C(codeg(a,c), 2)` over the wedge-join co-degree
    * table — one mid-keyed wedge join + one pair fold + one scalar
    * fold, the [[linkPredictionScores]] plan shape (hub wedges cost
    * deg² per mid; cap upstream with [[capNeighbors]] when the graph
    * has unbounded hubs).
    *
    * @return one row (n_diag_pairs, c4_count).
    */
  def c4Count(edges: DataFrame): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "mid", "nb")
      .localCheckpoint(true)
    val codeg = adj.select(col("mid"), col("nb").as("a"))
      .join(adj.select(col("mid"), col("nb").as("c")), "mid")
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n"))
    codeg.agg(count(lit(1)).as("n_diag_pairs"),
        (sum(col("n") * (col("n") - 1L)) / lit(4L)).cast("long")
          .as("c4_count"))
  }

  /** [[c4Count]]'s SCALE TWIN: an unbiased wedge-sampled estimate of
    * the 4-cycle count (the Jha–Seshadhri–Pinar wedge-sampling idea,
    * localized per middle, with a Horvitz–Thompson correction). The
    * exact form's wedge join is Θ(Σ deg(mid)²) and — uniquely in the
    * wedge family — orientation cannot help (a 4-cycle's diagonal
    * needs BOTH wedge corners), so on a hub-skewed graph the exact
    * count is quadratic in corpus size (measured 26× for the 10×
    * sf0.1→sf1 decade on the fixed-hub events graph). A plain
    * per-middle cap bounds the join but silently biases the motif
    * count DOWN; the fix is to keep the cap and weight what survives:
    *
    *   - each middle `z` enumerates wedges only over the md5-spread
    *     `maxDegree`-neighbor sample S(z) of [[capNeighbors]] (so the
    *     wedge bag is ≤ |V|·maxDegree², flat in SF for fixed caps);
    *   - a wedge (a,z,c) with both corners in S(z) was kept with
    *     probability π_z = s(s−1)/(d(d−1)) under the hash-uniform
    *     sample (s = min(d, maxDegree), d = deg(z)), so it carries HT
    *     weight w_z = 1/π_z — sub-cap middles keep w = 1 and stay
    *     EXACT;
    *   - a 4-cycle seen via diagonal {a,c} and middles {b,d} is kept
    *     iff both its wedges are, with probability π_b·π_d, so the
    *     per-pair sum over kept-middle pairs of w_b·w_d — computed as
    *     (S² − Q)/2 from S = Σ w, Q = Σ w² — has expectation equal to
    *     the pair's true C(codeg, 2), and Ĉ4 = ½·Σ_{a<c} (S²−Q)/2 is
    *     unbiased over the hash draw (the estimator degenerates to
    *     [[c4Count]] exactly when maxDegree ≥ max degree: all w = 1 ⇒
    *     S²−Q = n(n−1); C4SampledSpec pins both properties).
    *
    * Determinism & replay: the sample is the md5 rank order (no RNG),
    * weights are integer multiples of `unit` (w = d(d−1)·unit div
    * s(s−1), default micros) so every aggregation is integer and
    * order-independent, and the two super-long intermediates (S², Σw²)
    * run in decimal(38,0) — the whole plan is SQL-replayable, so the
    * estimate itself can be hash-exact against a DuckDB oracle.
    *
    * Magnitude bounds, and the `unit` knob: the weight itself must fit
    * a long ⇒ d ≲ √(9.2·10¹⁸·s(s−1)/unit) per middle (~4.7·10⁷ at the
    * micro default with cap 16 — the d(d−1)·unit product runs in
    * decimal, so the product itself can't wrap first), and a sampled
    * diagonal's HT mass (S²−Q)/unit² must fit a long — benign in
    * practice because two at-bound hubs virtually never co-sample the
    * same corner pair (P ≈ (cap/d)⁴), so a diagonal's S is dominated
    * by one weight and S²−Q vanishes at n_w = 1. A graph with
    * celebrity hubs past the d bound keeps the SAME estimator at
    * `unit = 1000` (quantizes the HT weight to millis — bias stays
    * zero, only the floor rounding coarsens ~1000×, invisible next to
    * the sampling variance); the oracle gates pin the micro default.
    *
    * @return one row (n_wedges_sampled, n_diag_pairs, c4_estimate).
    */
  def c4CountSampled(edges: DataFrame, maxDegree: Int,
                     unit: Long = 1000000L): DataFrame = {
    require(maxDegree >= 2, "a wedge needs two sampled neighbors")
    require(unit >= 1L && unit <= 3000000000L,
      "unit must be positive and unit^2 must fit a long")
    val adj = bothWays(simpleEdges(edges), "from", "to")
      .localCheckpoint(true) // reused: degrees + the sampled wedge sides
    val samp = capNeighbors(adj, maxDegree)
    // HT weight per middle, integer `unit`s; s(s−1)/(d(d−1)) is the
    // exact inclusion probability of any FIXED neighbor pair under a
    // uniform s-of-d sample, and the md5 rank order is hash-uniform.
    // The d(d−1)·unit product runs in decimal so the only magnitude
    // bound is on the RESULTING w (floored back to long — identical
    // to the long product for every in-range d)
    val capPairs = maxDegree.toLong * (maxDegree - 1L)
    val deg = adj.groupBy(col("from").as("mid"))
      .agg(count(lit(1)).as("d"))
      .withColumn("w", when(col("d") <= maxDegree, lit(unit))
        .otherwise(expr(s"cast(cast(d as decimal(38,0)) * (d - 1L) * $unit" +
          s" div $capPairs as long)"))) // floor
      .select(col("mid"), col("w"))
    // size the wedge join to the SAMPLED bag (Σ min(d,cap)² over the
    // checkpointed adjacency — one cheap agg): each join task then
    // holds ~WedgeRowsPerTask wedge rows regardless of SF, which is
    // the sf1000 lesson (512 conf partitions ≈ 4M rows/task OOM'd a
    // quiet 64 GiB box; data-sized 1024 ran clean) — no manual
    // SPARK_GRAFT_SHUFFLE_PARTITIONS override needed. Keyed by the
    // middle: the cap bounds any middle's rows, so no skew risk.
    val wpar = Pymk.wedgeParSized(edges,
      Pymk.estWedgeBagRows(adj, maxDegree))
    val wedges = samp.repartition(wpar, col("from"))
      .select(col("from").as("mid"), col("to").as("a"))
      .join(samp.select(col("from").as("mid"), col("to").as("c")), "mid")
      .filter(col("a") < col("c"))
      .join(deg, "mid")
    // per diagonal pair: Σ_{b≠d kept} w_b·w_d = S² − Q (each unordered
    // middle pair twice ⇒ the global /4 below folds both the ×2 and
    // the ½ of the diagonal identity); units² ⇒ one div unit²
    val pairs = wedges.groupBy(col("a"), col("c"))
      // BOTH folds in decimal(38,0): a diagonal shared by a few
      // hundred at-bound hubs (w ≈ 3.75e16 micros) would wrap a long
      // Σw silently while the DuckDB oracle sums in HUGEINT
      .agg(count(lit(1)).as("n_w"),
        sum(col("w").cast("decimal(38,0)")).as("s"),
        sum(col("w").cast("decimal(38,0)") * col("w").cast("decimal(38,0)"))
          .as("q"))
      .withColumn("t", expr(s"(s * s - q) div ${unit * unit}L"))
    pairs.agg(sum(col("n_w")).cast("long").as("n_wedges_sampled"),
      count(lit(1)).as("n_diag_pairs"),
      expr("sum(t) div 4").cast("long").as("c4_estimate"))
  }

  /** Sampled harmonic centrality: H(v) = Σ_{s ∈ S, s ≠ v} 1/d(s, v)
    * over a deterministic source sample S — the `numSources` lowest
    * vertices by `(md5Bucket(id), id)`, i.e. [[Sampling.md5Bucket]]'s
    * engine-portable hash spread, NOT lowest-id: at 100 TB vertex ids
    * correlate with ingest order / shard / age, so a lowest-id sample
    * is a biased sample of the oldest region of the graph, while the
    * hash order is uniform over vertices yet still replayable (no RNG,
    * rerun/partition-stable, recomputable by the DuckDB oracle) —
    * distances by synchronous
    * multi-source BFS on the simple undirected graph, truncated at
    * `maxDepth` (beyond the truncation a pair contributes 0 — the
    * standard bounded-radius approximation; fixed depth is also what
    * makes the DuckDB oracle an unrollable CTE chain, the kCore/LPA
    * playbook).
    *
    * Per round: one keyed join of the (source, vertex, dist) table
    * against the adjacency on the vertex key + a min-aggregation —
    * state is |S|·|reached| rows, bounded by the sample size times the
    * ball volume, NOT |V|²; shuffles are all key-partitioned with
    * map-side partial mins. Contributions sum as INTEGER micro-units
    * (round(1e6/d)) so the per-vertex total is order-independent
    * across engines (the adamicAdar rule).
    *
    * @return (id, h_micros, n_reached) for every vertex of the edge
    *         view: harmonic micro-sum over reaching sources (self
    *         excluded) and how many sources reached it.
    */
  def harmonicCentrality(edges: DataFrame, numSources: Int = 8,
                         maxDepth: Int = 4): DataFrame = {
    val (_, verts, dist) = hashSpreadBfs(edges, numSources, maxDepth)
    val contrib = dist
      .filter(col("s") =!= col("v") && col("d") > 0)
      .withColumn("hm", round(lit(1e6) / col("d")).cast("long"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("hm")).as("h_micros"), count(lit(1)).as("n_reached"))
    verts.join(contrib, Seq("id"), "left")
      .select(col("id"), coalesce(col("h_micros"), lit(0L)).as("h_micros"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"))
      .orderBy(col("id"))
  }

  /** Sampled betweenness centrality (Brandes 2001, source-sampled as
    * in Brandes/Pich 2007): how often a vertex sits ON shortest paths
    * between others — the brokerage complement to [[harmonicCentrality]]'s
    * closeness. Exact betweenness is all-pairs; the sampled form runs
    * Brandes' two phases from the same hash-spread source sample S
    * (lowest `(md5Bucket(id), id)` — engine-portable, no RNG) and
    * truncates at `maxDepth` (paths longer than the horizon contribute
    * 0 — the bounded-radius approximation, same contract as harmonic).
    *
    *  - Forward: strict-LEVEL multi-source BFS carrying path counts —
    *    level L+1 = (frontier ⋈ adj) anti-joined against everything
    *    seen, `σ(w) = Σ σ(v)` over level-L predecessors (an edge
    *    L → L+1 is on a shortest path by the BFS property). One keyed
    *    join + one anti-join + one keyed sum per round; state is
    *    |S|·ball rows like harmonic.
    *  - Backward: dependency accumulation per level, deepest first —
    *    `δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))` via one keyed
    *    join of level L against (level L+1 ⋈ δ) per round; the deepest
    *    level seeds δ = 0.
    *
    * Output sums `round(1e6·δ(s,v))` per source as INTEGER micros, so
    * the per-vertex fold is order-independent; δ itself is double —
    * path-count ratios are short dyadic/small-denominator rationals
    * whose 1e-15-scale accumulation drift sits far from the rounding
    * grain (the ln-rounding residual-risk class, noted, accepted).
    * Un-normalized and endpoints-excluded (Brandes' convention); on
    * the undirected view each unordered pair is counted from both
    * directions reached within the horizon — callers normalize.
    *
    * @return (id, bc_micros) for every vertex of the edge view.
    */
  def betweennessSampled(edges: DataFrame, numSources: Int = 8,
                         maxDepth: Int = 3): DataFrame = {
    val adj = Pymk.undirected(edges).distinct()
      .localCheckpoint(true) // reused by every forward AND backward round
    val verts = adj.select(col("from").as("id")).distinct()
      .localCheckpoint(true)
    val sources = verts
      .orderBy(Sampling.md5Bucket(col("id")).asc, col("id").asc)
      .limit(numSources)
      .select(col("id").as("s"))

    // ---- forward: strict levels with path counts ----
    val l0 = sources.select(col("s"), col("s").as("v"), lit(1L).as("sig"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(l0)
    var seen = l0.select("s", "v").localCheckpoint(true)
    for (_ <- 1 to maxDepth) {
      val next = levels.last
        .join(adj.withColumnRenamed("from", "v"), "v")
        .select(col("s"), col("to").as("v"), col("sig"))
        .join(seen, Seq("s", "v"), "left_anti")
        .groupBy(col("s"), col("v")).agg(sum(col("sig")).as("sig"))
        .localCheckpoint(true)
      levels += next
      seen = seen.unionByName(next.select("s", "v")).localCheckpoint(true)
    }

    // ---- backward: dependency accumulation, deepest level first ----
    var childDelta = levels(maxDepth)
      .select(col("s"), col("v"), lit(0.0).as("delta"))
    val deltas = scala.collection.mutable.ArrayBuffer(childDelta)
    for (l <- (maxDepth - 1) to 1 by -1) {
      val child = levels(l + 1).join(childDelta, Seq("s", "v"))
        .select(col("s"), col("v").as("to"),
          col("sig").as("wsig"), col("delta").as("wdelta"))
      val contrib = levels(l)
        .join(adj.withColumnRenamed("from", "v"), "v")
        .join(child, Seq("s", "to"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("sig").cast("double") / col("wsig")
          * (lit(1.0) + col("wdelta"))).as("delta"))
      childDelta = levels(l).select("s", "v")
        .join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      deltas += childDelta
    }

    val bc = deltas.map(_.select(col("s"), col("v"), col("delta")))
      .reduce(_ unionByName _)
      .withColumn("bcm", round(col("delta") * lit(1e6)).cast("long"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("bcm")).as("bc_micros"))
    verts.join(bc, Seq("id"), "left")
      .select(col("id"), coalesce(col("bc_micros"), lit(0L)).as("bc_micros"))
      .orderBy(col("id"))
  }

  /** The HITS-family half-round normalization: `raw` (key, raw)
    * L1-scaled to Σ = 1e6 INTEGER MICROS (`round(raw·1e6/Σraw)`, the
    * total a 1-row broadcast) over every `key` of `verts`, absent keys
    * 0 — as `(key, out)`. */
  private def microsNormalize(raw: DataFrame, verts: DataFrame, key: String,
                              out: String): DataFrame =
    verts.join(
        raw.crossJoin(broadcast(raw.agg(
            coalesce(sum(col("raw")), lit(0L)).as("tot"))))
          .select(col(key),
            round(col("raw") * lit(1e6) / col("tot")).cast("long").as(out)),
        Seq(key), "left")
      .select(col(key), coalesce(col(out), lit(0L)).as(out))

  /** The hub/authority power iteration behind [[hits]], [[salsa]] and
    * [[salsaPersonalized]]: `iters` rounds over the bipartite edges
    * `be` (hub, auth) of `a ← Σ_{h→a} msg(h)` then `h ← Σ_{h→a} msg(a)`
    * (new a within the round, the classic ordering), each half-round
    * [[microsNormalize]]d over its side's vertex set (`hubs` (hub),
    * `auths` (auth)). With `byDegree` a message is its sender's score
    * split over the sender's edges, `floor(score / deg)` (SALSA's
    * random-walk step); without, the score itself (HITS). Hubs start
    * at 1e6 micros, authorities at 0.
    *
    * Checkpoints: `be` comes from [[bipartite]]; the state is one
    * tagged frame (is_hub, id, m) of both sides, cut every round. The
    * raw half-round tables stay lazy: their two readers (own total +
    * rows) share one job, where AQE's ReusedExchange dedups the
    * shallow join + fold over checkpointed inputs. The new authorities
    * are round scratch: the hub half and the state both read them, and
    * a lazy normalized frame read twice doubles its plan every round.
    *
    * @return (hub scores (id, h), authority scores (id, a)). */
  private def hubAuthority(be: DataFrame, hubs: DataFrame, auths: DataFrame,
                           byDegree: Boolean, iters: Int): (DataFrame, DataFrame) = {
    // scores (from, s) → messages over be → (to, s) normalized over verts
    def half(scores: DataFrame, from: String, to: String, verts: DataFrame) = {
      val msg = if (byDegree) floor(col("s") / col(s"${from}_deg")).cast("long")
        else col("s")
      microsNormalize(be.join(scores, from).groupBy(col(to)).agg(sum(msg).as("raw")),
        verts, to, "s")
    }
    def tagged(isHub: Boolean, scores: DataFrame) =
      scores.select(lit(isHub).as("is_hub"), col(scores.columns.head).as("id"),
        col("s").as("m"))
    def side(state: DataFrame, isHub: Boolean, out: String) =
      state.filter(col("is_hub") === isHub).select(col("id"), col("m").as(out))
    val init = tagged(true, hubs.withColumn("s", lit(1000000L)))
      .unionByName(tagged(false, auths.withColumn("s", lit(0L))))
    val fixed = Fixpoint.rounds(init, iters, 1) { (state, round) =>
      val h = side(state, isHub = true, "s").withColumnRenamed("id", "hub")
      val a = round.cut(half(h, "hub", "auth", auths))
      tagged(true, half(a, "auth", "hub", hubs)).unionByName(tagged(false, a))
    }
    (side(fixed, isHub = true, "h"), side(fixed, isHub = false, "a"))
  }

  /** Bipartite edges (hub, auth) for [[hubAuthority]], checkpointed
    * (every half-round scans them); with `degrees` each edge also
    * carries its hub's and its authority's degree (hub_deg, auth_deg),
    * SALSA's message divisors. */
  private def bipartite(be: DataFrame, degrees: Boolean): DataFrame =
    (if (!degrees) be else be
      .join(be.groupBy("hub").agg(count(lit(1)).as("hub_deg")), "hub")
      .join(be.groupBy("auth").agg(count(lit(1)).as("auth_deg")), "auth"))
      .localCheckpoint(true)

  /** [[hits]]' and [[salsa]]'s graph: the distinct directed simple
    * edges as [[bipartite]] (hub, auth), and their vertices (id). */
  private def directedBipartite(edges: DataFrame,
                                degrees: Boolean): (DataFrame, DataFrame) = {
    val be = bipartite(edges.where(col("src") =!= col("dst"))
      .select(col("src").as("hub"), col("dst").as("auth")).distinct(), degrees)
    val verts = be.select(col("hub").as("id"))
      .unionAll(be.select(col("auth").as("id"))).distinct()
      .localCheckpoint(true)
    (be, verts)
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED edge
    * view — the link-analysis complement to PageRank: a good hub
    * points at good authorities, a good authority is pointed at by
    * good hubs. `iters` rounds of the mutual recursion
    * `a ← Eᵀh; h ← E a` on [[hubAuthority]], each half-round
    * L1-normalized to Σ = 1e6 and rounded to INTEGER MICROS — the
    * per-vertex sums are order-independent and the whole
    * fixed-iteration computation replays as unrolled CTEs in the
    * DuckDB oracle (the pageRankDF playbook, integer flavor). Vertices
    * with no in-edges hold authority 0; no out-edges, hub 0.
    *
    * 100 TB shape: per round two edge-keyed joins + two vertex folds
    * + two 1-row total broadcasts over the checkpointed edge list.
    *
    * @return (id, hub_micros, auth_micros) for every vertex.
    */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    val (be, verts) = directedBipartite(edges, degrees = false)
    val (h, a) = hubAuthority(be, verts.select(col("id").as("hub")),
      verts.select(col("id").as("auth")), byDegree = false, iters)
    h.join(a, Seq("id"))
      .select(col("id"), col("h").as("hub_micros"), col("a").as("auth_micros"))
      .orderBy(col("id"))
  }

  /** SALSA hubs & authorities (Lempel & Moran 2001) on the DIRECTED
    * edge view — the degree-normalized sibling of [[hits]] and the
    * link analysis behind production people-recommenders
    * (Twitter's WTF runs personalized SALSA where the reference runs
    * its 2-hop Gremlin count, neptune_recommend_bizcard.py:56-73):
    * each half-round is a random-walk step on the bipartite
    * hub/authority view, `a(v) ← Σ_{u→v} h(u)/outdeg(u)` then
    * `h(u) ← Σ_{u→v} a(v)/indeg(v)`, so mass splits across a
    * vertex's edges instead of replicating (HITS's rich-get-richer
    * bias toward dense clusters is exactly what the normalization
    * removes). Per-edge messages are FLOOR'd integer-micro divisions
    * (h, outdeg both integers — the IEEE quotient is exact enough
    * that the floor replays cross-engine; see the modularity-term
    * convention) and each half-round L1-renormalizes to Σ = 1e6
    * micros, absorbing the floor loss, so the fixed `iters` rounds
    * replay as unrolled CTEs in the DuckDB oracle.
    *
    * 100 TB shape: identical to [[hits]]; both degrees ride the edge
    * list's one checkpoint.
    *
    * @return (id, salsa_hub_micros, salsa_auth_micros) per vertex.
    */
  def salsa(edges: DataFrame, iters: Int = 3): DataFrame = {
    val (be, verts) = directedBipartite(edges, degrees = true)
    val (h, a) = hubAuthority(be, verts.select(col("id").as("hub")),
      verts.select(col("id").as("auth")), byDegree = true, iters)
    h.join(a, Seq("id"))
      .select(col("id"), col("h").as("salsa_hub_micros"),
        col("a").as("salsa_auth_micros"))
      .orderBy(col("id"))
  }

  /** Edge reciprocity of the directed view — the fraction of `knows`
    * edges whose reverse edge also exists. The reference's graph is a
    * directed multigraph-in-practice (reciprocal edges appear when two
    * people exchange cards, upsert_bizcard_to_graph_db.py:104-109);
    * reciprocity is the one-number health check of that mutuality, and
    * the global companion of the per-edge [[graft.operators.Pymk]]
    * embeddedness. One self semi-join on the distinct simple edge set
    * + exact integer counts + one floored micro ratio — no windows,
    * no all-pairs.
    *
    * @return one row (n_edges, n_reciprocal, reciprocity_micros).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true) // probed against its own reverse
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_edges"), col("n_reciprocal"),
        floor(col("n_reciprocal") * lit(1000000L) / col("n_edges"))
          .cast("long").as("reciprocity_micros"))
  }

  /** Power-law degree-exponent MLE (Clauset, Shalizi & Newman 2009,
    * continuous approximation): `α = 1 + n / Σ ln(d_i / (dmin − ½))`
    * over the tail `d_i ≥ dmin` of the undirected simple degree
    * distribution — the scale-free-ness readout that pairs with the
    * token-side [[graft.operators.TextAnalysis]] Zipf fit (natural
    * social graphs land α ≈ 2–3; α drifting low flags hub blowup
    * before a wedge join does). Per-vertex ln terms QUANTIZE to
    * integer micros before the fold (order-free exact sum), the
    * estimator is then ONE fixed IEEE expression over two exact
    * integers — the modularity-term convention end to end.
    *
    * @return one row (dmin, n_tail, sum_log_micros, alpha_micros).
    */
  def powerLawAlpha(edges: DataFrame, dmin: Int = 2): DataFrame = {
    val deg = simpleDegrees(simpleEdges(edges), "d")
      .filter(col("d") >= dmin)
    deg.select(
        round(log(col("d") / (lit(dmin) - lit(0.5))) * lit(1e6))
          .cast("long").as("lt"))
      .agg(count(lit(1)).as("n_tail"), sum(col("lt")).as("sum_log_micros"))
      .select(lit(dmin).cast("long").as("dmin"),
        col("n_tail"), col("sum_log_micros"),
        round(lit(1e6) + lit(1e12) * col("n_tail") / col("sum_log_micros"))
          .cast("long").as("alpha_micros"))
  }

  /** Personalized SALSA (Goel et al. 2015, "The Who-To-Follow System
    * at Twitter") — the production people-recommendation scorer, run
    * here where the reference runs its 2-hop Gremlin `groupCount`
    * (neptune_recommend_bizcard.py:56-73). The hub side is the user's
    * circle of trust (the user + their direct undirected neighbors —
    * the same `both()` view the PYMK contract walks); the authority
    * side is every neighbor of a hub; [[salsa]]'s degree-normalized
    * half-rounds then run RESTRICTED to that bipartite subgraph, so
    * each round costs |be| messages, never |E|. Recommendations are
    * the authority scores with the user and their friends removed —
    * the exact `neq`/`without` exclusion contract of
    * [[graft.operators.Pymk]] — and the scores are already integer
    * micros, so the top-k limit is quantized by construction.
    *
    * 100 TB shape: the circle of trust is one filtered neighbor scan;
    * the bipartite edge set is one join off it (bounded by the user's
    * 2-hop neighborhood, the same frontier PYMK itself touches); each
    * half-round is a keyed join + fold + 1-row total broadcast over
    * the localCheckpointed bipartite list.
    *
    * @return top-k rows (id, score_micros), score desc / id asc.
    */
  def salsaPersonalized(edges: DataFrame, user: Column, iters: Int = 3,
                        topK: Int = 10): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val fromUser = und.filter(col("src") === user)
    val hubs = fromUser.select(col("dst").as("hub"))
      .unionAll(fromUser.select(col("src").as("hub")))
      .distinct().localCheckpoint(true)
    val be = bipartite(und.join(broadcast(hubs), und("src") === hubs("hub"))
      .select(col("hub"), col("dst").as("auth")), degrees = true)
    val auths = be.select(col("auth")).distinct().localCheckpoint(true)
    val (_, a) = hubAuthority(be, hubs, auths, byDegree = true, iters)
    a.filter(col("a") > 0L)
      .join(broadcast(hubs), a("id") === hubs("hub"), "left_anti")
      .select(col("id"), col("a").as("score_micros"))
      .orderBy(col("score_micros").desc, col("id"))
      .limit(topK)
  }

  /** Rich-club coefficient (Colizza et al. 2006): over the undirected
    * simple view, the density of the subgraph induced by vertices of
    * degree > k — `φ(k) = 2·E_k / (N_k·(N_k−1))`. The companion
    * readout to [[powerLawAlpha]]: a rich club forming among the hubs
    * (φ → 1) is the structural early warning that hub-hub wedges will
    * dominate any quadratic neighborhood join. One degree fold + one
    * double semi-join of the edge list against the rich set + exact
    * integer counts + one floored micro ratio.
    *
    * @return one row (k, n_rich, e_rich, phi_micros); φ = 0 when
    *         fewer than 2 rich vertices.
    */
  def richClub(edges: DataFrame, k: Int): DataFrame = {
    val canon = simpleEdges(edges).localCheckpoint(true)
    val rich = simpleDegrees(canon, "d")
      .filter(col("d") > k).select(col("id"))
      .localCheckpoint(true)
    canon
      .join(broadcast(rich.select(col("id").as("u"))), Seq("u"), "left_semi")
      .join(broadcast(rich.select(col("id").as("v"))), Seq("v"), "left_semi")
      .agg(count(lit(1)).as("e_rich"))
      .crossJoin(broadcast(rich.agg(count(lit(1)).as("n_rich"))))
      .select(lit(k).cast("long").as("k"), col("n_rich"), col("e_rich"),
        when(col("n_rich") < 2, lit(0L)).otherwise(
            floor(col("e_rich") * lit(2000000L)
              / (col("n_rich") * (col("n_rich") - lit(1L)))).cast("long"))
          .as("phi_micros"))
  }

  /** Eigenvector centrality by power iteration on the UNDIRECTED
    * simple view — the prestige score where a vertex is central in
    * proportion to its neighbors' centrality (the symmetric companion
    * to the directed [[hits]]/Katz family): `x ← A x`, each round
    * L1-normalized to Σ = 1e6 INTEGER MICROS (the [[hits]] convention
    * — per-vertex sums of integers are fold-order-free, so the fixed
    * `iters` rounds replay as unrolled CTEs in the DuckDB oracle).
    *
    * 100 TB shape per round: one edge-keyed join + one vertex fold +
    * one 1-row total broadcast; rounds on the [[Fixpoint]] cadence
    * with a lineage cut every round (the raw table is read twice).
    *
    * @return (id, eig_micros) for every vertex of the simple view.
    */
  def eigenvectorCentrality(edges: DataFrame, iters: Int = 3): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "f", "t")
      .localCheckpoint(true)
    val verts = adj.select(col("f").as("id")).distinct()
      .localCheckpoint(true)
    Fixpoint.rounds(verts.withColumn("x", lit(1000000L)), iters, 1) { (x, round) =>
      // the raw table feeds both the total and the rows
      val raw = round.cut(adj.join(x.withColumnRenamed("id", "f"), "f")
        .groupBy(col("t").as("id")).agg(sum(col("x")).as("raw")))
      microsNormalize(raw, verts, "id", "x")
    }.select(col("id"), col("x").as("eig_micros")).orderBy(col("id"))
  }

  /** Maximal independent set by Luby's algorithm (Luby 1986) with
    * hash priorities — the distributed scheduling/conflict-resolution
    * primitive (pick a maximal set of mutually non-adjacent items: ad
    * slots, dedup cluster exemplars, parallel-safe work units). Per
    * round every still-active vertex draws the priority
    * `(md5("r:id"), id)` — md5-portable and collision-free (the id
    * component breaks the 2⁻³² hash-tie case deterministically); the
    * operator compares the pair as a STRUCT, so any orderable id type
    * works (the engine graph has string vertex keys); the SQL
    * oracle replays it as the arithmetic key `hash · 2²⁰ + id`,
    * order-identical for the gate's sub-2²⁰ numeric ids. A vertex
    * joins the MIS iff its priority beats every active neighbor's;
    * winners and their neighbors then retire. Rounds run UNTIL the
    * active set is empty (every round retires at least the
    * globally-minimum-priority active vertex, so termination is
    * guaranteed in ≤n rounds and O(log n) w.h.p. — Luby 1986),
    * bounded by `rounds` as a runaway backstop; the returned set is
    * therefore maximal whenever the loop exits on emptiness, which
    * the per-round 1-row count makes the normal exit. Extra rounds
    * past convergence are no-ops in both engine and oracle, so a
    * fixed-round unrolled CTE replays the converged result exactly.
    *
    * 100 TB shape per round: one narrow priority projection, one
    * edge-keyed join + per-vertex min fold for the neighborhood
    * minimum, two anti joins to retire winners+dominated — no
    * per-vertex loops, no driver state beyond the round counter.
    *
    * @return (id, in_mis) over every vertex of the simple view.
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = 32): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "f", "t")
      .localCheckpoint(true)
    val (verts, n) = Fixpoint.observed(adj.select(col("f").as("id")).distinct(),
      count(lit(1)))
    // every round's winners: the result reads them all, so they stay
    // off the kernel, whose state is the active set
    var mis = verts.limit(0)
    // exit on an empty active set — the exit that makes the result
    // maximal, not just `rounds`-round independent; an empty graph runs
    // no round (the kernel tests its exit after a round)
    Fixpoint.converge(verts, n, count(lit(1)), if (n == 0L) 0 else rounds) {
        (active, round) =>
      // read for centers AND neighbor side
      val pri = round.cut(active.select(col("id"),
          struct(
            Sampling.md5Bucket(
              concat(lit(s"${round.index}:"), col("id").cast("string"))).as("h"),
            col("id").as("i")).as("p")))
      val nbrMin = adj
        .join(pri.select(col("id").as("f"), col("p")), "f")
        .join(pri.select(col("id").as("t"), col("p").as("pt")), "t")
        .groupBy(col("f").as("id")).agg(min(col("pt")).as("minp"))
      val winners = pri.join(nbrMin, Seq("id"), "left")
        .where(col("minp").isNull || col("p") < col("minp"))
        .select(col("id"))
        .localCheckpoint(true) // reused: mis fold + domination join
      mis = mis.unionByName(winners)
      val dominated = adj.join(winners.withColumnRenamed("id", "f"), "f")
        .select(col("t").as("id"))
      active.join(winners.unionByName(dominated).distinct(), Seq("id"),
        "left_anti")
    } ((_, left) => left == 0L)
    verts.join(mis.withColumn("in_mis", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_mis"), lit(false)).as("in_mis"))
      .orderBy(col("id"))
  }

  /** Seeded label spreading (Zhu & Ghahramani 2002's label propagation
    * with CLAMPED seeds) — semi-supervised node classification: a few
    * labeled vertices spread their labels over the undirected simple
    * view; per round every non-seed takes the label with the highest
    * labeled-neighbor count (ties to the smaller label), seeds never
    * change, unreached vertices stay unlabeled. Unlike the
    * unsupervised [[GraphAnalytics]] LPA, the fixed seed set makes
    * every round a deterministic function of the graph — the whole
    * `rounds`-iteration computation replays as unrolled CTEs.
    *
    * 100 TB shape per round: one edge-keyed join against the current
    * label table + one (vertex, label) count fold + one bounded
    * per-vertex argmax (label cardinality = #seed labels, small) —
    * on the [[Fixpoint]] cadence, a lineage cut every round.
    *
    * @param seeds (id, label) — clamped ground truth.
    * @return (id, label) for every vertex reached within `rounds`.
    */
  def labelSpread(edges: DataFrame, seeds: DataFrame,
                  rounds: Int = 3): DataFrame = {
    val adj = bothWays(simpleEdges(edges), "f", "t")
      .localCheckpoint(true)
    val seed = seeds.select(col("id"), col("label")).localCheckpoint(true)
    Fixpoint.rounds(seed, rounds, 1) { (cur, _) =>
      val counts = adj
        .join(cur.select(col("id").as("t"), col("label")), "t")
        .groupBy(col("f").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val pick = TopK.grouped(counts, Seq("id"),
          struct((-col("cnt")).as("nc"), col("label").as("l")), 1)
        .select(col("id"), col("best.l").as("label"))
      seed.unionByName(
        pick.join(seed.select(col("id")), Seq("id"), "left_anti"))
    }.orderBy(col("id"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al. 2014) — the O(log² n)-round CC that holds at
    * 100 TB where per-round label propagation
    * ([[connectedComponentsDF]]) needs diameter-many rounds: each
    * round rewires edges toward component minima, so path lengths
    * HALVE rather than shrink by one, and every step is one
    * group-by-center min + one projection (no vertex state table at
    * all — the edge set IS the state).
    *
    *  - large-star: per center u with neighborhood N (both
    *    orientations), m = min(N ∪ {u}); every neighbor t > u rewires
    *    to (t, m).
    *  - small-star: per center u over its SMALLER neighbors (canonical
    *    u > v orientation), m = min(N ∪ {u}); u and each neighbor
    *    ≠ m rewire to m.
    *
    * Converges to a star forest rooted at component minima — the same
    * canonical (id, comp=min id) labeling [[connectedComponentsDF]]
    * converges to, so both share one oracle (and the equivalence is
    * spec-pinned). Convergence = small-star output equals its input
    * (two anti-join emptiness probes every round).
    *
    * @return (id, comp) — comp = min vertex id of the component.
    */
  def ccTwoStar(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val verts0 = edges.filter(col("src") =!= col("dst"))
    val verts = verts0.select(col("src").as("id"))
      .unionAll(verts0.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    // canonical u > v
    // (count, xor-of-edge-hashes) summarize the current edge SET: both
    // ride each checkpoint job as observed metrics and a mismatch on
    // either PROVES next ≠ e (sound negative filter — xor is order-
    // independent and cannot overflow), so the two definitive anti-join
    // emptiness probes run only on the one round where the summaries
    // match (the convergence round, plus astronomically-unlikely xor
    // collisions, where the probes still decide exactly)
    def edgeSetObs() = {
      val o = org.apache.spark.sql.Observation()
      (o, Seq(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")))
    }
    val (e0Obs, e0Metrics) = edgeSetObs()
    var e = verts0
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
      .observe(e0Obs, e0Metrics.head, e0Metrics.tail: _*)
      .localCheckpoint(true)
    var eN = e0Obs.get("n").asInstanceOf[Long]
    var eH = e0Obs.get("h").asInstanceOf[Long]
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      // large-star: centers see both orientations
      val nbrs = bothWays(e, "f", "t")
      val mins = nbrs.groupBy("f").agg(least(min(col("t")), col("f")).as("m"))
      val e1 = nbrs.join(mins, "f")
        .where(col("t") > col("f"))
        .select(col("t").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // small-star: centers are the larger endpoints
      val mins2 = e1.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val (nObs, nMetrics) = edgeSetObs()
      val next = e1.join(mins2, "u")
        .select(col("v").as("n"), col("m"))
        .unionByName(mins2.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .observe(nObs, nMetrics.head, nMetrics.tail: _*)
        .localCheckpoint(true)
      val nN = nObs.get("n").asInstanceOf[Long]
      val nH = nObs.get("h").asInstanceOf[Long]
      converged = nN == eN && nH == eH &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty &&
        e.join(next, Seq("u", "v"), "left_anti").isEmpty
      // the probes were the last readers of e and e1
      Seq(e, e1).foreach(releaseCheckpoint)
      e = next; eN = nN; eH = nH
      r += 1
    }
    verts.join(e.select(col("u").as("id"), col("v").as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .orderBy(col("id"))
  }

  /** Adamic-Adar link prediction — the degree-discounted PYMK scorer:
    * for every non-adjacent pair (a, c),
    * `score = Σ_{z ∈ N(a)∩N(c)} 1 / ln(deg(z))`. Same 2-hop shape as
    * [[Pymk.recommendAll]] but each shared neighbor is weighted down by
    * its degree — a mutual friend with 3 contacts is strong evidence, a
    * 10k-follower hub is noise. (The raw-path-count gate stays the
    * reference-exact contract, neptune_recommend_bizcard.py:56-73; this
    * is the quality upgrade a production PYMK ships next.)
    *
    * Set semantics throughout (vs the bag semantics of the reference
    * traversal): neighbors are DISTINCT, so the undirected view is
    * deduplicated before anything counts. Middle vertices of degree 1
    * cannot witness a pair with a ≠ c, and are filtered before the
    * weight (ln 1 = 0 would divide by zero).
    *
    * Scale shape, same guards as [[Pymk.recommendAll]]: one self-join
    * keyed on the middle vertex (sparse A² — explicit round-robin
    * repartition first, AQE sees only the small input and would
    * under-parallelize the quadratic OUTPUT), aggregate per pair with
    * map-side partial sums BEFORE the direct-edge anti join (removing
    * whole keys commutes with the sum), bounded-heap per-anchor top-k
    * instead of a window sort. Scores are rounded to 4 decimals before
    * ranking so cross-engine float summation order can't flip ranks;
    * ties break by candidate id.
    *
    * @return (anchor, rank, id, score), rank 1-based per anchor.
    */
  /** Hash-spread per-middle neighbor cap for the wedge family — the
    * hub guard. A power-law hub z emits deg(z)² wedge pairs: at 100×
    * scale a 10⁶-degree vertex alone is ~10¹² pairs landing on one
    * reducer key. Capping each middle's neighbor list at `maxDegree`
    * bounds any single middle's contribution to maxDegree² while
    * leaving the (overwhelmingly more numerous) sub-cap vertices
    * EXACT. The sample is the [[Sampling.perKeyCap]] precedent: keep
    * the `maxDegree` neighbors with the lowest (md5Bucket("z:n"), n) —
    * deterministic, rerun-stable, md5-portable, and hash-spread (not
    * top-by-id, which would bias wedges toward low ids). Bounded-heap
    * top-k: the hub's reducer sees maxDegree rows of state, not a
    * sorted deg(z).
    */
  private def capNeighbors(adj: DataFrame, maxDegree: Int): DataFrame =
    if (maxDegree == Int.MaxValue) adj
    else {
      val keyed = adj.withColumn("_hk",
        Sampling.md5Bucket(concat_ws(":", col("from"), col("to"))))
      TopK.grouped(keyed, Seq("from"),
          struct(col("_hk"), col("to").as("_to")), maxDegree)
        .select(col("from"), col("best._to").as("to"))
    }

  def adamicAdar(edges: DataFrame, k: Int,
                 maxDegree: Int = Int.MaxValue): DataFrame = {
    // ONE materialization of the simple undirected view; the sizing
    // agg then reads these blocks instead of paying its own scan +
    // dedup of the raw edge view (r16: the old order — size first,
    // checkpoint after — cost one full edge pass per gate)
    val adj = Pymk.undirected(edges).distinct()
      .localCheckpoint(true) // reused 5×: sizing, deg, both join sides, anti join
    val wpar = Pymk.wedgeParSized(edges, Pymk.estWedgeBagRows(adj, maxDegree))
    // wedge sides enumerate the (possibly capped) neighbor sample;
    // degrees, discounts, and the direct-edge anti join stay EXACT on
    // the full adjacency — the cap bounds wedge multiplicity only.
    // The uncapped side re-spreads the checkpoint round-robin to wpar
    // (the blocks carry the distinct agg's — possibly AQE-coalesced —
    // partitioning; the explosive join needs the full fan-out), the
    // capped side keeps the heap agg's keyed partitioning.
    val wedgeAdj =
      if (maxDegree == Int.MaxValue) adj.repartition(wpar)
      else capNeighbors(adj, maxDegree)
    val deg = adj.groupBy(col("from").as("z"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      // per-term INTEGER micro-units: float terms rounded to 6 decimals
      // still summed in float order put 4 of 750 scores within an ulp
      // of the 4-decimal rounding boundary (cross-engine mismatch,
      // measured) — integer micros make the sum exact and
      // order-independent; one double division at the end
      .withColumn("w", round(lit(1e6) / log(col("deg"))).cast("long"))
    // wedges a —z— c through every middle z, weighted by z's discount.
    // Symmetry halving (the recommendAll trick, 2× the wedge agg): the
    // distinct undirected adj is symmetric, so wedge (a,z,c) exists iff
    // (c,z,a) does with the same w — score only a < c, mirror the
    // aggregated pairs (10-20× smaller than the wedge bag) afterwards.
    val par = wpar
    // both wedge sides read the SAME sampled set S(z) (wedgeAdj is
    // keyed by the middle as `from`; adj symmetry makes that the
    // neighbor set in both roles)
    val intoZ = wedgeAdj.select(col("from").as("z"), col("to").as("a"))
      .join(deg.select(col("z"), col("w")), "z")
    val outOfZ = wedgeAdj.select(col("from").as("z"), col("to").as("c"))
    val half = intoZ.join(outOfZ, "z")
      .filter(col("a") < col("c"))
      // repartition on the agg key before summing: reducer-local hash
      // maps stay cache-resident instead of every task spanning the
      // full pair space (same rationale as recommendAll)
      .repartition(par, col("a"), col("c"))
      .groupBy(col("a"), col("c"))
      .agg(round(sum(col("w")).cast("double") / lit(1e6), 4).as("score"))
    val scored = half.select(explode(array(
        struct(col("a"), col("c"), col("score")),
        struct(col("c").as("a"), col("a").as("c"), col("score")))).as("p"))
      .select(col("p.a").as("a"), col("p.c").as("c"), col("p.score").as("score"))
    val direct = adj.select(col("from").as("a"), col("to").as("c"))
    val cand = scored.join(direct, Seq("a", "c"), "left_anti")
    val sortKey = struct((-col("score")).as("_ns"), col("c").as("_c"))
    TopK.grouped(cand, Seq("a"), sortKey, k)
      .select(col("a").as("anchor"), col("rank"),
        col("best._c").as("id"), (-col("best._ns")).as("score"))
  }

  /** Link-prediction score family over the simple undirected graph —
    * the four classic local similarity indices, computed together in
    * ONE wedge aggregation (the [[adamicAdar]] plan shape, which the
    * reference's PYMK traversal motivates; neptune_recommend_bizcard
    * .py:56-73):
    *
    *  - `cn`  common neighbors  |N(a) ∩ N(c)|
    *  - `ra`  resource allocation  Σ_{z ∈ N(a)∩N(c)} 1/deg(z)
    *  - `jaccard`  |N(a) ∩ N(c)| / |N(a) ∪ N(c)|
    *  - `pa`  preferential attachment  deg(a)·deg(c)
    *
    * Candidates are the non-adjacent pairs with at least one shared
    * neighbor — the sparse-A² candidate set every index here is defined
    * on (pa alone is defined for arbitrary pairs, but scoring all
    * |V|² pairs is not a computation, it's a cross join; restricting pa
    * to the same candidates is the standard batch-PYMK practice).
    *
    * Scale shape: one wedge self-join keyed on the middle vertex
    * (explicit repartition first — AQE sees only the small input, not
    * the quadratic output), `cn` and `ra` accumulated map-side in the
    * SAME aggregate, a<c symmetry halving with the mirror applied to
    * the aggregated pairs, degree join AFTER the direct-edge anti join
    * (smallest frame), no window — the per-pair result needs no sort.
    *
    * Ratios are INTEGER micro-units (the [[harmonicCentrality]]
    * convention): 4-decimal doubles land on decimal half-boundaries
    * that are not binary-exact (0.08725 → HALF_UP 0.0873 in Spark's
    * BigDecimal shortest-repr rounding, 0.0872 from the raw binary in
    * DuckDB — measured on this very operator), while integer rounding
    * is safe because any exact x.5 is dyadic and both engines see it
    * identically.
    *
    * @return (a, c, cn, ra_micros, jac_micros, pa) — both orientations
    *         of every candidate pair, so per-anchor consumers need no
    *         mirror.
    */
  def linkPredictScores(edges: DataFrame,
                        maxDegree: Int = Int.MaxValue): DataFrame = {
    // one materialization; sizing agg rides the checkpoint blocks —
    // same rationale and leg spreading as adamicAdar (r16)
    val adj = Pymk.undirected(edges).distinct()
      .localCheckpoint(true) // reused 5x: sizing, deg, both wedge sides, anti join
    val wpar = Pymk.wedgeParSized(edges, Pymk.estWedgeBagRows(adj, maxDegree))
    // hub guard: wedge sides enumerate the capped neighbor sample;
    // degrees/discounts/anti-join stay exact (see capNeighbors)
    val wedgeAdj =
      if (maxDegree == Int.MaxValue) adj.repartition(wpar)
      else capNeighbors(adj, maxDegree)
    // full degree table — ra discounts by it, jaccard/pa consume it;
    // deg-1 middles witness no a!=c wedge, so no HAVING filter needed
    val deg = adj.groupBy(col("from").as("z"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("w", round(lit(1e6) / col("deg")).cast("long"))
    val par = wpar
    val intoZ = wedgeAdj.select(col("from").as("z"), col("to").as("a"))
      .join(deg.select(col("z"), col("w")), "z")
    val outOfZ = wedgeAdj.select(col("from").as("z"), col("to").as("c"))
    val half = intoZ.join(outOfZ, "z")
      .filter(col("a") < col("c"))
      .repartition(par, col("a"), col("c"))
      .groupBy(col("a"), col("c"))
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("ra_micros"))
    val mirrored = half.select(explode(array(
        struct(col("a"), col("c"), col("cn"), col("ra_micros")),
        struct(col("c").as("a"), col("a").as("c"), col("cn"),
          col("ra_micros")))).as("p"))
      .select(col("p.a").as("a"), col("p.c").as("c"),
        col("p.cn").as("cn"), col("p.ra_micros").as("ra_micros"))
    val direct = adj.select(col("from").as("a"), col("to").as("c"))
    val cand = mirrored.join(direct, Seq("a", "c"), "left_anti")
    cand
      .join(deg.select(col("z").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("z").as("c"), col("deg").as("deg_c")), "c")
      .select(col("a"), col("c"), col("cn"), col("ra_micros"),
        round(lit(1e6) * col("cn") /
          (col("deg_a") + col("deg_c") - col("cn")))
          .cast("long").as("jac_micros"),
        (col("deg_a") * col("deg_c")).cast("long").as("pa"))
  }

  /** Ranked link prediction: top-k candidates per anchor under one of
    * the [[linkPredictScores]] measures (`common_neighbors` |
    * `resource_allocation` | `jaccard` | `preferential_attachment`).
    * Micro-unit ratios divide back to doubles here (micros/1e6 is the
    * same IEEE division on every engine — no rounding boundary), so
    * cross-engine rank order is stable; ties break by candidate id via
    * the same bounded-heap [[TopK.grouped]] as [[adamicAdar]] — no
    * global window.
    *
    * @return (anchor, rank, id, score), rank 1-based per anchor.
    */
  def linkPredict(edges: DataFrame, k: Int,
                  measure: String = "resource_allocation",
                  maxDegree: Int = Int.MaxValue): DataFrame = {
    val scoreCol = measure match {
      case "common_neighbors"        => col("cn").cast("double")
      case "resource_allocation"     => col("ra_micros") / lit(1e6)
      case "jaccard"                 => col("jac_micros") / lit(1e6)
      case "preferential_attachment" => col("pa").cast("double")
      case other => throw new IllegalArgumentException(
        s"unknown link-prediction measure: $other")
    }
    val cand = linkPredictScores(edges, maxDegree).withColumn("score", scoreCol)
    val sortKey = struct((-col("score")).as("_ns"), col("c").as("_c"))
    TopK.grouped(cand, Seq("a"), sortKey, k)
      .select(col("a").as("anchor"), col("rank"),
        col("best._c").as("id"), (-col("best._ns")).as("score"))
  }
}
