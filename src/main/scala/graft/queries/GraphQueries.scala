package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Pymk

/** Graph-shaped oracle queries (SURVEY §2.C3-C6, §2.D1, §2.F) over a
  * deterministic edge view derived from the `events` table
  * (FIXTURES.md §B: "a knows-like edge view derived from
  * events(user_id → value-bucketed peer)").
  *
  * Edge view: src = user_id, dst = floor(value)::bigint % 50, for click
  * and view events, self-loops dropped, (src,dst) deduplicated — mirrors
  * the reference's edge-upsert invariants (at most one directed edge per
  * pair, no self-loops; upsert_bizcard_to_graph_db.py:100-109).
  */
object GraphQueries {

  /** The shared SQL definition of the edge view (kept textually in sync
    * with [[derivedEdges]]). */
  val EdgesSql: String =
    """SELECT DISTINCT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 50 AS dst
      |FROM events
      |WHERE event_type IN ('click', 'view')
      |  AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50""".stripMargin

  def derivedEdges(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("src"),
        (floor(col("value")).cast("long") % 50).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Weighted edge view: the same pairs as [[derivedEdges]] with
    * `w` = interaction multiplicity (how many qualifying events back
    * the pair) — the engine-side analogue of the reference's
    * `weight: double` property on `knows` edges
    * (upsert_bizcard_to_graph_db.py:104-109). Kept textually in sync
    * with [[WeightedEdgesSql]]. */
  val WeightedEdgesSql: String =
    """SELECT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 50 AS dst,
      |       count(*) AS w
      |FROM events
      |WHERE event_type IN ('click', 'view')
      |  AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50
      |GROUP BY 1, 2""".stripMargin

  def derivedEdgesWeighted(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("src"),
        (floor(col("value")).cast("long") % 50).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))

  /** Shared recursive-closure CC oracle: min reachable id per vertex —
    * the canonical component form BOTH qX_cc_graphx (after min-id
    * canonicalization) and qX_cc_df (which converges to it directly)
    * hash-match. */
  private val CcSql: String =
    s"""WITH RECURSIVE edges AS ($EdgesSql),
       |adj AS (
       |  SELECT src AS f, dst AS t FROM edges
       |  UNION ALL
       |  SELECT dst AS f, src AS t FROM edges),
       |verts AS (SELECT DISTINCT f AS v FROM adj),
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT reach.v, adj.t FROM reach JOIN adj ON reach.r = adj.f)
       |SELECT v AS id, min(r) AS comp FROM reach
       |GROUP BY v ORDER BY v""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D1/C2-C6/E1-E2: the flagship PYMK 2-hop with bag path counting.
    "qD1_pymk" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      Pymk.recommend(edges, lit(1L), 10)
    }),

    // F1 + D-tier: degree over the undirected bag view.
    "qF1_undirected_degree" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      Pymk.undirected(edges)
        .groupBy(col("from").as("id"))
        .agg(count(lit(1)).as("degree"))
        .orderBy(col("id"))
    }),

    // D1 with explanations: the flagship plus the "you both know …"
    // mutual-friend list a PYMK surface renders — top-3 distinct
    // mutuals per candidate through the bounded-heap grouped top-k.
    "qX_pymk_reasons" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      Pymk.recommendWithReasons(edges, lit(1L), 10)
    }),

    // D1 at scale: all-pairs PYMK (top-3 per anchor) — the batch-serving
    // shape; one adjacency self-join + anti-join + windowed top-k.
    "qD1_pymk_all" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      Pymk.recommendAll(edges, 3)
        .orderBy(col("anchor"), desc("score"), col("id"))
    }),

    // qD1_pymk_all's SCALE TWIN: hub-capped wedge enumeration (each
    // middle's neighbor list sampled to 16 by the md5-spread rule) —
    // the bounded-wedge-bag form that stays flat as the fixed hub
    // set's degree grows with corpus size (exact form: 1.3 s at sf0.1
    // but 238 s at sf1 — quadratic in SF on this graph shape).
    "qD1_pymk_capped" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      Pymk.recommendAllCapped(edges, 3, maxDegree = 16)
        .orderBy(col("anchor"), desc("score"), col("id"))
    }),

    // H2: edge upsert — replayed delta union'd into the edge set,
    // deduplicated on (src,dst), self-loops dropped (the reference's
    // edge-exists-else-add with from != to,
    // upsert_bizcard_to_graph_db.py:96-113); idempotence = the merged
    // set equals the original (replay-safe, SURVEY §2.J1).
    "qH2_edge_upsert" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
      val edges = derivedEdges(events)
      val replay = derivedEdges(events.filter(col("event_type") === "click"))
      edges.unionAll(replay)
        .filter(col("src") =!= col("dst"))
        .dropDuplicates("src", "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("out_degree"))
        .orderBy(col("src"))
    }),

    // GraphX analytics (BASELINE.json's named vehicle) over the same
    // edge view. Connected components: GraphX label propagation,
    // canonicalized to min-original-id per component so the DuckDB
    // recursive-closure oracle can hash-match it exactly.
    "qX_cc_graphx" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
        .select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .withColumn("weight", lit(1.0))
      val vertices = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      val cc = graft.operators.GraphAnalytics.connectedComponents(vertices, edges)
      val canon = cc.groupBy(col("component"))
        .agg(min(col("id").cast("long")).as("comp"))
      cc.join(canon, "component")
        .select(col("id").cast("long").as("id"), col("comp"))
        .orderBy(col("id"))
    }),

    // GraphX k-walk counting (aggregateMessages, k=3): the generalized
    // PYMK frontier — exact bag walk counts, oracle = 3 chained
    // adjacency joins.
    "qX_khop3_graphx" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
        .select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .withColumn("weight", lit(1.0))
      val vertices = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      val (graph, vmap) = graft.operators.GraphAnalytics.toGraphX(vertices, edges)
      val anchor = vmap.filter(col("id") === "1").select("vid").head().getLong(0)
      val spark2 = s
      import spark2.implicits._
      val walks = graft.operators.GraphAnalytics.kWalkCounts(graph, anchor, 3)
        .filter(_._2 > 0).toDF("vid", "walks")
      walks.join(vmap, "vid")
        .select(col("id").cast("long").as("id"), col("walks"))
        .orderBy(col("id"))
    }),

    // GraphX PageRank in INTEGER MICROS: Long messages make the RDD
    // fold order-independent, so the GraphX/Pregel execution path is
    // full-oracle-gated (the float staticPageRank twin stays pinned by
    // qX_pagerank_consistency + MultimodalGraphXSpec).
    "qX_pagerank_graphx" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
        .select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .withColumn("weight", lit(1.0))
      val vertices = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      graft.operators.GraphAnalytics.pageRankMicros(vertices, edges, iters = 10)
        .select(col("id").cast("long").as("id"), col("rank_micros"))
        .orderBy(col("id"))
    }),

    // DataFrame power-iteration PageRank — same fixed-iteration
    // semantics as the GraphX twin but all-Catalyst, so it IS
    // SQL-expressible: the oracle below unrolls the 10 iterations as
    // chained CTEs. Full hash-match (unlike qX_pagerank_graphx, whose
    // RDD fold order is pinned only rows-only).
    "qX_pagerank_df" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.pageRankDF(edges, iters = 10)
        .orderBy(col("id"))
    }),

    // GraphX-vs-DataFrame PageRank consistency contract: the GraphX
    // ranks themselves are rows-only (RDD float fold order isn't
    // SQL-reproducible), but their AGREEMENT with the fully
    // oracle-checked DataFrame twin is gate-verifiable — every vertex
    // must match within 1e-3 (measured divergence is ~1e-6; the margin
    // absorbs fold-order jitter). A mismatch here means one of the two
    // implementations drifted semantically.
    "qX_pagerank_consistency" -> ((s, dir) => {
      // 5 iterations on BOTH arms: the semantic contract is
      // iteration-count-independent, and qX_pagerank_df already gates
      // the full 10-iteration arithmetic — no need to pay it twice
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      // both arms run eager construction jobs (DF checkpoints, GraphX
      // Pregel): build them on concurrent driver threads so the two
      // independent iteration chains overlap instead of serializing
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDf = Future {
        graft.operators.GraphAnalytics.pageRankDF(edges, iters = 5) }
      val fGx = Future {
        val sEdges = edges.select(col("src").cast("string").as("src"),
            col("dst").cast("string").as("dst"))
          .withColumn("weight", lit(1.0))
        val verts = sEdges.select(col("src").as("id"))
          .unionAll(sEdges.select(col("dst").as("id"))).distinct()
        graft.operators.GraphAnalytics.pageRank(verts, sEdges, iters = 5)
          .select(col("id").cast("long").as("id"), col("rank").as("gx_rank"))
      }
      val df = Await.result(fDf, Duration.Inf)
      val gx = Await.result(fGx, Duration.Inf)
      df.join(gx, "id")
        .agg(count(lit(1)).as("n_vertices"),
          count(when(abs(col("rank") - col("gx_rank")) <= 0.001, 1))
            .as("n_agree"))
    }),

    // Personalized PageRank from anchor 1 — the multi-hop PYMK
    // generalization (random walk with restart); oracle unrolls the
    // iterations as chained CTEs like qX_pagerank_df.
    "qX_ppr" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.personalizedPageRankDF(edges, lit(1L), iters = 8)
        .orderBy(col("id"))
    }),

    // Connected components, pure-DataFrame min-label propagation —
    // converges to min-id-per-component, the same canonical form as
    // qX_cc_graphx, so both hash-match one recursive-closure oracle.
    "qX_cc_df" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.connectedComponentsDF(edges)
        .orderBy(col("id"))
    }),

    // Friendship paradox: mean degree vs mean neighbor degree — the
    // size-biased sampling effect behind neighbor seeding.
    "qX_friendship" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.friendshipParadox(edges)
    }),

    // One-row graph summary — counts, density, average/max degree.
    "qX_graph_summary" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.graphSummary(edges)
    }),

    // Gini of the degree distribution — connectivity inequality on
    // the exact distributed-rank primitive.
    "qX_degree_gini" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.degreeGini(edges)
    }),

    // Per-landmark eccentricity from the truncated-BFS distances —
    // the per-source face of the effective diameter.
    "qX_eccentricity" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.landmarkEccentricity(edges,
        numSources = 8, maxDepth = 4)
    }),

    // Component-size histogram (exact binary-length log2 bins) —
    // giant-plus-dust vs many-islands, the fragmentation readout
    // that decides whether partition-by-component is a viable layout.
    "qX_cc_sizes" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.componentSizes(edges)
    }),

    // Adamic-Adar link prediction: degree-discounted PYMK top-5 per
    // anchor — shared neighbors weighted 1/ln(deg), so hub-mediated
    // paths stop dominating (the scoring upgrade over raw path counts).
    "qX_adamic_adar" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.adamicAdar(edges, 5)
        .orderBy(col("anchor"), col("rank"))
    }),

    // qX_adamic_adar's SCALE TWIN (the qD1_pymk_capped story for the
    // degree-discounted scorer): wedge sides enumerate each middle's
    // 16-neighbor md5-spread sample while degrees, 1/ln(deg) discounts
    // and the direct-edge anti join stay EXACT on the full adjacency.
    // The exact gate timed out at sf1 (quadratic hub wedges); this
    // bounded form is what runs at scale, rn<=cap replay in the oracle.
    "qX_adamic_adar_capped" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.adamicAdar(edges, 5, maxDegree = 16)
        .orderBy(col("anchor"), col("rank"))
    }),

    // Link-prediction score family: all four classic local indices
    // (common neighbors, resource allocation, Jaccard, preferential
    // attachment) from ONE wedge aggregation — the full candidate-pair
    // feature frame a ranker would train on. a<c half only: the
    // operator mirrors, the gate pins the canonical half.
    "qX_linkpred_scores" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.linkPredictScores(edges)
        .filter(col("a") < col("c"))
        .orderBy(col("a"), col("c"))
    }),

    // Ranked link prediction, top-5 per anchor by Jaccard — exercises
    // the mirrored both-orientations frame + bounded-heap top-k path.
    "qX_linkpred" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.linkPredict(edges, 5, "jaccard")
        .orderBy(col("anchor"), col("rank"))
    }),

    // Hub-capped ranked link prediction — the 100 TB form: each wedge
    // middle's neighbor list is capped at 16 via the hash-spread
    // deterministic sample (md5-portable), bounding any hub's wedge
    // contribution to cap² while sub-cap vertices stay exact. The
    // oracle replays the sample, so this is a full-oracle gate of the
    // approximation itself, not a rows-only smoke.
    "qX_linkpred_capped" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.linkPredict(edges, 5,
          "resource_allocation", maxDegree = 16)
        .orderBy(col("anchor"), col("rank"))
    }),

    // 25-core membership after 8 fixed peel rounds (converged here —
    // spec-asserted; 62/150 vertices survive, with multi-round cascade
    // as the peeled spokes drag hub degrees down). k=3 would be
    // degenerate on this graph: min degree is 12.
    "qX_kcore" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.kCore(edges, k = 25, rounds = 8)
        .orderBy(col("id"))
    }),

    // Per-vertex triangle counts, degree-oriented DataFrame plan —
    // oracle = the order-agnostic a<b<c three-way self-join in DuckDB.
    "qX_triangles_df" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.triangleCountsDF(edges)
        .orderBy(col("id"))
    }),

    // Local clustering coefficient: triangles normalized by the wedge
    // count — the per-vertex community-density feature column.
    "qX_clustering_coeff" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.clusteringCoefficientDF(edges)
        .orderBy(col("id"))
    }),

    // Weighted PageRank over the multiplicity-weighted edge view — the
    // centrality that uses the reference's `knows.weight` property.
    "qX_pagerank_weighted" -> ((s, dir) => {
      val edges = derivedEdgesWeighted(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.pageRankWeightedDF(edges)
        .orderBy(col("id"))
    }),

    // Recency-aware PYMK: the flagship 2-hop recommendation over
    // time-decayed edge weights — yesterday's mutual friend outranks
    // last month's. Path scores floor(w1*w2/1e6), exact integer folds.
    "qX_pymk_decayed" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("src"),
          (floor(col("value")).cast("long") % 50).as("dst"), col("ts"))
        .filter(col("src") =!= col("dst"))
      val wEdges = graft.operators.Features.decayedCounts(events,
        Seq("src", "dst"), "ts", "2024-02-01 00:00:00", 7.0)
      graft.operators.Pymk.recommendAllWeighted(wEdges, limit = 5)
    }),

    // qX_pymk_decayed's SCALE TWIN (the qD1_pymk_capped story on the
    // weighted wedge bag — the exact form timed out at sf1): md5-
    // spread per-middle sample of 16, path weights and ranks exact
    // over the sampled bag, anti-join exact over the full edge set.
    "qX_pymk_decayed_capped" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("src"),
          (floor(col("value")).cast("long") % 50).as("dst"), col("ts"))
        .filter(col("src") =!= col("dst"))
      val wEdges = graft.operators.Features.decayedCounts(events,
        Seq("src", "dst"), "ts", "2024-02-01 00:00:00", 7.0)
      graft.operators.Pymk.recommendAllWeightedCapped(wEdges, limit = 5,
        maxDegree = 16)
    }),

    // Edge embeddedness (neighborhood Jaccard): the tie-strength
    // metric — weak ties score 0, deeply embedded friendships near 1.
    "qX_embeddedness" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.Pymk.edgeEmbeddedness(edges)
    }),

    // Weak ties (local bridges): edges closing no triangle — one
    // wedge + anti join, integer-only. Runs on the sparse day-1
    // subgraph (the month-long graph is dense enough that every edge
    // closes a triangle — zero ties, no gate signal).
    "qX_weak_ties" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .filter(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
      graft.operators.GraphAnalytics.weakTies(derivedEdges(events))
    }),

    // Truncated Katz centrality: 3 attenuated-reach rounds at the
    // dyadic alpha = 1/8 — exact integer folds, unrolled oracle.
    "qX_katz" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.katzMicros(edges, rounds = 3)
    }),

    // 3-truss membership after 3 synchronous support-peel rounds:
    // integer supports, shrinking edge set, unrolled oracle.
    "qX_ktruss" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.kTruss(edges, k = 3, rounds = 3)
    }),

    // qX_ktruss's SCALE TWIN: the same oriented support peel with each
    // oriented out-list capped at 8 via the md5-spread sample — support
    // undercounts at capped vertices (a DOCUMENTED approximation; the
    // peel keeps only edges whose CAPPED support clears k−2), but the
    // oracle replays the rn≤cap draw per round so the approximation
    // itself is gated hash-exactly, like qX_adamic_adar_capped. The
    // exact gate ran 220 s at sf100 (linear but heavy); this bounds
    // any vertex's wedge contribution to cap² per round.
    "qX_ktruss_capped" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.kTruss(edges, k = 3, rounds = 3,
        maxOutDegree = 8)
    }),

    // Degree assortativity: exact BIGINT sufficient statistics, one
    // fixed IEEE Pearson expression.
    "qX_assortativity" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.assortativity(edges)
    }),

    // HyperBall neighborhood function: per-vertex HLL registers
    // (md5-portable, dyadic-exact harmonic sums) folded 4 rounds —
    // N(r) estimates for r = 0..4, full-oracle.
    "qX_hyperball" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.hyperBall(edges, 4)
    }),

    // Effective diameter (90% pair mass) off the HyperBall table —
    // integer comparison, one row.
    "qX_eff_diameter" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.effectiveDiameter(edges, 4)
    }),

    // Weighted SSSP (Bellman–Ford, 10 relaxation rounds ≥ the derived
    // graph's hop diameter): exact integer multiplicity-weighted
    // distances from sources 1 and 7.
    "qX_sssp" -> ((s, dir) => {
      val edges = derivedEdgesWeighted(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.weightedSssp(edges, Seq(1L, 7L), 10)
    }),

    // Label propagation communities: most-frequent neighbor label,
    // smallest-label ties, fixed 4 synchronous rounds (unrolled oracle).
    "qX_lpa" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.labelPropagationDF(edges)
        .orderBy(col("id"))
    }),

    // One-level synchronous Louvain (Blondel 2008 first sweep):
    // modularity-greedy local moves from singletons, gains compared
    // as exact cross-multiplied integers, 2 fixed rounds.
    "qX_louvain" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.louvainSync(edges, rounds = 2)
    }),

    // Coreness (k-shell) by iterated h-index — the full shell
    // decomposition beside qX_kcore's single-k peel; degree-bounded
    // per-vertex windows, 4 unrolled rounds.
    "qX_coreness" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.corenessHIndex(edges, rounds = 4)
    }),

    // Global transitivity 3T/W — the one-number clustering readout
    // beside the per-vertex coefficients; exact wedge/triangle folds.
    "qX_transitivity" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.transitivity(edges)
    }),

    // Bond-percolation robustness: giant-component fraction at 25/50/
    // 75% deterministic edge retention — how much failure the graph
    // absorbs before it shatters.
    "qX_percolation" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.percolation(edges,
        Seq(0.25, 0.5, 0.75))
    }),

    // Newman modularity — integer-micro per-community terms, one
    // keyed-fold pipeline (see operator doc). Two assignments gate the
    // arithmetic: the LPA labels (the dense hub graph collapses to ONE
    // community — Q must be exactly 0, the telling boundary case) and
    // an md5-spread 4-way partition (structureless by construction, so
    // Q ≈ 0 but each of the 4 terms is a nontrivial negative/positive
    // floor — the arithmetic case).
    "qX_modularity" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val lpa = graft.operators.GraphAnalytics.labelPropagationDF(edges)
      val hashed = lpa.select(col("id"),
        pmod(graft.operators.Sampling.md5Bucket(col("id")), lit(4L)).as("lbl"))
      graft.operators.GraphAnalytics.modularity(edges, lpa)
        .withColumn("assignment", lit("lpa"))
        .unionByName(graft.operators.GraphAnalytics.modularity(edges, hashed)
          .withColumn("assignment", lit("hash4")))
        .orderBy(col("assignment"))
    }),

    // Per-community conductance on the same two assignments as
    // qX_modularity: the local leak readout — LPA's single community
    // has no boundary (φ=0 guard), the md5 4-way spread cuts ~3/4 of
    // every community's volume.
    "qX_conductance" -> ((s, dir) => {
      // both assignments scored in ONE tagged pass (r16): the union-of-
      // two-calls form re-canonicalized and re-checkpointed the same
      // edge set per call — result rows identical by construction
      // (hash-gated), jobs halved.
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val lpa = graft.operators.GraphAnalytics.labelPropagationDF(edges)
      val hashed = lpa.select(col("id"),
        pmod(graft.operators.Sampling.md5Bucket(col("id")), lit(4L)).as("lbl"))
      val tagged = lpa.withColumn("assignment", lit("lpa"))
        .unionByName(hashed.withColumn("assignment", lit("hash4")))
      graft.operators.GraphAnalytics.conductanceMulti(edges, tagged)
        .orderBy(col("assignment"), col("lbl"))
    }),

    // Landmark distance table: the hash-spread multi-source truncated
    // BFS (the harmonic/betweenness core) exposed as a first-class
    // output — the landmark-embedding / structural-feature primitive.
    "qX_landmark_dist" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.landmarkDistances(edges,
        numSources = 8, maxDepth = 4)
    }),

    // Deterministic random-walk corpus (DeepWalk/node2vec input): 2
    // walks per vertex, 4 steps, arithmetic-mix neighbor choice —
    // bit-replayable, so the whole corpus is oracle-checked.
    "qX_random_walks" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.randomWalks(edges)
        .orderBy(col("walk_id"), col("step"))
    }),

    // node2vec biased second-order walks: p=4 (return-averse), q=0.25
    // (explore-biased), 1 walk per vertex, 3 steps — integer-milli
    // weights and the replayable arithmetic-mix coin make the biased
    // corpus bit-replayable, so the oracle re-derives every transition
    // (prev-neighbor marking, cumulative weights, modular pick)
    // independently.
    "qX_node2vec" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.node2vecWalks(edges,
          walksPerVertex = 1, length = 3, p = 4.0, q = 0.25)
        .orderBy(col("walk_id"), col("step"))
    }),

    // Skip-gram (center, context, n) pairs from the walk corpus — the
    // DeepWalk/node2vec step that turns walks into word2vec training
    // input; fully oracle-checked because the walks are.
    "qX_walk_pairs" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val walks = graft.operators.GraphAnalytics.randomWalks(edges)
      graft.operators.GraphAnalytics.skipGramPairs(walks, window = 2)
        .orderBy(col("center"), col("context"))
    }),

    // word2vec frequent-vertex subsampling of the walk corpus: hub
    // occurrences thinned by the Mikolov keep-probability, decided by
    // the replayable arithmetic-mix coin — full-row oracle.
    "qX_walk_subsample" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val walks = graft.operators.GraphAnalytics.randomWalks(edges)
      graft.operators.GraphAnalytics.subsampleWalks(walks, t = 0.005)
        .orderBy(col("walk_id"), col("step"))
    }),

    // word2vec negative-sampling table (unigram^0.75, integer-micro
    // weights so p/cum hash-match across engines). The gate runs the
    // SCALABLE form (range-partitioned prefix sum, no global window —
    // the qX_pack convention: gate the plan that survives 100×)
    // against the same oracle; bit-equivalence with the window form is
    // spec-pinned in MultimodalGraphXSpec.
    "qX_neg_table" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val walks = graft.operators.GraphAnalytics.randomWalks(edges)
      graft.operators.GraphAnalytics.negativeSamplingTableScalable(walks)
    }),

    // Sampled harmonic centrality: multi-source truncated BFS from 8
    // hash-spread sources (lowest by (md5-bucket, id) — uniform over
    // vertices, not lowest-id-biased), 1/d summed in integer micros —
    // unrolled min-dist CTE oracle (the kCore playbook).
    "qX_harmonic" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.harmonicCentrality(edges,
        numSources = 8, maxDepth = 4)
    }),

    // HITS hubs & authorities, 3 rounds, directed edges: a ← Eᵀh then
    // h ← E a per round, each half L1-normalized to integer micros —
    // fully SQL-replayable as unrolled CTEs.
    "qX_hits" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.hits(edges, iters = 3)
    }),

    // Eigenvector centrality, 3 power-iteration rounds on the
    // undirected simple view, each round L1-normalized to integer
    // micros — unrolled-CTE oracle (the HITS playbook, single chain).
    "qX_eigenvector" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.eigenvectorCentrality(edges, iters = 3)
    }),

    // SALSA hubs & authorities: degree-normalized link analysis (the
    // Twitter-WTF people-rec scorer), 3 rounds of floored per-edge
    // micro messages + per-half-round L1 renormalization — unrolled
    // oracle (the HITS playbook with degree CTEs).
    "qX_salsa" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.salsa(edges, iters = 3)
    }),

    // Edge reciprocity: fraction of directed knows edges whose reverse
    // exists — one self semi-join + exact counts + floored micro ratio.
    "qX_reciprocity" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.reciprocity(edges)
    }),

    // Power-law degree-exponent MLE over the undirected simple degree
    // tail (d >= 2): per-vertex ln terms quantized to micros before
    // the fold, one fixed IEEE estimator expression.
    "qX_powerlaw" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.powerLawAlpha(edges, dmin = 2)
    }),

    // Personalized SALSA PYMK (the Twitter-WTF scorer): hub side =
    // user 1's circle of trust, 3 degree-normalized rounds on the
    // restricted bipartite view, friends-and-self excluded — the
    // link-analysis alternative ranking to qD1_pymk's path counts.
    "qX_salsa_pymk" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.salsaPersonalized(
        edges, lit(1L), iters = 3, topK = 10)
    }),

    // Rich-club coefficient at k=30: density of the hub-induced
    // subgraph — exact counts, one floored micro ratio.
    "qX_richclub" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.richClub(edges, k = 30)
    }),

    // 4-cycle motif count — the co-citation signature via the
    // diagonal co-degree identity C4 = Σ codeg(codeg−1)/4.
    "qX_c4" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.c4Count(edges)
    }),

    // qX_c4's SCALE TWIN: the HT-weighted wedge-sampled estimate
    // (middles capped at 16 md5-spread neighbors — hubs sampled,
    // sub-cap vertices exact). The md5 sample is SQL-replayable, so
    // the ESTIMATE hash-matches the oracle exactly. This is the form
    // that runs at sf ≥ 1 (the exact codegree join measured 26× for
    // the sf0.1→sf1 decade); qX_c4_band is the companion tolerance
    // contract that re-derives the exact count beside it.
    "qX_c4_sampled" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.c4CountSampled(edges, 16)
    }),

    // qX_c4_sampled's tolerance CONTRACT (the qX_ann_lsh_recall
    // shape): estimate and exact count side by side, and the oracle
    // pins band_ok = 1 — the gate fails unless the estimate lands
    // within ±25% of the exact count (measured +5.3% at sf0.01,
    // +0.8% at sf0.1 under cap 16). Runs the quadratic exact form by
    // construction, so this gate is the CONTRACT at oracle scale
    // while qX_c4_sampled alone is the scale path.
    "qX_c4_band" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val est = graft.operators.GraphAnalytics.c4CountSampled(edges, 16)
      val exact = graft.operators.GraphAnalytics.c4Count(edges)
        .select(col("c4_count").as("c4_exact"))
      est.crossJoin(exact) // both single-row
        .select(col("n_wedges_sampled"), col("n_diag_pairs"),
          col("c4_estimate"), col("c4_exact"),
          (abs(col("c4_estimate") - col("c4_exact")) * lit(4L) <=
            col("c4_exact")).cast("long").as("band_ok"))
    }),

    // Log-binned degree histogram — ⌊log₂ d⌋ via the exact
    // binary-string length (float log₂ bin-flips at powers of two).
    "qX_degree_hist" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.degreeHistogram(edges)
    }),

    // Luby maximal independent set: per round, an active vertex joins
    // iff its md5-composite priority beats every active neighbor's;
    // winners + neighbors retire. Deterministic, unrolled-round oracle.
    "qX_mis" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.maximalIndependentSet(edges, rounds = 4)
    }),

    // Seeded label spreading: 4 hash-spread clamped seeds (label =
    // own id) propagate by neighbor-majority (ties to smaller label),
    // 3 rounds — semi-supervised node classification, unrolled oracle.
    "qX_label_spread" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val verts = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      val seeds = verts
        .orderBy(graft.operators.Sampling.md5Bucket(col("id")), col("id"))
        .limit(4)
        .select(col("id"), col("id").as("label"))
      graft.operators.GraphAnalytics.labelSpread(edges, seeds, rounds = 3)
    }),

    // Large-star/small-star CC — the O(log² n) edge-rewiring CC that
    // replaces diameter-many label rounds at 100 TB; converges to the
    // same canonical min-id labels as qX_cc_df, sharing its oracle.
    "qX_cc_twostar" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.ccTwoStar(edges)
    }),

    // Sampled betweenness (Brandes from 8 hash-spread sources,
    // depth-3 horizon): strict-level BFS with path counts forward,
    // per-level dependency accumulation backward — integer-micro δ
    // sums; unrolled level/delta CTE oracle (the harmonic playbook).
    "qX_betweenness" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      graft.operators.GraphAnalytics.betweennessSampled(edges,
        numSources = 8, maxDepth = 3)
    }),

    // k-core converge-and-verify: peel to the TRUE fixpoint and emit
    // (k, rounds-to-fixpoint, survivor count, converged) — peeling is
    // deterministic, so the oracle recomputes rounds as the first
    // unrolled CTE whose survivor count equals its predecessor's.
    // Closes the last ungated public graph API (kCoreConverged was
    // spec-only through r5).
    "qX_kcore_converged" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val (membership, converged, rounds) =
        graft.operators.GraphAnalytics.kCoreConverged(edges, k = 25)
      membership.filter(col("in_core"))
        .agg(count(lit(1)).as("survivors"))
        .select(lit(25).as("k"), lit(rounds).as("rounds"),
          col("survivors"), lit(converged).as("converged"))
    }),

    // GraphX TriangleCount agreement with the oracle-checked DF plan:
    // every vertex must count identically (exact integers, no float
    // tolerance needed) — same contract shape as qX_pagerank_consistency.
    "qX_triangles_consistency" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      // overlap the two arms' construction jobs — see
      // qX_pagerank_consistency
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDf = Future {
        graft.operators.GraphAnalytics.triangleCountsDF(edges) }
      val fGx = Future {
        val sEdges = edges.select(col("src").cast("string").as("src"),
            col("dst").cast("string").as("dst"))
          .withColumn("weight", lit(1.0))
        val verts = sEdges.select(col("src").as("id"))
          .unionAll(sEdges.select(col("dst").as("id"))).distinct()
        graft.operators.GraphAnalytics.triangleCounts(verts, sEdges)
          .select(col("id").cast("long").as("id"), col("n_tri").as("gx_tri"))
      }
      val df = Await.result(fDf, Duration.Inf)
      val gx = Await.result(fGx, Duration.Inf)
      df.join(gx, "id")
        .agg(count(lit(1)).as("n_vertices"),
          count(when(col("n_tri") === col("gx_tri"), 1)).as("n_agree"))
    }),

    // C9: path join for visualization — edge endpoints hydrated to names.
    "qC9_path_join" -> ((s, dir) => {
      val edges = derivedEdges(Tables.load(s, dir, "events"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("vid"), col("c_name").as("vname"))
      val srcV = c.select(col("vid").as("src"), col("vname").as("src_name"))
      val dstV = c.select(col("vid").as("dst"), col("vname").as("dst_name"))
      edges.join(broadcast(srcV), "src").join(broadcast(dstV), "dst")
        .select(col("src"), col("dst"), col("src_name"), col("dst_name"))
        .orderBy(col("src"), col("dst"))
    }))

  /** Unrolled power-iteration PageRank oracle: r0 = 1.0, then `iters`
    * chained CTEs of `0.15 + 0.85 * Σ rank/outdeg` — the exact
    * arithmetic of [[graft.operators.GraphAnalytics.pageRankDF]]. */
  private def pagerankSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
         |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.rank / outd.d) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.v
         |    JOIN outd ON e.src = outd.src
         |    GROUP BY e.dst) m ON verts.v = m.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS id, ROUND(rank * (SELECT count(*) FROM r$iters)
         |  / (SELECT sum(rank) FROM r$iters), 6) AS rank
         |FROM r$iters ORDER BY v""".stripMargin
  }

  /** Unrolled INTEGER-MICRO PageRank oracle — replays
    * [[graft.operators.GraphAnalytics.pageRankMicros]] exactly: Long
    * ranks from 1e6, per-edge message `r // outdeg` (floor), damping
    * as the rational 17/20, no rescale. Every quantity stays integer,
    * so the GraphX fold and this SQL agree bit-for-bit. */
  private def pagerankMicrosSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v,
         |    CAST(150000 + (COALESCE(m.s, 0) * 17) // 20 AS BIGINT) AS r
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.r // outd.d) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.v
         |    JOIN outd ON e.src = outd.src
         |    GROUP BY e.dst) m ON verts.v = m.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS id, r AS rank_micros FROM r$iters ORDER BY v""".stripMargin
  }

  /** Unrolled random-walk oracle: one CTE per step, each picking the
    * `mix(walk, step, cur) mod deg` entry of the id-ordered adjacency —
    * the exact arithmetic of
    * [[graft.operators.GraphAnalytics.randomWalks]]. */
  /** The full WITH-chain producing a `walks(walk_id, step, vertex)`
    * CTE — shared by the walk-corpus oracle and the skip-gram pair
    * oracle. The neighbor pick floor-mods the inner hash
    * ((x % m + m) % m — DuckDB's % takes the dividend's sign, like
    * Spark's) to mirror randomWalks' pmod: a negative vertex id must
    * pick a real adjacency index, not silently truncate the walk. */
  private def randomWalksCte(walksPerVertex: Int, length: Int,
                             seed: Long): String = {
    val replicas = (0 until walksPerVertex)
      .map(r => s"SELECT $r AS r").mkString(" UNION ALL ")
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e
         |        UNION ALL
         |        SELECT v AS f, u AS t FROM e),
         |adjidx AS (SELECT f, t,
         |    row_number() OVER (PARTITION BY f ORDER BY t) - 1 AS idx
         |  FROM adj),
         |degs AS (SELECT f, count(*) AS deg FROM adj GROUP BY f),
         |w0 AS (
         |  SELECT id * $walksPerVertex + r AS walk_id, id AS cur
         |  FROM (SELECT DISTINCT f AS id FROM adj)
         |  CROSS JOIN ($replicas))""".stripMargin
    val steps = (1 to length).map { s =>
      s"""w$s AS (
         |  SELECT w.walk_id, a.t AS cur
         |  FROM w${s - 1} w
         |  JOIN degs d ON w.cur = d.f
         |  JOIN adjidx a ON a.f = w.cur
         |   AND a.idx = (((w.walk_id * 40503 + $s * 2654435
         |                 + w.cur * 69069 + $seed) % 1000003
         |                 + 1000003) % 1000003) % d.deg)""".stripMargin
    }
    val union = (0 to length)
      .map(s => s"SELECT walk_id, $s AS step, cur AS vertex FROM w$s")
      .mkString("\n  UNION ALL\n  ")
    (head +: steps).mkString(",\n") + s",\nwalks AS (\n  $union)"
  }

  private def randomWalksSql(walksPerVertex: Int, length: Int,
                             seed: Long): String =
    randomWalksCte(walksPerVertex, length, seed) +
      "\nSELECT walk_id, step, vertex FROM walks ORDER BY walk_id, step"

  /** Unrolled node2vec oracle: w1 is [[randomWalksCte]]'s uniform
    * first step carrying `prev`; each later step independently
    * re-derives the biased transition — candidate fan-out, LEFT JOIN
    * prev-neighbor mark against the canonical edge set, CASE weights
    * in integer millis, running/total weight windows, modular pick —
    * the exact semantics of
    * [[graft.operators.GraphAnalytics.node2vecWalks]]. */
  private def node2vecSql(walksPerVertex: Int, length: Int, seed: Long,
                          p: Double, q: Double): String = {
    val wRet = math.max(1L, math.round(1000.0 / p))
    val wOut = math.max(1L, math.round(1000.0 / q))
    val replicas = (0 until walksPerVertex)
      .map(r => s"SELECT $r AS r").mkString(" UNION ALL ")
    def mix(s: Int, walkRef: String, curRef: String) =
      s"((($walkRef * 40503 + $s * 2654435 + $curRef * 69069 + $seed) " +
        "% 1000003 + 1000003) % 1000003)"
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e
         |        UNION ALL
         |        SELECT v AS f, u AS t FROM e),
         |adjidx AS (SELECT f, t,
         |    row_number() OVER (PARTITION BY f ORDER BY t) - 1 AS idx
         |  FROM adj),
         |degs AS (SELECT f, count(*) AS deg FROM adj GROUP BY f),
         |w0 AS (
         |  SELECT id * $walksPerVertex + r AS walk_id, id AS cur
         |  FROM (SELECT DISTINCT f AS id FROM adj)
         |  CROSS JOIN ($replicas)),
         |w1 AS (
         |  SELECT w.walk_id, w.cur AS prev, a.t AS cur
         |  FROM w0 w
         |  JOIN degs d ON w.cur = d.f
         |  JOIN adjidx a ON a.f = w.cur
         |   AND a.idx = ${mix(1, "w.walk_id", "w.cur")} % d.deg)""".stripMargin
    val steps = (2 to length).map { s =>
      s"""w$s AS (
         |  SELECT walk_id, cur0 AS prev, t AS cur FROM (
         |    SELECT c.walk_id, c.cur0, c.t, c.wt,
         |      SUM(c.wt) OVER (PARTITION BY c.walk_id ORDER BY c.idx
         |        ROWS UNBOUNDED PRECEDING) AS cw,
         |      SUM(c.wt) OVER (PARTITION BY c.walk_id) AS tot,
         |      ${mix(s, "c.walk_id", "c.cur0")} AS mx
         |    FROM (
         |      SELECT w.walk_id, w.cur AS cur0, a.t, a.idx,
         |        CASE WHEN a.t = w.prev THEN $wRet
         |             WHEN nb.u IS NOT NULL THEN 1000
         |             ELSE $wOut END AS wt
         |      FROM w${s - 1} w
         |      JOIN adjidx a ON a.f = w.cur
         |      LEFT JOIN e nb ON least(w.prev, a.t) = nb.u
         |       AND greatest(w.prev, a.t) = nb.v) c) x
         |  WHERE mx % tot >= cw - wt AND mx % tot < cw)""".stripMargin
    }
    val union = (0 to length).map { s =>
      val src = if (s == 0) "w0" else s"w$s"
      s"SELECT walk_id, $s AS step, cur AS vertex FROM $src"
    }.mkString("\n  UNION ALL\n  ")
    (head +: steps).mkString(",\n") +
      s",\nwalks AS (\n  $union)" +
      "\nSELECT walk_id, step, vertex FROM walks ORDER BY walk_id, step"
  }

  /** Skip-gram pair oracle: the walk CTE self-joined on walk_id within
    * the window — the exact formulation of
    * [[graft.operators.GraphAnalytics.skipGramPairs]]. */
  private def walkPairsSql(walksPerVertex: Int, length: Int,
                           seed: Long, window: Int): String =
    randomWalksCte(walksPerVertex, length, seed) +
      s"""
         |SELECT a.vertex AS center, b.vertex AS context, count(*) AS n
         |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         | AND a.step <> b.step AND abs(a.step - b.step) <= $window
         |GROUP BY 1, 2 ORDER BY center, context""".stripMargin

  /** Unrolled synchronous-LPA oracle: `rounds` chained CTEs, each the
    * per-vertex argmax of neighbor-label counts with (count DESC,
    * label ASC) total order — the exact semantics of
    * [[graft.operators.GraphAnalytics.labelPropagationDF]]. */
  /** Unrolled synchronous-LPA CTE chain (shared by the LPA and
    * modularity oracles) — ends at CTE `l$rounds` (id, lbl) with the
    * simple edge view `e` available. */
  private def lpaCte(rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e
         |        UNION ALL
         |        SELECT v AS f, u AS t FROM e),
         |l0 AS (SELECT DISTINCT f AS id, f AS lbl FROM adj)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT a.f AS id, r.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY a.f
         |        ORDER BY count(*) DESC, r.lbl ASC) AS rn
         |    FROM adj a JOIN l${i - 1} r ON a.t = r.id
         |    GROUP BY a.f, r.lbl)
         |  WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def lpaSql(rounds: Int): String =
    lpaCte(rounds) + s"\nSELECT id, lbl FROM l$rounds ORDER BY id"

  /** Unrolled one-level synchronous Louvain oracle: per round the
    * community-degree fold, the neighbor-community kin fold, the
    * exact cross-multiplied gain comparison and the (gain desc,
    * community asc) argmax — the exact replay of
    * [[graft.operators.GraphAnalytics.louvainSync]]. */
  private def louvainSql(rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |canon AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM canon
         |  UNION ALL SELECT v AS f, u AS t FROM canon),
         |deg AS (SELECT f AS id, count(*) AS k FROM adj GROUP BY 1),
         |mm AS (SELECT count(*) AS m2 FROM adj),
         |c0 AS (SELECT id, id AS c FROM deg)""".stripMargin
    val rs = (1 to rounds).map { r =>
      val p = s"c${r - 1}"
      s"""t$r AS (SELECT $p.c, CAST(sum(deg.k) AS BIGINT) AS tot
         |  FROM $p JOIN deg USING (id) GROUP BY 1),
         |ki$r AS (SELECT adj.f AS id, $p.c, count(*) AS kin
         |  FROM adj JOIN $p ON $p.id = adj.t GROUP BY 1, 2),
         |b$r AS (SELECT $p.id, $p.c AS own, deg.k,
         |    mm.m2 * coalesce(ko.kin, 0)
         |      - deg.k * (town.tot - deg.k) AS own_term
         |  FROM $p JOIN deg USING (id) CROSS JOIN mm
         |  JOIN t$r town ON town.c = $p.c
         |  LEFT JOIN ki$r ko ON ko.id = $p.id AND ko.c = $p.c),
         |mv$r AS (SELECT b.id, ki.c,
         |    mm.m2 * ki.kin - b.k * t.tot - b.own_term AS delta
         |  FROM ki$r ki JOIN b$r b ON b.id = ki.id AND ki.c <> b.own
         |  JOIN t$r t ON t.c = ki.c CROSS JOIN mm
         |  WHERE mm.m2 * ki.kin - b.k * t.tot - b.own_term > 0),
         |bs$r AS (SELECT id, c FROM mv$r
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY delta DESC, c) = 1),
         |c$r AS (SELECT $p.id, coalesce(bs$r.c, $p.c) AS c
         |  FROM $p LEFT JOIN bs$r USING (id))""".stripMargin
    }
    (Seq(head) ++ rs).mkString(",\n") +
      s""",
         |fin AS (SELECT c, min(id) AS community FROM c$rounds GROUP BY 1)
         |SELECT c$rounds.id, fin.community
         |FROM c$rounds JOIN fin USING (c) ORDER BY id""".stripMargin
  }

  /** Unrolled iterated-h-index coreness oracle: per round the
    * desc-ranked neighbor values and the max(min(rank, value)) H
    * fold — the exact replay of
    * [[graft.operators.GraphAnalytics.corenessHIndex]]. */
  private def corenessSql(rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |canon AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM canon
         |  UNION ALL SELECT v AS f, u AS t FROM canon),
         |h0 AS (SELECT f AS id, count(*) AS h FROM adj GROUP BY 1)""".stripMargin
    val rs = (1 to rounds).map { k =>
      s"""h$k AS (SELECT id, max(least(rn, hv)) AS h FROM (
         |  SELECT a.f AS id, hh.h AS hv,
         |    row_number() OVER (PARTITION BY a.f
         |      ORDER BY hh.h DESC, a.t) AS rn
         |  FROM adj a JOIN h${k - 1} hh ON hh.id = a.t) x
         |  GROUP BY 1)""".stripMargin
    }
    (Seq(head) ++ rs).mkString(",\n") +
      s"\nSELECT id, h AS coreness FROM h$rounds ORDER BY id"
  }

  /** Per-rate md5-retained edge set + recursive reachability closure +
    * giant-component fold — the exact replay of
    * [[graft.operators.GraphAnalytics.percolation]]. */
  private def percolationSql(rates: Seq[Double]): String = {
    val head =
      s"""WITH RECURSIVE edges AS ($EdgesSql),
         |canon AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |verts AS (SELECT DISTINCT id FROM (
         |  SELECT u AS id FROM canon
         |  UNION ALL SELECT v FROM canon) vx),
         |nv AS (SELECT count(*) AS n FROM verts)""".stripMargin
    val blocks = rates.sorted.zipWithIndex.map { case (rate, i) =>
      val cut = math.floor(rate * 4294967296.0).toLong
      val rm = math.floor(rate * 1e6).toLong
      s"""k$i AS (SELECT u, v FROM canon
         |  WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || ':'
         |    || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT) < $cut),
         |a$i AS (SELECT u AS f, v AS t FROM k$i
         |  UNION ALL SELECT v AS f, u AS t FROM k$i),
         |vv$i AS (SELECT DISTINCT f AS w FROM a$i),
         |r$i(w, r) AS (SELECT w, w FROM vv$i
         |  UNION
         |  SELECT r$i.w, a$i.t FROM r$i JOIN a$i ON r$i.r = a$i.f),
         |comp$i AS (SELECT w, min(r) AS comp FROM r$i GROUP BY 1),
         |g$i AS (SELECT coalesce(max(sz), 1) AS giant FROM (
         |  SELECT comp, count(*) AS sz FROM comp$i GROUP BY 1) x),
         |row$i AS (SELECT CAST($rm AS BIGINT) AS rate_micros,
         |  (SELECT count(*) FROM k$i) AS n_edges_kept,
         |  nv.n AS n_vertices, g$i.giant AS giant_size,
         |  CAST(floor(1e6 * g$i.giant / nv.n) AS BIGINT)
         |    AS giant_frac_micros
         |  FROM g$i CROSS JOIN nv)""".stripMargin
    }
    (Seq(head) ++ blocks).mkString(",\n") + "\n" +
      rates.indices.map(i => s"SELECT * FROM row$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY rate_micros")
  }

  /** Unrolled weighted-PageRank oracle: [[pagerankSql]]'s chained CTEs
    * with per-edge contribution `rank · w / wout` — the exact
    * arithmetic of [[graft.operators.GraphAnalytics.pageRankWeightedDF]]. */
  /** Unrolled replay of [[graft.operators.GraphAnalytics.katzMicros]]:
    * per round one adjacency join + integer sum, `1e6 + ⌊Σ/8⌋`. */
  private def katzSql(rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |adj AS (SELECT src AS f, dst AS t FROM edges
         |        UNION SELECT dst AS f, src AS t FROM edges),
         |vs AS (SELECT DISTINCT f AS id FROM adj),
         |x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS x FROM vs)""".stripMargin
    val rs = (1 to rounds).map { k =>
      s"""x$k AS (SELECT vs.id,
         |  CAST(1000000 + floor(coalesce(s.s, 0) / 8) AS BIGINT) AS x
         |  FROM vs LEFT JOIN (
         |    SELECT a.t AS id, CAST(sum(x.x) AS BIGINT) AS s
         |    FROM adj a JOIN x${k - 1} x ON x.id = a.f GROUP BY 1) s
         |  USING (id))""".stripMargin
    }
    (Seq(head) ++ rs).mkString(",\n") +
      s"\nSELECT id, x AS katz_micros FROM x$rounds ORDER BY id"
  }

  /** Unrolled replay of [[graft.operators.GraphAnalytics.kTruss]]:
    * per round one wedge-join support count over the current edge set
    * + the ≥ k−2 filter. */
  private def kTrussSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e0 AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM edges)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""a$r AS (SELECT u AS f, v AS t FROM e${r - 1}
         |  UNION ALL SELECT v AS f, u AS t FROM e${r - 1}),
         |s$r AS (SELECT e.u, e.v, count(*) AS sup
         |  FROM e${r - 1} e JOIN a$r a1 ON a1.f = e.u
         |  JOIN a$r a2 ON a2.f = e.v
         |  WHERE a1.t = a2.t GROUP BY 1, 2),
         |e$r AS (SELECT e.u, e.v FROM e${r - 1} e JOIN s$r s
         |  ON s.u = e.u AND s.v = e.v AND s.sup >= ${k - 2})""".stripMargin
    }
    val fin =
      s"""SELECT e.u, e.v, s.sup FROM e$rounds e
         |JOIN s$rounds s ON s.u = e.u AND s.v = e.v
         |ORDER BY e.u, e.v""".stripMargin
    (Seq(head) ++ rs).mkString(",\n") + "\n" + fin
  }

  /** Unrolled replay of the CAPPED [[kTruss]] peel
    * (`maxOutDegree = cap`): per round — degrees from the current edge
    * set, (deg, id)-orientation, the md5-spread rn≤cap draw on each
    * oriented out-list (`Sampling.md5Bucket` replayed as
    * `('0x' || substr(md5(lo:hi), 1, 8))::BIGINT`, ties by hi — the
    * engine's `TopK.grouped` struct(_hk, _hi, …) ascending order),
    * wedge pairs in hikey=(deg, id) order, closure against the SAME
    * capped list, three edge-credits, peel at k−2. The capped support
    * is what the engine computes, so the gate is hash-exact on the
    * approximation itself. */
  private def kTrussCappedSql(k: Int, rounds: Int, cap: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e0 AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM edges)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""d$r AS (SELECT id, count(*) AS deg FROM (
         |  SELECT u AS id FROM e${r - 1}
         |  UNION ALL SELECT v FROM e${r - 1}) x GROUP BY id),
         |o$r AS (SELECT
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.u ELSE e.v END AS lo,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.v ELSE e.u END AS hi,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN dv.deg ELSE du.deg END AS dh
         |  FROM e${r - 1} e JOIN d$r du ON du.id = e.u
         |  JOIN d$r dv ON dv.id = e.v),
         |c$r AS MATERIALIZED (SELECT lo, hi, dh FROM (
         |  SELECT lo, hi, dh, row_number() OVER (PARTITION BY lo
         |    ORDER BY CAST(('0x' || substr(md5(CAST(lo AS VARCHAR)
         |      || ':' || CAST(hi AS VARCHAR)), 1, 8)) AS BIGINT), hi)
         |    AS rn FROM o$r) z WHERE rn <= $cap),
         |t$r AS (SELECT b.lo AS a, b.hi AS b, c.hi AS c
         |  FROM c$r b JOIN c$r c ON b.lo = c.lo
         |  WHERE (b.dh < c.dh OR (b.dh = c.dh AND b.hi < c.hi))
         |    AND EXISTS (SELECT 1 FROM c$r z
         |                WHERE z.lo = b.hi AND z.hi = c.hi)),
         |s$r AS (SELECT u, v, count(*) AS sup FROM (
         |  SELECT least(a, b) AS u, greatest(a, b) AS v FROM t$r
         |  UNION ALL SELECT least(a, c), greatest(a, c) FROM t$r
         |  UNION ALL SELECT least(b, c), greatest(b, c) FROM t$r) x
         |  GROUP BY u, v),
         |e$r AS (SELECT e.u, e.v FROM e${r - 1} e JOIN s$r s
         |  ON s.u = e.u AND s.v = e.v AND s.sup >= ${k - 2})""".stripMargin
    }
    val fin =
      s"""SELECT e.u, e.v, s.sup FROM e$rounds e
         |JOIN s$rounds s ON s.u = e.u AND s.v = e.v
         |ORDER BY e.u, e.v""".stripMargin
    (Seq(head) ++ rs).mkString(",\n") + "\n" + fin
  }

  /** Unrolled replay of [[graft.operators.GraphAnalytics.hyperBall]]:
    * md5 registers, per-round max-folds, dyadic-exact harmonic sums,
    * per-vertex integer estimates. Ends with CTEs `e0..e{maxR}`
    * (r, n_reached_est). */
  private def hyperBallCte(maxR: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |adj AS (SELECT src AS f, dst AS t FROM edges
         |        UNION SELECT dst AS f, src AS t FROM edges),
         |vs AS (SELECT DISTINCT f AS v FROM adj),
         |hh AS (SELECT v,
         |  CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 8)) AS BIGINT)
         |    AS hv
         |  FROM vs),
         |ww AS (SELECT v, hv % 16 AS j, CAST(floor(hv / 16) AS BIGINT) AS w
         |  FROM hh),
         |r0 AS (SELECT v, j,
         |  CASE WHEN w = 0 THEN 29
         |       ELSE CAST(round(log2(w & (-w))) AS BIGINT) + 1 END AS rho
         |  FROM ww)""".stripMargin
    val regs = (1 to maxR).map { k =>
      s"""r$k AS (SELECT v, j, max(rho) AS rho FROM (
         |  SELECT v, j, rho FROM r${k - 1}
         |  UNION ALL
         |  SELECT a.t AS v, p.j, p.rho FROM r${k - 1} p
         |  JOIN adj a ON a.f = p.v) x
         |  GROUP BY 1, 2)""".stripMargin
    }
    val ests = (0 to maxR).map { k =>
      s"""p$k AS (SELECT v, sum(pow(2.0, -rho)) + (16 - count(*)) AS s,
         |  16 - count(*) AS v0 FROM r$k GROUP BY v),
         |e$k AS (SELECT $k AS r, CAST(sum(
         |  CASE WHEN 0.673 * 256.0 / s <= 40.0 AND v0 > 0
         |    THEN CAST(round(16.0 * ln(16.0 / v0)) AS BIGINT)
         |    ELSE CAST(round(0.673 * 256.0 / s) AS BIGINT) END) AS BIGINT)
         |  AS n_reached_est FROM p$k)""".stripMargin
    }
    (Seq(head) ++ regs ++ ests).mkString(",\n")
  }

  /** Unrolled Bellman–Ford replay of
    * [[graft.operators.GraphAnalytics.weightedSssp]]: round k = one
    * relaxation of every (undirected) weighted edge + an integer
    * min-fold — exactly the engine's per-round plan. */
  private def ssspSql(rounds: Int, sources: Seq[Long]): String = {
    val head =
      s"""WITH e AS ($WeightedEdgesSql),
         |adj AS (SELECT src, dst, w FROM e
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM e),
         |d0 AS (${sources.map(s =>
          s"SELECT CAST($s AS BIGINT) AS s, CAST($s AS BIGINT) AS v, " +
            s"CAST(0 AS BIGINT) AS d").mkString(" UNION ALL ")})""".stripMargin
    val rs = (1 to rounds).map { k =>
      s"""d$k AS (SELECT s, v, min(d) AS d FROM (
         |  SELECT s, v, d FROM d${k - 1}
         |  UNION ALL
         |  SELECT p.s, a.dst AS v, p.d + a.w AS d
         |  FROM d${k - 1} p JOIN adj a ON a.src = p.v) x
         |  GROUP BY 1, 2)""".stripMargin
    }
    (head +: rs).mkString(",\n") +
      s"\nSELECT s, v, d FROM d$rounds ORDER BY s, v"
  }

  private def weightedPagerankSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($WeightedEdgesSql),
         |outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
         |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.rank * e.w / outw.wout) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.v
         |    JOIN outw ON e.src = outw.src
         |    GROUP BY e.dst) m ON verts.v = m.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS id, ROUND(rank * (SELECT count(*) FROM r$iters)
         |  / (SELECT sum(rank) FROM r$iters), 6) AS rank
         |FROM r$iters ORDER BY v""".stripMargin
  }

  /** Unrolled PPR oracle: same chained-CTE shape as [[pagerankSql]]
    * with the teleport concentrated on the anchor and no final
    * rescale. */
  private def pprSql(iters: Int, anchor: Long): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
         |r0 AS (SELECT v, CASE WHEN v = $anchor THEN CAST(1.0 AS DOUBLE)
         |  ELSE CAST(0.0 AS DOUBLE) END AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v,
         |    (CASE WHEN verts.v = $anchor THEN 0.15 ELSE 0.0 END)
         |      + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.rank / outd.d) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.v
         |    JOIN outd ON e.src = outd.src
         |    GROUP BY e.dst) m ON verts.v = m.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS id, ROUND(rank, 6) AS rank
         |FROM r$iters ORDER BY v""".stripMargin
  }

  /** Unrolled k-core peeling oracle: cN = survivors after round N; the
    * induced degree joins both endpoints back into the previous
    * round's survivor set — the same fixed-round contract as
    * [[graft.operators.GraphAnalytics.kCore]]. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |verts AS (SELECT DISTINCT f AS id FROM adj),
         |c0 AS (SELECT id FROM verts)""".stripMargin
    // AS MATERIALIZED: each cN is referenced twice by cN+1 — without it
    // DuckDB inlines the chain into 2^rounds copies of the base scan
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT adj.f AS id FROM adj
         |  JOIN c${i - 1} a ON adj.f = a.id
         |  JOIN c${i - 1} b ON adj.t = b.id
         |  GROUP BY adj.f HAVING count(*) >= $k)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT verts.id, c$rounds.id IS NOT NULL AS in_core
         |FROM verts LEFT JOIN c$rounds ON verts.id = c$rounds.id
         |ORDER BY verts.id""".stripMargin
  }

  /** Converge-and-verify k-core oracle: the [[kcoreSql]] chain unrolled
    * `unroll` deep with a per-round survivor count; rounds-to-fixpoint
    * is the first round whose count equals its predecessor's — the
    * definition kCoreConverged's loop counter implements. `unroll` must
    * exceed the true fixpoint depth or the oracle returns NULL rounds
    * (visibly failing the gate, never silently passing it). */
  private def kcoreConvergedSql(k: Int, unroll: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |c0 AS (SELECT DISTINCT f AS id FROM adj)""".stripMargin
    val steps = (1 to unroll).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT adj.f AS id FROM adj
         |  JOIN c${i - 1} a ON adj.f = a.id
         |  JOIN c${i - 1} b ON adj.t = b.id
         |  GROUP BY adj.f HAVING count(*) >= $k)""".stripMargin
    }
    val counts = (0 to unroll)
      .map(i => s"SELECT $i AS r, count(*) AS n FROM c$i")
      .mkString("\n  UNION ALL\n  ")
    (head +: steps).mkString(",\n") +
      s""",
         |counts AS (
         |  $counts),
         |fix AS (SELECT min(a.r) AS rounds FROM counts a
         |  JOIN counts b ON b.r = a.r - 1 AND b.n = a.n)
         |SELECT $k AS k, fix.rounds AS rounds,
         |  (SELECT n FROM counts WHERE r = fix.rounds) AS survivors,
         |  TRUE AS converged
         |FROM fix""".stripMargin
  }

  /** Subsample oracle: the walk CTE + the exact IEEE expression chain
    * of subsampleWalks (left-assoc divisions, same coin floor-mod). */
  private def walkSubsampleSql(t: Double, seed: Long): String =
    randomWalksCte(walksPerVertex = 2, length = 4, seed = 7L) +
      s""",
         |freqs AS (SELECT vertex, count(*) AS n FROM walks GROUP BY vertex),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM freqs),
         |keep AS (SELECT vertex,
         |    least(1.0, (sqrt(n / (SELECT total FROM tot) / $t) + 1.0)
         |      * $t / (n / (SELECT total FROM tot))) AS p
         |  FROM freqs)
         |SELECT w.walk_id, w.step, w.vertex
         |FROM walks w JOIN keep k USING (vertex)
         |WHERE CAST(((w.walk_id * 40503 + w.step * 2654435 + $seed)
         |    % 1000003 + 1000003) % 1000003 AS DOUBLE) / 1000003.0 < k.p
         |ORDER BY walk_id, step""".stripMargin

  private def negTableSql(power: Double): String =
    randomWalksCte(walksPerVertex = 2, length = 4, seed = 7L) +
      s""",
         |w AS (SELECT vertex, count(*) AS n,
         |    CAST(round(pow(CAST(count(*) AS DOUBLE), $power) * 1000000.0)
         |      AS BIGINT) AS wm
         |  FROM walks GROUP BY vertex),
         |tot AS (SELECT CAST(sum(wm) AS DOUBLE) AS total FROM w)
         |SELECT vertex, n, round(wm / (SELECT total FROM tot), 8) AS p,
         |  round(CAST(sum(wm) OVER (ORDER BY vertex
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / (SELECT total FROM tot), 8) AS cum
         |FROM w ORDER BY vertex""".stripMargin

  /** Unrolled multi-source BFS oracle for [[qX_harmonic]]: dN holds
    * min-dist-within-N-steps per (source, vertex); each level unions
    * the previous with its one-step expansion and re-mins.
    * MATERIALIZED: every dN is referenced twice by dN+1. */
  /** Unrolled Brandes oracle for [[qX_betweenness]] at maxDepth = 3:
    * l0..l3 are strict BFS levels carrying path counts σ (anti-joined
    * against everything seen), d3..d1 the backward dependency
    * accumulation `δ(v) = Σ σ_v/σ_w (1+δ_w)` over level-(L+1)
    * children; per-(source, vertex) δ lands as integer micros before
    * the per-vertex sum. */
  private def betweennessSql(numSources: Int): String =
    s"""WITH edges AS ($EdgesSql),
       |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |      FROM edges WHERE src <> dst),
       |adj AS MATERIALIZED (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
       |verts AS (SELECT DISTINCT f AS id FROM adj),
       |srcs AS (SELECT id AS s FROM verts
       |  ORDER BY CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
       |    AS BIGINT), id LIMIT $numSources),
       |l0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM srcs),
       |c1 AS (SELECT l0.s, adj.t AS v, l0.sig FROM l0 JOIN adj ON adj.f = l0.v),
       |l1 AS MATERIALIZED (
       |  SELECT c1.s, c1.v, CAST(sum(c1.sig) AS BIGINT) AS sig FROM c1
       |  LEFT JOIN l0 sn ON sn.s = c1.s AND sn.v = c1.v
       |  WHERE sn.v IS NULL GROUP BY 1, 2),
       |s1 AS (SELECT s, v FROM l0 UNION SELECT s, v FROM l1),
       |c2 AS (SELECT l1.s, adj.t AS v, l1.sig FROM l1 JOIN adj ON adj.f = l1.v),
       |l2 AS MATERIALIZED (
       |  SELECT c2.s, c2.v, CAST(sum(c2.sig) AS BIGINT) AS sig FROM c2
       |  LEFT JOIN s1 sn ON sn.s = c2.s AND sn.v = c2.v
       |  WHERE sn.v IS NULL GROUP BY 1, 2),
       |s2 AS (SELECT s, v FROM s1 UNION SELECT s, v FROM l2),
       |c3 AS (SELECT l2.s, adj.t AS v, l2.sig FROM l2 JOIN adj ON adj.f = l2.v),
       |l3 AS MATERIALIZED (
       |  SELECT c3.s, c3.v, CAST(sum(c3.sig) AS BIGINT) AS sig FROM c3
       |  LEFT JOIN s2 sn ON sn.s = c3.s AND sn.v = c3.v
       |  WHERE sn.v IS NULL GROUP BY 1, 2),
       |d3 AS (SELECT s, v, CAST(0 AS DOUBLE) AS delta FROM l3),
       |ch3 AS (SELECT l3.s, l3.v AS t, l3.sig AS wsig, d3.delta AS wdelta
       |        FROM l3 JOIN d3 ON d3.s = l3.s AND d3.v = l3.v),
       |d2 AS MATERIALIZED (
       |  SELECT l2.s, l2.v, coalesce(sum(
       |      CAST(l2.sig AS DOUBLE) / ch3.wsig * (1 + ch3.wdelta)), 0.0) AS delta
       |  FROM l2
       |  LEFT JOIN adj ON adj.f = l2.v
       |  LEFT JOIN ch3 ON ch3.s = l2.s AND ch3.t = adj.t
       |  GROUP BY 1, 2),
       |ch2 AS (SELECT l2.s, l2.v AS t, l2.sig AS wsig, d2.delta AS wdelta
       |        FROM l2 JOIN d2 ON d2.s = l2.s AND d2.v = l2.v),
       |d1 AS MATERIALIZED (
       |  SELECT l1.s, l1.v, coalesce(sum(
       |      CAST(l1.sig AS DOUBLE) / ch2.wsig * (1 + ch2.wdelta)), 0.0) AS delta
       |  FROM l1
       |  LEFT JOIN adj ON adj.f = l1.v
       |  LEFT JOIN ch2 ON ch2.s = l1.s AND ch2.t = adj.t
       |  GROUP BY 1, 2),
       |alld AS (
       |  SELECT s, v, delta FROM d1 UNION ALL SELECT s, v, delta FROM d2
       |  UNION ALL SELECT s, v, delta FROM d3),
       |bc AS (
       |  SELECT v AS id,
       |    CAST(sum(CAST(round(delta * 1e6) AS BIGINT)) AS BIGINT) AS bc_micros
       |  FROM alld GROUP BY 1)
       |SELECT verts.id, coalesce(bc.bc_micros, 0) AS bc_micros
       |FROM verts LEFT JOIN bc USING (id) ORDER BY id""".stripMargin

  /** Unrolled HITS oracle for [[qX_hits]]: per round, authority raw
    * sums over in-edges then L1-normalize to Σ=1e6 micros, hub raw
    * sums of the NEW authorities over out-edges then normalize — the
    * exact half-round ordering and rounding of `GraphAnalytics.hits`. */
  private def hitsSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |verts AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS raw
         |  FROM edges e JOIN h${k - 1} h ON h.id = e.src GROUP BY 1),
         |at$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$k),
         |a$k AS (SELECT v.id, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS a
         |  FROM verts v LEFT JOIN ar$k r ON r.id = v.id CROSS JOIN at$k t),
         |hr$k AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS raw
         |  FROM edges e JOIN a$k a ON a.id = e.dst GROUP BY 1),
         |ht$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$k),
         |h$k AS (SELECT v.id, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS h
         |  FROM verts v LEFT JOIN hr$k r ON r.id = v.id CROSS JOIN ht$k t)""".stripMargin
    }
    val tail =
      s"""SELECT h$iters.id, h$iters.h AS hub_micros, a$iters.a AS auth_micros
         |FROM h$iters JOIN a$iters USING (id) ORDER BY id""".stripMargin
    ((head +: rounds).mkString(",\n")) + "\n" + tail
  }

  /** Unrolled eigenvector-centrality oracle for [[qX_eigenvector]]:
    * per round, raw sums over the undirected adjacency then
    * L1-normalize to Σ=1e6 micros — the exact rounding of
    * `GraphAnalytics.eigenvectorCentrality` (single-chain hitsSql). */
  private def eigenvectorSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |verts AS (SELECT DISTINCT f AS id FROM adj),
         |x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS x FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (SELECT adj.t AS id, CAST(sum(x.x) AS BIGINT) AS raw
         |  FROM adj JOIN x${k - 1} x ON x.id = adj.f GROUP BY 1),
         |t$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM r$k),
         |x$k AS (SELECT v.id, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS x
         |  FROM verts v LEFT JOIN r$k r ON r.id = v.id CROSS JOIN t$k t)""".stripMargin
    }
    ((head +: rounds).mkString(",\n")) +
      s"\nSELECT id, x AS eig_micros FROM x$iters ORDER BY id"
  }

  /** Unrolled Luby-MIS oracle for [[qX_mis]]: per round, the
    * md5-composite priority draw, the active-neighborhood minimum,
    * the winner cut, and the retire step — the exact replay of
    * `GraphAnalytics.maximalIndependentSet`. */
  private def misSql(rounds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |verts AS (SELECT DISTINCT f AS id FROM adj),
         |a0 AS (SELECT id FROM verts)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (SELECT id,
         |  CAST(('0x' || substr(md5('$r:' || CAST(id AS VARCHAR)), 1, 8))
         |    AS BIGINT) * 1048576 + id AS p
         |  FROM a${r - 1}),
         |m$r AS (SELECT adj.f AS id, min(pb.p) AS minp
         |  FROM adj JOIN p$r pa ON pa.id = adj.f
         |           JOIN p$r pb ON pb.id = adj.t
         |  GROUP BY 1),
         |w$r AS (SELECT p$r.id FROM p$r LEFT JOIN m$r USING (id)
         |  WHERE m$r.minp IS NULL OR p$r.p < m$r.minp),
         |a$r AS (SELECT id FROM a${r - 1}
         |  WHERE id NOT IN (SELECT id FROM w$r)
         |    AND id NOT IN (SELECT adj.t FROM adj
         |                   JOIN w$r w ON adj.f = w.id))""".stripMargin
    }
    val misUnion = (1 to rounds).map(r => s"SELECT id FROM w$r")
      .mkString(" UNION ")
    ((head +: steps).mkString(",\n")) + s",\nmis AS ($misUnion)\n" +
      """SELECT verts.id, verts.id IN (SELECT id FROM mis) AS in_mis
        |FROM verts ORDER BY verts.id""".stripMargin
  }

  /** Unrolled seeded-label-spreading oracle for [[qX_label_spread]]:
    * hash-spread clamped seeds, per round a labeled-neighbor count +
    * (cnt desc, label asc) argmax for non-seeds — the exact replay of
    * `GraphAnalytics.labelSpread`. */
  private def labelSpreadSql(rounds: Int, nSeeds: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |verts AS (SELECT DISTINCT f AS id FROM adj),
         |seeds AS (SELECT id, id AS label FROM verts
         |  ORDER BY CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
         |    AS BIGINT), id LIMIT $nSeeds),
         |l0 AS (SELECT id, label FROM seeds)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""c$r AS (SELECT adj.f AS id, l.label, count(*) AS cnt
         |  FROM adj JOIN l${r - 1} l ON l.id = adj.t GROUP BY 1, 2),
         |p$r AS (SELECT id, label FROM (SELECT id, label, row_number()
         |    OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
         |  FROM c$r) x WHERE rn = 1),
         |l$r AS (SELECT id, label FROM seeds
         |  UNION ALL
         |  SELECT p.id, p.label FROM p$r p
         |  WHERE p.id NOT IN (SELECT id FROM seeds))""".stripMargin
    }
    ((head +: steps).mkString(",\n")) +
      s"\nSELECT id, label FROM l$rounds ORDER BY id"
  }

  /** Unrolled multi-source-BFS CTE chain (shared by the harmonic and
    * landmark-distance oracles — the exact replay of
    * [[graft.operators.GraphAnalytics.hashSpreadBfs]]): hash-spread
    * source sample, `maxDepth` min-fold rounds; ends at CTE
    * `d$maxDepth` (s, v, d) with `verts` available. */
  private def bfsCte(numSources: Int, maxDepth: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS f, v AS t FROM e UNION ALL SELECT v, u FROM e),
         |verts AS (SELECT DISTINCT f AS id FROM adj),
         |srcs AS (SELECT id AS s FROM verts
         |  ORDER BY CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
         |    AS BIGINT), id LIMIT $numSources),
         |d0 AS (SELECT s, s AS v, 0 AS d FROM srcs)""".stripMargin
    val steps = (1 to maxDepth).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT s, v, min(d) AS d FROM (
         |    SELECT s, v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.s, adj.t AS v, p.d + 1 AS d
         |    FROM d${i - 1} p JOIN adj ON adj.f = p.v) x
         |  GROUP BY s, v)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def harmonicSql(numSources: Int, maxDepth: Int): String = {
    bfsCte(numSources, maxDepth) +
      s"""
         |SELECT verts.id,
         |  coalesce(c.h_micros, 0) AS h_micros,
         |  coalesce(c.n_reached, 0) AS n_reached
         |FROM verts LEFT JOIN (
         |  SELECT v AS id,
         |    CAST(sum(CAST(round(1000000.0 / d) AS BIGINT)) AS BIGINT)
         |      AS h_micros,
         |    count(*) AS n_reached
         |  FROM d$maxDepth WHERE s <> v AND d > 0 GROUP BY v) c
         |USING (id)
         |ORDER BY verts.id""".stripMargin
  }

  /** Unrolled SALSA oracle for [[qX_salsa]]: the [[hitsSql]] chain
    * with per-edge FLOOR'd degree-normalized messages — authority raw
    * sums of floor(h/outdeg) over in-edges, hub raw sums of
    * floor(a/indeg) over out-edges, each half L1-renormalized to
    * Σ=1e6 micros (the renormalization absorbs the floor loss). */
  private def salsaSql(iters: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |verts AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |odeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
         |ideg AS (SELECT dst, count(*) AS ideg FROM edges GROUP BY 1),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS (SELECT e.dst AS id,
         |    CAST(sum(CAST(floor(h.h * 1.0 / o.odeg) AS BIGINT)) AS BIGINT)
         |      AS raw
         |  FROM edges e JOIN h${k - 1} h ON h.id = e.src
         |  JOIN odeg o ON o.src = e.src GROUP BY 1),
         |at$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$k),
         |a$k AS (SELECT v.id, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS a
         |  FROM verts v LEFT JOIN ar$k r ON r.id = v.id CROSS JOIN at$k t),
         |hr$k AS (SELECT e.src AS id,
         |    CAST(sum(CAST(floor(a.a * 1.0 / i.ideg) AS BIGINT)) AS BIGINT)
         |      AS raw
         |  FROM edges e JOIN a$k a ON a.id = e.dst
         |  JOIN ideg i ON i.dst = e.dst GROUP BY 1),
         |ht$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$k),
         |h$k AS (SELECT v.id, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS h
         |  FROM verts v LEFT JOIN hr$k r ON r.id = v.id CROSS JOIN ht$k t)""".stripMargin
    }
    val tail =
      s"""SELECT h$iters.id, h$iters.h AS salsa_hub_micros,
         |  a$iters.a AS salsa_auth_micros
         |FROM h$iters JOIN a$iters USING (id) ORDER BY id""".stripMargin
    ((head +: rounds).mkString(",\n")) + "\n" + tail
  }

  /** Unrolled personalized-SALSA oracle for [[qX_salsa_pymk]]: the
    * [[salsaSql]] chain restricted to the anchor's circle-of-trust
    * bipartite view, friends-and-self excluded from the ranked tail. */
  private def psalsaSql(iters: Int, anchor: Long, topK: Int): String = {
    val head =
      s"""WITH edges AS ($EdgesSql),
         |und AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM edges
         |  UNION ALL SELECT dst AS src, src AS dst FROM edges)),
         |hubs AS (SELECT DISTINCT hub FROM (
         |  SELECT dst AS hub FROM und WHERE src = $anchor
         |  UNION ALL SELECT src AS hub FROM und WHERE src = $anchor)),
         |be AS (SELECT h.hub, u.dst AS auth FROM und u
         |  JOIN hubs h ON u.src = h.hub),
         |auths AS (SELECT DISTINCT auth FROM be),
         |hdeg AS (SELECT hub, count(*) AS hd FROM be GROUP BY 1),
         |adeg AS (SELECT auth, count(*) AS ad FROM be GROUP BY 1),
         |h0 AS (SELECT hub, CAST(1000000 AS BIGINT) AS h FROM hubs)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS (SELECT b.auth,
         |    CAST(sum(CAST(floor(h.h * 1.0 / d.hd) AS BIGINT)) AS BIGINT)
         |      AS raw
         |  FROM be b JOIN h${k - 1} h ON h.hub = b.hub
         |  JOIN hdeg d ON d.hub = b.hub GROUP BY 1),
         |at$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$k),
         |a$k AS (SELECT v.auth, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS a
         |  FROM auths v LEFT JOIN ar$k r ON r.auth = v.auth CROSS JOIN at$k t),
         |hr$k AS (SELECT b.hub,
         |    CAST(sum(CAST(floor(a.a * 1.0 / d.ad) AS BIGINT)) AS BIGINT)
         |      AS raw
         |  FROM be b JOIN a$k a ON a.auth = b.auth
         |  JOIN adeg d ON d.auth = b.auth GROUP BY 1),
         |ht$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$k),
         |h$k AS (SELECT v.hub, coalesce(
         |    CAST(round(r.raw * 1e6 / t.tot) AS BIGINT), 0) AS h
         |  FROM hubs v LEFT JOIN hr$k r ON r.hub = v.hub CROSS JOIN ht$k t)""".stripMargin
    }
    val tail =
      s"""SELECT a$iters.auth AS id, a$iters.a AS score_micros
         |FROM a$iters
         |WHERE a$iters.a > 0
         |  AND a$iters.auth NOT IN (SELECT hub FROM hubs)
         |ORDER BY score_micros DESC, id LIMIT $topK""".stripMargin
    ((head +: rounds).mkString(",\n")) + "\n" + tail
  }

  val oracles: Map[String, String] = Map(
    "qX_salsa" -> salsaSql(iters = 3),
    "qX_friendship" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |s AS (SELECT count(*) AS n, CAST(sum(d) AS BIGINT) AS sd,
         |    CAST(sum(d * d) AS BIGINT) AS sd2 FROM deg)
         |SELECT n AS n_vertices,
         |  CAST(floor(1000 * sd / n) AS BIGINT) AS avg_deg_milli,
         |  CAST(floor(1000 * sd2 / sd) AS BIGINT) AS avg_nbr_deg_milli,
         |  CAST(floor(1e6 * (CAST(sd2 AS DOUBLE) / sd)
         |    / (CAST(sd AS DOUBLE) / n)) AS BIGINT) AS ratio_micros
         |FROM s""".stripMargin,

    "qX_graph_summary" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |s AS (SELECT count(*) AS n_vertices,
         |    CAST(sum(d) AS BIGINT) AS d2,
         |    CAST(max(d) AS BIGINT) AS max_deg FROM deg)
         |SELECT n_vertices, CAST(d2 / 2 AS BIGINT) AS n_edges,
         |  CASE WHEN n_vertices < 2 THEN 0
         |    ELSE CAST(floor(1e6 * CAST(d2 AS DOUBLE)
         |      / (n_vertices * (n_vertices - 1))) AS BIGINT)
         |  END AS density_micros,
         |  CAST(floor(1000 * d2 / n_vertices) AS BIGINT)
         |    AS avg_deg_milli,
         |  max_deg
         |FROM s""".stripMargin,

    "qX_degree_gini" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |r AS (SELECT d, CAST(row_number() OVER (ORDER BY d, id)
         |    AS BIGINT) AS i FROM deg),
         |s AS (SELECT count(*) AS n, CAST(sum(d) AS BIGINT) AS sd,
         |    CAST(sum(i * d) AS BIGINT) AS sid FROM r)
         |SELECT n AS n_vertices, sd AS sum_deg,
         |  CAST(floor(1e6 * ((2.0 * sid) / (CAST(n AS DOUBLE) * sd)
         |    - (CAST(n + 1 AS DOUBLE) / n))) AS BIGINT) AS gini_micros
         |FROM s""".stripMargin,

    "qX_cc_sizes" ->
      s"""WITH RECURSIVE edges AS ($EdgesSql),
         |canon AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |adj AS (
         |  SELECT u AS f, v AS t FROM canon
         |  UNION ALL
         |  SELECT v AS f, u AS t FROM canon),
         |verts AS (SELECT DISTINCT f AS v FROM adj),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT reach.v, adj.t FROM reach JOIN adj ON reach.r = adj.f),
         |cc AS (SELECT v AS id, min(r) AS comp FROM reach GROUP BY v),
         |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM cc
         |  GROUP BY 1)
         |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bin,
         |  count(*) AS n_components, min(sz) AS min_size,
         |  max(sz) AS max_size, CAST(sum(sz) AS BIGINT) AS n_vertices
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    "qX_degree_hist" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
         |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS bin,
         |  count(*) AS n_vertices, min(d) AS min_deg, max(d) AS max_deg
         |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    "qX_c4" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS mid, v AS nb FROM e
         |        UNION ALL SELECT v AS mid, u AS nb FROM e),
         |codeg AS (SELECT a.nb AS a, c.nb AS c, count(*) AS n
         |  FROM adj a JOIN adj c ON a.mid = c.mid AND a.nb < c.nb
         |  GROUP BY 1, 2)
         |SELECT count(*) AS n_diag_pairs,
         |  CAST(sum(n * (n - 1)) / 4 AS BIGINT) AS c4_count
         |FROM codeg""".stripMargin,
    // Full replay of the HT-weighted wedge-sampled estimator: md5 rank
    // sample per middle (Wedge.sample's key), integer-micro HT weights
    // d(d−1)·10⁶ div s(s−1), per-diagonal S²−Q in HUGEINT (the Spark
    // side's decimal(38,0)), global div 10¹² then div 4.
    "qX_c4_sampled" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS mid, v AS nb FROM e
         |        UNION ALL SELECT v AS mid, u AS nb FROM e),
         |rn AS (
         |  SELECT mid, nb, row_number() OVER (PARTITION BY mid ORDER BY
         |    CAST(('0x' || substr(md5(CAST(mid AS VARCHAR) || ':' ||
         |      CAST(nb AS VARCHAR)), 1, 8)) AS BIGINT), nb) AS rn
         |  FROM adj),
         |samp AS MATERIALIZED (SELECT mid, nb FROM rn WHERE rn.rn <= 16),
         |degw AS (
         |  SELECT mid, CASE WHEN count(*) <= 16 THEN CAST(1000000 AS BIGINT)
         |    ELSE (count(*) * (count(*) - 1) * 1000000) // 240 END AS w
         |  FROM adj GROUP BY mid),
         |wedges AS (
         |  SELECT a.nb AS a, c.nb AS c, degw.w AS w
         |  FROM samp a JOIN samp c ON a.mid = c.mid AND a.nb < c.nb
         |  JOIN degw ON degw.mid = a.mid),
         |pairs AS (
         |  SELECT a, c, count(*) AS n_w, sum(CAST(w AS HUGEINT)) AS s,
         |    sum(CAST(w AS HUGEINT) * w) AS q
         |  FROM wedges GROUP BY 1, 2)
         |SELECT CAST(sum(n_w) AS BIGINT) AS n_wedges_sampled,
         |  count(*) AS n_diag_pairs,
         |  CAST(sum((s * s - q) // 1000000000000) // 4 AS BIGINT)
         |    AS c4_estimate
         |FROM pairs""".stripMargin,
    // The estimator replay beside the re-derived exact count; band_ok
    // is PINNED to 1 — the gate fails unless the estimate lands
    // within ±25% of the exact count.
    "qX_c4_band" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS mid, v AS nb FROM e
         |        UNION ALL SELECT v AS mid, u AS nb FROM e),
         |rn AS (
         |  SELECT mid, nb, row_number() OVER (PARTITION BY mid ORDER BY
         |    CAST(('0x' || substr(md5(CAST(mid AS VARCHAR) || ':' ||
         |      CAST(nb AS VARCHAR)), 1, 8)) AS BIGINT), nb) AS rn
         |  FROM adj),
         |samp AS MATERIALIZED (SELECT mid, nb FROM rn WHERE rn.rn <= 16),
         |degw AS (
         |  SELECT mid, CASE WHEN count(*) <= 16 THEN CAST(1000000 AS BIGINT)
         |    ELSE (count(*) * (count(*) - 1) * 1000000) // 240 END AS w
         |  FROM adj GROUP BY mid),
         |wedges AS (
         |  SELECT a.nb AS a, c.nb AS c, degw.w AS w
         |  FROM samp a JOIN samp c ON a.mid = c.mid AND a.nb < c.nb
         |  JOIN degw ON degw.mid = a.mid),
         |pairs AS (
         |  SELECT a, c, count(*) AS n_w, sum(CAST(w AS HUGEINT)) AS s,
         |    sum(CAST(w AS HUGEINT) * w) AS q
         |  FROM wedges GROUP BY 1, 2),
         |est AS (
         |  SELECT CAST(sum(n_w) AS BIGINT) AS n_wedges_sampled,
         |    count(*) AS n_diag_pairs,
         |    CAST(sum((s * s - q) // 1000000000000) // 4 AS BIGINT)
         |      AS c4_estimate
         |  FROM pairs),
         |codeg AS (SELECT a.nb AS a, c.nb AS c, count(*) AS n
         |  FROM adj a JOIN adj c ON a.mid = c.mid AND a.nb < c.nb
         |  GROUP BY 1, 2),
         |exact AS (SELECT CAST(sum(n * (n - 1)) / 4 AS BIGINT) AS c4_exact
         |  FROM codeg)
         |SELECT est.n_wedges_sampled, est.n_diag_pairs, est.c4_estimate,
         |  exact.c4_exact, CAST(1 AS BIGINT) AS band_ok
         |FROM est, exact""".stripMargin,
    "qX_salsa_pymk" -> psalsaSql(iters = 3, anchor = 1L, topK = 10),
    "qX_richclub" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |rich AS (SELECT id FROM deg WHERE d > 30),
         |er AS (SELECT count(*) AS e_rich FROM e
         |  WHERE u IN (SELECT id FROM rich) AND v IN (SELECT id FROM rich)),
         |nr AS (SELECT count(*) AS n_rich FROM rich)
         |SELECT CAST(30 AS BIGINT) AS k, CAST(nr.n_rich AS BIGINT) AS n_rich,
         |  CAST(er.e_rich AS BIGINT) AS e_rich,
         |  CAST(CASE WHEN nr.n_rich < 2 THEN 0
         |    ELSE floor(er.e_rich * 2000000 * 1.0
         |               / (nr.n_rich * (nr.n_rich - 1))) END AS BIGINT)
         |    AS phi_micros
         |FROM er, nr""".stripMargin,
    "qX_reciprocity" ->
      s"""WITH edges AS ($EdgesSql),
         |r AS (SELECT count(*) AS n_reciprocal FROM edges e
         |  WHERE EXISTS (SELECT 1 FROM edges x
         |                WHERE x.src = e.dst AND x.dst = e.src)),
         |t AS (SELECT count(*) AS n_edges FROM edges)
         |SELECT CAST(t.n_edges AS BIGINT) AS n_edges,
         |  CAST(r.n_reciprocal AS BIGINT) AS n_reciprocal,
         |  CAST(floor(CAST(r.n_reciprocal * 1000000 AS BIGINT) * 1.0
         |             / t.n_edges) AS BIGINT) AS reciprocity_micros
         |FROM r, t""".stripMargin,
    "qX_powerlaw" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |tail AS (SELECT CAST(round(ln(d / 1.5) * 1e6) AS BIGINT) AS lt
         |  FROM deg WHERE d >= 2),
         |s AS (SELECT count(*) AS n_tail,
         |  CAST(sum(lt) AS BIGINT) AS sum_log_micros FROM tail)
         |SELECT CAST(2 AS BIGINT) AS dmin, CAST(n_tail AS BIGINT) AS n_tail,
         |  sum_log_micros,
         |  CAST(round(1e6 + 1e12 * n_tail / sum_log_micros) AS BIGINT)
         |    AS alpha_micros
         |FROM s""".stripMargin,
    "qX_harmonic" -> harmonicSql(numSources = 8, maxDepth = 4),
    "qX_betweenness" -> betweennessSql(numSources = 8),
    "qX_hits" -> hitsSql(iters = 3),
    "qX_eigenvector" -> eigenvectorSql(iters = 3),
    "qX_label_spread" -> labelSpreadSql(rounds = 3, nSeeds = 4),
    "qX_mis" -> misSql(rounds = 4),
    "qX_cc_twostar" -> CcSql,
    "qX_walk_subsample" -> walkSubsampleSql(t = 0.005, seed = 7L),
    "qX_neg_table" -> negTableSql(power = 0.75),
    "qX_walk_pairs" ->
      walkPairsSql(walksPerVertex = 2, length = 4, seed = 7L, window = 2),
    "qX_kcore_converged" -> kcoreConvergedSql(25, 10),
    "qX_adamic_adar" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |wz AS (
         |  SELECT f AS z, CAST(round(1000000.0 / ln(count(*))) AS BIGINT) AS w
         |  FROM adj GROUP BY f HAVING count(*) >= 2),
         |sc AS (
         |  SELECT x.f AS a, y.t AS c,
         |    round(sum(wz.w) / 1000000.0, 4) AS score
         |  FROM adj x JOIN wz ON x.t = wz.z
         |       JOIN adj y ON y.f = wz.z
         |  WHERE x.f <> y.t
         |  GROUP BY x.f, y.t),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj WHERE adj.f = sc.a AND adj.t = sc.c)),
         |r AS (
         |  SELECT a AS anchor, c AS id, score, row_number() OVER (
         |    PARTITION BY a ORDER BY score DESC, c) AS rank
         |  FROM cand)
         |SELECT anchor, rank, id, score FROM r WHERE rank <= 5
         |ORDER BY anchor, rank""".stripMargin,
    // rn<=16 md5-rank replay of the capped wedge sides; wz (discounts)
    // and the anti join read the FULL adjacency, exactly like the
    // operator (Wedge.sample bounds wedge multiplicity only).
    "qX_adamic_adar_capped" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS MATERIALIZED (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |rn AS (
         |  SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY
         |    CAST(('0x' || substr(md5(CAST(f AS VARCHAR) || ':' ||
         |      CAST(t AS VARCHAR)), 1, 8)) AS BIGINT), t) AS rn
         |  FROM adj),
         |samp AS MATERIALIZED (SELECT f, t FROM rn WHERE rn.rn <= 16),
         |wz AS (
         |  SELECT f AS z, CAST(round(1000000.0 / ln(count(*))) AS BIGINT) AS w
         |  FROM adj GROUP BY f HAVING count(*) >= 2),
         |sc AS (
         |  SELECT x.t AS a, y.t AS c,
         |    round(sum(wz.w) / 1000000.0, 4) AS score
         |  FROM samp x JOIN wz ON x.f = wz.z
         |       JOIN samp y ON y.f = wz.z
         |  WHERE x.t <> y.t
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj WHERE adj.f = sc.a AND adj.t = sc.c)),
         |r AS (
         |  SELECT a AS anchor, c AS id, score, row_number() OVER (
         |    PARTITION BY a ORDER BY score DESC, c) AS rank
         |  FROM cand)
         |SELECT anchor, rank, id, score FROM r WHERE rank <= 5
         |ORDER BY anchor, rank""".stripMargin,
    "qX_linkpred_scores" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |deg AS (
         |  SELECT f AS z, count(*) AS d,
         |    CAST(round(1000000.0 / count(*)) AS BIGINT) AS w
         |  FROM adj GROUP BY f),
         |sc AS (
         |  SELECT x.f AS a, y.t AS c, count(*) AS cn, sum(deg.w) AS ram
         |  FROM adj x JOIN deg ON x.t = deg.z
         |       JOIN adj y ON y.f = deg.z
         |  WHERE x.f < y.t
         |  GROUP BY x.f, y.t),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj WHERE adj.f = sc.a AND adj.t = sc.c))
         |SELECT cand.a, cand.c, cand.cn,
         |  CAST(ram AS BIGINT) AS ra_micros,
         |  CAST(round(1000000.0 * cn / (da.d + dc.d - cn)) AS BIGINT)
         |    AS jac_micros,
         |  CAST(da.d * dc.d AS BIGINT) AS pa
         |FROM cand JOIN deg da ON da.z = cand.a
         |     JOIN deg dc ON dc.z = cand.c
         |ORDER BY a, c""".stripMargin,
    "qX_linkpred" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |deg AS (SELECT f AS z, count(*) AS d FROM adj GROUP BY f),
         |sc AS (
         |  SELECT x.f AS a, y.t AS c, count(*) AS cn
         |  FROM adj x JOIN adj y ON x.t = y.f
         |  WHERE x.f <> y.t
         |  GROUP BY x.f, y.t),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj WHERE adj.f = sc.a AND adj.t = sc.c)),
         |j AS (
         |  SELECT cand.a, cand.c,
         |    CAST(round(1000000.0 * cn / (da.d + dc.d - cn)) AS BIGINT)
         |      / 1000000.0 AS score
         |  FROM cand JOIN deg da ON da.z = cand.a
         |       JOIN deg dc ON dc.z = cand.c),
         |r AS (
         |  SELECT a AS anchor, c AS id, score, row_number() OVER (
         |    PARTITION BY a ORDER BY score DESC, c) AS rank
         |  FROM j)
         |SELECT anchor, rank, id, score FROM r WHERE rank <= 5
         |ORDER BY anchor, rank""".stripMargin,
    // Replays the hub cap: per middle keep the 16 neighbors with the
    // lowest (md5_32("z:n"), n), enumerate wedges over the sample only,
    // degrees/discounts/anti-join on the full adjacency — exactly
    // Wedge.sample + linkPredictScores(maxDegree = 16).
    "qX_linkpred_capped" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |deg AS (
         |  SELECT f AS z, count(*) AS d,
         |    CAST(round(1000000.0 / count(*)) AS BIGINT) AS w
         |  FROM adj GROUP BY f),
         |rn AS (
         |  SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY
         |    CAST(('0x' || substr(md5(CAST(f AS VARCHAR) || ':' ||
         |      CAST(t AS VARCHAR)), 1, 8)) AS BIGINT), t) AS rn
         |  FROM adj),
         |samp AS (SELECT f, t FROM rn WHERE rn.rn <= 16),
         |sc AS (
         |  SELECT x.t AS a, y.t AS c, count(*) AS cn, sum(deg.w) AS ram
         |  FROM samp x JOIN deg ON x.f = deg.z
         |       JOIN samp y ON y.f = deg.z
         |  WHERE x.t <> y.t
         |  GROUP BY x.t, y.t),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj WHERE adj.f = sc.a AND adj.t = sc.c)),
         |j AS (
         |  SELECT cand.a, cand.c, cand.ram / 1000000.0 AS score
         |  FROM cand),
         |r AS (
         |  SELECT a AS anchor, c AS id, score, row_number() OVER (
         |    PARTITION BY a ORDER BY score DESC, c) AS rank
         |  FROM j)
         |SELECT anchor, rank, id, score FROM r WHERE rank <= 5
         |ORDER BY anchor, rank""".stripMargin,
    "qX_kcore" -> kcoreSql(25, 8),
    "qX_ppr" -> pprSql(8, 1L),
    "qX_pagerank_df" -> pagerankSql(10),
    "qX_pagerank_graphx" -> pagerankMicrosSql(10),
    "qX_pagerank_consistency" ->
      s"""WITH edges AS ($EdgesSql),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges)
         |SELECT count(*) AS n_vertices, count(*) AS n_agree FROM verts""".stripMargin,
    // Orientation-free restatement: canonical u<v edges, wedge at the
    // smallest id, closing edge by id order — counts each triangle
    // once; per-vertex = unnest the three corners.
    "qX_triangles_df" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |verts AS (SELECT u AS id FROM e UNION SELECT v AS id FROM e),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |corners AS (
         |  SELECT a AS id FROM tri UNION ALL
         |  SELECT b AS id FROM tri UNION ALL
         |  SELECT c AS id FROM tri),
         |pv AS (SELECT id, count(*) AS c FROM corners GROUP BY id)
         |SELECT verts.id, coalesce(pv.c, 0) AS n_tri
         |FROM verts LEFT JOIN pv ON verts.id = pv.id
         |ORDER BY verts.id""".stripMargin,
    "qX_triangles_consistency" ->
      s"""WITH edges AS ($EdgesSql),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges)
         |SELECT count(*) AS n_vertices, count(*) AS n_agree FROM verts""".stripMargin,
    "qX_clustering_coeff" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM edges WHERE src <> dst),
         |verts AS (SELECT u AS id FROM e UNION SELECT v AS id FROM e),
         |degs AS (
         |  SELECT id, count(*) AS deg FROM (
         |    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
         |  GROUP BY id),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |corners AS (
         |  SELECT a AS id FROM tri UNION ALL
         |  SELECT b AS id FROM tri UNION ALL
         |  SELECT c AS id FROM tri),
         |pv AS (SELECT id, count(*) AS c FROM corners GROUP BY id)
         |SELECT verts.id, degs.deg, coalesce(pv.c, 0) AS n_tri,
         |       CASE WHEN degs.deg >= 2
         |            THEN ROUND(coalesce(pv.c, 0) * 2.0
         |                       / (degs.deg * (degs.deg - 1)), 6)
         |            ELSE 0.0 END AS coeff
         |FROM verts JOIN degs ON verts.id = degs.id
         |LEFT JOIN pv ON verts.id = pv.id
         |ORDER BY verts.id""".stripMargin,
    "qX_pagerank_weighted" -> weightedPagerankSql(10),
    "qX_sssp" -> ssspSql(10, Seq(1L, 7L)),
    "qX_ktruss" -> kTrussSql(3, 3),
    "qX_ktruss_capped" -> kTrussCappedSql(3, 3, 8),
    "qX_katz" -> katzSql(3),
    "qX_pymk_decayed" ->
      """WITH raw AS (
        |  SELECT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 50 AS dst,
        |    ts
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50),
        |we AS (SELECT src, dst,
        |  CAST(sum(CAST(round(1e6 * pow(2.0,
        |    -((epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts))
        |      / 86400000000.0 / 7.0))) AS BIGINT)) AS BIGINT) AS w
        |  FROM raw GROUP BY 1, 2),
        |adj AS (SELECT src AS f, dst AS t, w FROM we
        |        UNION ALL SELECT dst AS f, src AS t, w FROM we),
        |paths AS (SELECT a.f AS anchor, b.t AS candidate,
        |    CAST(floor(a.w * b.w / 1000000) AS BIGINT) AS pw
        |  FROM adj a JOIN adj b ON b.f = a.t WHERE a.f <> b.t),
        |sc AS (SELECT anchor, candidate, CAST(sum(pw) AS BIGINT)
        |    AS score_micros
        |  FROM paths GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT f AS anchor, t AS candidate FROM adj),
        |kept AS (SELECT sc.* FROM sc ANTI JOIN fp
        |  ON fp.anchor = sc.anchor AND fp.candidate = sc.candidate),
        |r AS (SELECT anchor, candidate, score_micros, row_number() OVER (
        |  PARTITION BY anchor ORDER BY score_micros DESC, candidate)
        |    AS rn FROM kept)
        |SELECT anchor, candidate AS id, score_micros FROM r WHERE rn <= 5
        |ORDER BY anchor, score_micros DESC, id""".stripMargin,
    "qX_pymk_decayed_capped" ->
      """WITH raw AS (
        |  SELECT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 50 AS dst,
        |    ts
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50),
        |we AS (SELECT src, dst,
        |  CAST(sum(CAST(round(1e6 * pow(2.0,
        |    -((epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts))
        |      / 86400000000.0 / 7.0))) AS BIGINT)) AS BIGINT) AS w
        |  FROM raw GROUP BY 1, 2),
        |adj AS (SELECT src AS f, dst AS t, w FROM we
        |        UNION ALL SELECT dst AS f, src AS t, w FROM we),
        |rn0 AS (
        |  SELECT f, t, w, row_number() OVER (PARTITION BY f ORDER BY
        |    CAST(('0x' || substr(md5(CAST(f AS VARCHAR) || ':' ||
        |      CAST(t AS VARCHAR)), 1, 8)) AS BIGINT), t, w) AS rn
        |  FROM adj),
        |samp AS (SELECT f, t, w FROM rn0 WHERE rn0.rn <= 16),
        |paths AS (SELECT x.t AS anchor, y.t AS candidate,
        |    CAST(floor(x.w * y.w / 1000000) AS BIGINT) AS pw
        |  FROM samp x JOIN samp y ON x.f = y.f AND x.t < y.t),
        |sc AS (SELECT anchor, candidate, CAST(sum(pw) AS BIGINT)
        |    AS score_micros
        |  FROM paths GROUP BY 1, 2),
        |mir AS (SELECT anchor, candidate, score_micros FROM sc
        |        UNION ALL SELECT candidate, anchor, score_micros FROM sc),
        |fp AS (SELECT DISTINCT f AS anchor, t AS candidate FROM adj),
        |kept AS (SELECT mir.* FROM mir ANTI JOIN fp
        |  ON fp.anchor = mir.anchor AND fp.candidate = mir.candidate),
        |r AS (SELECT anchor, candidate, score_micros, row_number() OVER (
        |  PARTITION BY anchor ORDER BY score_micros DESC, candidate)
        |    AS rn FROM kept)
        |SELECT anchor, candidate AS id, score_micros FROM r WHERE rn <= 5
        |ORDER BY anchor, score_micros DESC, id""".stripMargin,
    "qX_embeddedness" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM edges),
         |adj AS (SELECT u AS f, v AS t FROM e
         |        UNION ALL SELECT v AS f, u AS t FROM e),
         |deg AS (SELECT f AS id, count(*) AS d FROM adj GROUP BY 1),
         |cm AS (SELECT e.u, e.v, count(*) AS common
         |  FROM e JOIN adj a1 ON a1.f = e.u JOIN adj a2 ON a2.f = e.v
         |  WHERE a1.t = a2.t GROUP BY 1, 2)
         |SELECT e.u, e.v, coalesce(cm.common, 0) AS common,
         |  CASE WHEN du.d + dv.d - coalesce(cm.common, 0) - 2 <= 0 THEN 0
         |    ELSE CAST(floor(1000000 * coalesce(cm.common, 0) /
         |      (du.d + dv.d - coalesce(cm.common, 0) - 2)) AS BIGINT) END
         |    AS emb_micros
         |FROM e LEFT JOIN cm ON cm.u = e.u AND cm.v = e.v
         |JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
         |ORDER BY e.u, e.v""".stripMargin,
    "qX_weak_ties" ->
      s"""WITH edges AS (
         |  SELECT DISTINCT user_id AS src,
         |    CAST(FLOOR(value) AS BIGINT) % 50 AS dst
         |  FROM events
         |  WHERE event_type IN ('click', 'view')
         |    AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50
         |    AND ts < TIMESTAMP '2024-01-02 00:00:00'),
         |e AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM edges),
         |adj AS (SELECT u AS f, v AS t FROM e
         |        UNION ALL SELECT v AS f, u AS t FROM e),
         |sup AS (SELECT DISTINCT e.u, e.v
         |  FROM e JOIN adj a1 ON a1.f = e.u JOIN adj a2 ON a2.f = e.v
         |  WHERE a1.t = a2.t)
         |SELECT e.u, e.v FROM e ANTI JOIN sup
         |  ON sup.u = e.u AND sup.v = e.v
         |ORDER BY e.u, e.v""".stripMargin,
    "qX_assortativity" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (SELECT src AS f, dst AS t FROM edges
         |        UNION SELECT dst AS f, src AS t FROM edges),
         |deg AS (SELECT f AS id, count(*) AS deg FROM adj GROUP BY 1),
         |p AS (SELECT dx.deg AS x, dy.deg AS y
         |  FROM adj JOIN deg dx ON dx.id = adj.f
         |           JOIN deg dy ON dy.id = adj.t),
         |s AS (SELECT count(*) AS m,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx,
         |  CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM p)
         |SELECT m,
         |  CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
         |    THEN 0
         |    ELSE CAST(floor(1e6 * (CAST(m * sxy - sx * sy AS DOUBLE) /
         |      sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
         |           CAST(m * syy - sy * sy AS DOUBLE)))) AS BIGINT) END
         |    AS r_micros
         |FROM s""".stripMargin,
    "qX_hyperball" ->
      (hyperBallCte(4) + "\n" +
        (0 to 4).map(k => s"SELECT r, n_reached_est FROM e$k")
          .mkString("\nUNION ALL\n") +
        "\nORDER BY r"),
    "qX_eff_diameter" ->
      (hyperBallCte(4) +
        s""",
           |nf AS (${(0 to 4).map(k => s"SELECT r, n_reached_est FROM e$k")
            .mkString(" UNION ALL ")}),
           |mx AS (SELECT max(n_reached_est) AS n_max FROM nf)
           |SELECT mx.n_max, min(nf.r) AS r90
           |FROM nf CROSS JOIN mx
           |WHERE nf.n_reached_est * 10 >= mx.n_max * 9
           |GROUP BY 1""".stripMargin),
    "qX_lpa" -> lpaSql(4),
    "qX_louvain" -> louvainSql(2),
    "qX_coreness" -> corenessSql(4),
    "qX_percolation" -> percolationSql(Seq(0.25, 0.5, 0.75)),
    "qX_transitivity" ->
      s"""WITH edges AS ($EdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) x
         |  GROUP BY 1),
         |w AS (SELECT CAST(sum(CAST(d * (d - 1) / 2 AS BIGINT))
         |    AS BIGINT) AS w FROM deg),
         |tri AS (
         |  SELECT count(*) AS t
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT w.w AS n_wedges,
         |  CAST(3 * tri.t AS BIGINT) AS triangle_incidences,
         |  CASE WHEN w.w = 0 THEN 0
         |    ELSE CAST(floor(1e6 * CAST(3 * tri.t AS DOUBLE)
         |      / CAST(w.w AS DOUBLE)) AS BIGINT)
         |  END AS transitivity_micros
         |FROM w CROSS JOIN tri""".stripMargin,
    "qX_modularity" ->
      (lpaCte(4) +
        s""",
           |asg AS (SELECT 'lpa' AS assignment, id, lbl FROM l4
           |  UNION ALL
           |  SELECT 'hash4' AS assignment, id,
           |    CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
           |      AS BIGINT) % 4 AS lbl
           |  FROM l4),
           |deg AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) x
           |  GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
           |dc AS (SELECT a.assignment, a.lbl, CAST(sum(d.deg) AS BIGINT) AS d_c
           |  FROM deg d JOIN asg a ON a.id = d.id GROUP BY 1, 2),
           |ec AS (SELECT lu.assignment, lu.lbl, CAST(count(*) AS BIGINT) AS e_c
           |  FROM e JOIN asg lu ON lu.id = e.u
           |  JOIN asg lv ON lv.id = e.v AND lv.assignment = lu.assignment
           |  WHERE lu.lbl = lv.lbl GROUP BY 1, 2),
           |terms AS (SELECT dc.assignment,
           |    CAST(floor((1e6 * (4 * mm.m * coalesce(ec.e_c, 0)
           |        - dc.d_c * dc.d_c)) / (4 * mm.m * mm.m)) AS BIGINT) AS t
           |  FROM dc LEFT JOIN ec ON ec.assignment = dc.assignment
           |    AND ec.lbl = dc.lbl CROSS JOIN mm)
           |SELECT assignment, mm.m AS m, count(*) AS n_comms,
           |  CAST(sum(t) AS BIGINT) AS q_micros
           |FROM terms CROSS JOIN mm GROUP BY 1, 2
           |ORDER BY assignment""".stripMargin),
    "qX_conductance" ->
      (lpaCte(4) +
        s""",
           |asg AS (SELECT 'lpa' AS assignment, id, lbl FROM l4
           |  UNION ALL
           |  SELECT 'hash4' AS assignment, id,
           |    CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
           |      AS BIGINT) % 4 AS lbl
           |  FROM l4),
           |deg AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) x
           |  GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
           |vol AS (SELECT a.assignment, a.lbl, CAST(sum(d.deg) AS BIGINT)
           |    AS vol
           |  FROM deg d JOIN asg a ON a.id = d.id GROUP BY 1, 2),
           |bnd AS (SELECT lu.assignment, lu.lbl AS lu, lv.lbl AS lv
           |  FROM e JOIN asg lu ON lu.id = e.u
           |  JOIN asg lv ON lv.id = e.v AND lv.assignment = lu.assignment
           |  WHERE lu.lbl <> lv.lbl),
           |cut AS (SELECT assignment, lbl, CAST(count(*) AS BIGINT) AS cut
           |  FROM (SELECT assignment, lu AS lbl FROM bnd
           |        UNION ALL SELECT assignment, lv FROM bnd) x
           |  GROUP BY 1, 2),
           |nv AS (SELECT assignment, lbl, count(*) AS n_vertices
           |  FROM asg GROUP BY 1, 2)
           |SELECT nv.lbl, nv.n_vertices,
           |  CAST(coalesce(vol.vol, 0) AS BIGINT) AS vol,
           |  CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut,
           |  CAST(CASE WHEN least(coalesce(vol.vol, 0),
           |      2 * mm.m - coalesce(vol.vol, 0)) > 0
           |    THEN floor(1e6 * coalesce(cut.cut, 0)
           |      / least(coalesce(vol.vol, 0),
           |          2 * mm.m - coalesce(vol.vol, 0)))
           |    ELSE 0 END AS BIGINT) AS phi_micros,
           |  nv.assignment
           |FROM nv LEFT JOIN vol ON vol.assignment = nv.assignment
           |    AND vol.lbl = nv.lbl
           |  LEFT JOIN cut ON cut.assignment = nv.assignment
           |    AND cut.lbl = nv.lbl
           |  CROSS JOIN mm
           |ORDER BY nv.assignment, nv.lbl""".stripMargin),
    "qX_landmark_dist" ->
      (bfsCte(numSources = 8, maxDepth = 4) +
        "\nSELECT s, v, d FROM d4 ORDER BY s, v"),
    "qX_eccentricity" ->
      (bfsCte(numSources = 8, maxDepth = 4) +
        "\nSELECT s, CAST(max(d) AS BIGINT) AS ecc, " +
        "count(*) AS n_reached FROM d4 GROUP BY s ORDER BY s"),
    "qX_random_walks" -> randomWalksSql(walksPerVertex = 2, length = 4, seed = 7L),
    "qX_node2vec" -> node2vecSql(walksPerVertex = 1, length = 3, seed = 7L,
      p = 4.0, q = 0.25),
    "qD1_pymk" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges),
         |friends AS (SELECT t AS friend FROM adj WHERE f = 1),
         |hop2 AS (
         |  SELECT a.t AS candidate
         |  FROM friends fr JOIN adj a ON a.f = fr.friend)
         |SELECT candidate AS id, count(*) AS score
         |FROM hop2
         |WHERE candidate <> 1
         |  AND candidate NOT IN (SELECT DISTINCT friend FROM friends)
         |GROUP BY candidate
         |ORDER BY score DESC, id ASC
         |LIMIT 10""".stripMargin,
    "qF1_undirected_degree" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges)
         |SELECT f AS id, count(*) AS degree FROM adj
         |GROUP BY f ORDER BY id""".stripMargin,
    "qX_pymk_reasons" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges),
         |friends AS (SELECT t AS friend FROM adj WHERE f = 1),
         |wedges AS (
         |  SELECT fr.friend AS mutual, a.t AS candidate
         |  FROM friends fr JOIN adj a ON a.f = fr.friend),
         |cand AS (
         |  SELECT mutual, candidate FROM wedges
         |  WHERE candidate <> 1
         |    AND candidate NOT IN (SELECT DISTINCT friend FROM friends)),
         |scored AS (SELECT candidate AS id, count(*) AS score
         |  FROM cand GROUP BY 1),
         |dm AS (SELECT DISTINCT candidate AS id, mutual FROM cand),
         |reasons AS (SELECT id, array_to_string(
         |    list_slice(list(mutual ORDER BY mutual), 1, 3), ',')
         |    AS reasons
         |  FROM dm GROUP BY 1)
         |SELECT s.id, s.score, r.reasons
         |FROM scored s JOIN reasons r USING (id)
         |ORDER BY s.score DESC, s.id ASC LIMIT 10""".stripMargin,
    "qD1_pymk_all" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges),
         |hop2 AS (
         |  SELECT h1.f AS anchor, h2.t AS candidate
         |  FROM adj h1 JOIN adj h2 ON h1.t = h2.f
         |  WHERE h1.f <> h2.t),
         |excl AS (
         |  SELECT hop2.anchor, hop2.candidate FROM hop2
         |  WHERE NOT EXISTS (SELECT 1 FROM adj
         |    WHERE adj.f = hop2.anchor AND adj.t = hop2.candidate)),
         |scored AS (
         |  SELECT anchor, candidate AS id, count(*) AS score
         |  FROM excl GROUP BY 1, 2),
         |ranked AS (
         |  SELECT anchor, id, score, row_number() OVER (
         |    PARTITION BY anchor ORDER BY score DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT anchor, id, score FROM ranked WHERE rn <= 3
         |ORDER BY anchor, score DESC, id""".stripMargin,
    // the capped twin replays the md5-spread per-middle sample (the
    // qX_linkpred_capped rn pattern), then the same count/anti/top-3
    "qD1_pymk_capped" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges),
         |rn AS (
         |  SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY
         |    CAST(('0x' || substr(md5(CAST(f AS VARCHAR) || ':' ||
         |      CAST(t AS VARCHAR)), 1, 8)) AS BIGINT), t) AS rn
         |  FROM adj),
         |samp AS (SELECT f, t FROM rn WHERE rn.rn <= 16),
         |sc AS (
         |  SELECT x.t AS anchor, y.t AS candidate, count(*) AS score
         |  FROM samp x JOIN samp y ON x.f = y.f AND x.t < y.t
         |  GROUP BY 1, 2),
         |mir AS (
         |  SELECT anchor, candidate, score FROM sc
         |  UNION ALL
         |  SELECT candidate, anchor, score FROM sc),
         |excl AS (
         |  SELECT m.anchor, m.candidate AS id, m.score FROM mir m
         |  WHERE NOT EXISTS (SELECT 1 FROM adj
         |    WHERE adj.f = m.anchor AND adj.t = m.candidate)),
         |ranked AS (
         |  SELECT anchor, id, score, row_number() OVER (
         |    PARTITION BY anchor ORDER BY score DESC, id ASC) AS rn
         |  FROM excl)
         |SELECT anchor, id, score FROM ranked WHERE rn <= 3
         |ORDER BY anchor, score DESC, id""".stripMargin,
    "qX_cc_df" -> CcSql,
    "qX_cc_graphx" -> CcSql,
    "qX_khop3_graphx" ->
      s"""WITH edges AS ($EdgesSql),
         |adj AS (
         |  SELECT src AS f, dst AS t FROM edges
         |  UNION ALL
         |  SELECT dst AS f, src AS t FROM edges)
         |SELECT a3.t AS id, count(*) AS walks
         |FROM adj a1 JOIN adj a2 ON a1.t = a2.f JOIN adj a3 ON a2.t = a3.f
         |WHERE a1.f = 1
         |GROUP BY a3.t ORDER BY id""".stripMargin,
    "qH2_edge_upsert" ->
      s"""WITH edges AS ($EdgesSql),
         |replay AS (
         |  SELECT DISTINCT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 50 AS dst
         |  FROM events
         |  WHERE event_type = 'click'
         |    AND user_id <> CAST(FLOOR(value) AS BIGINT) % 50),
         |merged AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT * FROM edges UNION ALL SELECT * FROM replay)
         |  WHERE src <> dst)
         |SELECT src, count(*) AS out_degree FROM merged
         |GROUP BY src ORDER BY src""".stripMargin,
    "qC9_path_join" ->
      s"""WITH edges AS ($EdgesSql)
         |SELECT src, dst, cs.c_name AS src_name, cd.c_name AS dst_name
         |FROM edges
         |JOIN customer cs ON src = cs.c_custkey
         |JOIN customer cd ON dst = cd.c_custkey
         |ORDER BY src, dst""".stripMargin)
}
