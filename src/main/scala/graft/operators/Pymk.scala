package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.expr.KeyWeightExpr

/** "People You May Know" — the reference's flagship graph query,
  * re-expressed as relational algebra on (vertices, edges) DataFrames.
  *
  * Reference traversal (RecommendBizcard/neptune_recommend_bizcard.py:56-73):
  * {{{
  *   g.V().hasLabel('person').has('_name', user).as_('person')
  *    .both('knows').aggregate('friends')
  *    .both('knows')
  *    .where(P.neq('person')).where(P.without('friends'))
  *    .groupCount().by('id')
  *    .order(Scope.local).by(Column.values, Order.decr)
  * }}}
  *
  * Semantics locked down here (SURVEY §2.C/D, §7.5-1):
  *  - `both('knows')` traverses the *directed* edge list in both
  *    directions — modelled as `edges UNION ALL reversed(edges)`
  *    (bag semantics, duplicates kept: a reciprocal pair a→b, b→a
  *    yields b twice in a's 1-hop frontier).
  *  - the score is a **path count**, not a distinct-friend count: every
  *    (friend-occurrence, second-hop-occurrence) pair contributes 1
  *    (`groupCount().by('id')` counts traversers). So the 2-hop frontier
  *    must NOT be deduplicated before aggregation.
  *  - excluded: the anchor itself (`neq`) and the *set* of 1-hop
  *    neighbours (`without` over the aggregated bag — membership test,
  *    so `distinct` is safe for the anti-join side only).
  *  - ties: Gremlin leaves equal-count order unspecified; we declare the
  *    deterministic tiebreak `asc(id)` (SURVEY §7.3).
  *
  * Scale posture (100 TB): in the relational form ([[recommend]]) both
  * hops are equi-joins on the vertex id — shuffle-partitioned by key, no
  * driver collection. The all-pairs forms ([[recommendAll]], its capped
  * and weighted twins) keep that shape, which is the right plan when
  * every anchor is served: each is one [[Wedge]] query (the sparse A²
  * plan, with its hub cap, stated once for them and the
  * link-prediction scorers) plus a per-anchor top-k. The serving form
  * ([[recommendWithProps]]) is an eager point query: it collects the
  * anchor's friend bag (deg(anchor) entries), gathers the 2-hop
  * candidates in one scan with a hash probe per edge, and returns a
  * local frame of ≤ `limit` rows — driver state bounded by the anchor's
  * degree, never by the graph. Skewed hub vertices are handled by AQE
  * skew-join splitting in the relational form; a hub anchor costs the
  * serving form a deg(anchor)-entry map.
  */
object Pymk {

  /** Undirected bag view of a directed edge list: out-edges ∪ in-edges.
    * Reference: `both('knows')` (neptune_recommend_bizcard.py:60-61);
    * SURVEY §2.F1 — duplicates are load-bearing for path counting.
    */
  def undirected(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src").as("from"), col("dst").as("to"))
    val rev = edges.select(col("dst").as("from"), col("src").as("to"))
    fwd.unionAll(rev)
  }

  /** Recommend for a single anchor vertex id. Returns (id, score) ranked
    * by score desc, id asc, limited to `limit`.
    *
    * @param edges directed edge DataFrame with columns (src, dst);
    *              already deduplicated on (src,dst) — the reference's
    *              edge upsert guarantees at most one edge per direction
    *              (upsert_bizcard_to_graph_db.py:104-109).
    */
  def recommend(edges: DataFrame, anchorId: Column, limit: Int): DataFrame = {
    val adj = undirected(edges)

    // hop 1 — the friend bag of the anchor (duplicates kept)
    val friends = adj.filter(col("from") === anchorId).select(col("to").as("friend"))

    // hop 2 — expand every friend occurrence (bag x bag = path count)
    val hop2 = friends
      .join(adj, friends("friend") === adj("from"))
      .select(col("to").as("candidate"))

    // exclusions: self, and anyone already a direct friend (set semantics)
    val friendSet = friends.select(col("friend").as("candidate")).distinct()
    val candidates = hop2
      .filter(col("candidate") =!= anchorId)
      .join(friendSet, Seq("candidate"), "left_anti")

    candidates
      .groupBy(col("candidate").as("id"))
      .agg(count(lit(1)).as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(limit)
  }

  /** [[recommend]] joined back to vertex properties, served as a point
    * query from the anchor: the reference's traversal starts at the
    * anchor vertex and visits only its 2-hop neighbourhood
    * (neptune_recommend_bizcard.py:56-73), and so does this. Eager —
    * it runs its jobs here and returns a local frame:
    *
    *  1. collect the anchor's incident edges as its friend bag, friend
    *     → multiplicity (the reference's `aggregate('friends')`; under
    *     `both('knows')` a reciprocal pair and a self-loop count 2);
    *  1. one scan over the edges incident to a friend: each emits its
    *     far endpoint weighted by its friend's multiplicity (an O(1)
    *     hash probe, [[graft.functions.expr.KeyWeightExpr]]), the
    *     anchor and the friends are dropped row by row, and a grouped
    *     sum feeds the top-`limit`;
    *  1. fetch the properties of the ≤ `limit` ids — one filter in
    *     place of the reference's N+1 per-candidate `valueMap()` round
    *     trips (neptune_recommend_bizcard.py:69-72).
    *
    * The answer equals `recommend(edges, anchorId, limit)` left-joined
    * to `vertices` on id, ordered score desc, id asc, with that join's
    * schema: (id, score, every other vertex column; null properties for
    * a candidate with no vertex row). Driver state is the deg(anchor)
    * friend bag plus ≤ `limit` result rows; nothing is shuffled but
    * the candidates' partial sums.
    *
    * @param anchorId a literal (it is evaluated once, as a constant)
    */
  def recommendWithProps(vertices: DataFrame, edges: DataFrame,
                         anchorId: Column, limit: Int): DataFrame = {
    // the id column recommend's adjacency gives (type and nullability)
    val idField = undirected(edges).schema("to").copy(name = "id")
    val ends = edges.select(col("src").cast(idField.dataType).as("s"),
      col("dst").cast(idField.dataType).as("d"))
    val s = col("s")
    val d = col("d")

    val bag = mutable.HashMap.empty[Any, Long].withDefaultValue(0L)
    ends.filter(s === anchorId || d === anchorId)
      .select(s, d, s <=> anchorId, d <=> anchorId)
      .collect().foreach { r =>
        if (r.getBoolean(2) && !r.isNullAt(1)) bag(r.get(1)) += 1
        if (r.getBoolean(3) && !r.isNullAt(0)) bag(r.get(0)) += 1
      }

    val top = if (bag.isEmpty) Array.empty[Row] else {
      val weight = KeyWeightExpr.keyWeight(bag)
      ends.filter(weight(s).isNotNull || weight(d).isNotNull)
        .select(inline(array(struct(d.as("id"), weight(s).as("w")),
          struct(s.as("id"), weight(d).as("w")))))
        .filter(col("w").isNotNull && col("id") =!= anchorId &&
          weight(col("id")).isNull)
        .groupBy("id").agg(sum("w").as("score"))
        .orderBy(desc("score"), asc("id"))
        .limit(limit)
        .collect()
    }

    val vid = vertices.schema.fieldIndex("id")
    val props = vertices.schema.fields.indices.filterNot(_ == vid)
    val byId = if (top.isEmpty) Map.empty[Any, Array[Row]] else
      vertices.filter(col("id").isInCollection(top.map(_.get(0))))
        .withColumn("id", col("id").cast(idField.dataType))
        .collect().groupBy(_.get(vid))
    val noProps = Array(Row.fromSeq(Seq.fill(vertices.schema.size)(null)))
    val rows = top.toSeq.flatMap { t =>
      byId.getOrElse(t.get(0), noProps).toSeq.map(v =>
        Row.fromSeq(t.get(0) +: t.getLong(1) +: props.map(v.get)))
    }
    val schema = StructType(idField +: StructField("score", LongType, nullable = false) +:
      props.map(i => vertices.schema(i).copy(nullable = true)))
    edges.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** [[recommend]] with the EXPLANATION a PYMK surface renders next to
    * each suggestion — "you both know …": the first `nReasons` distinct
    * mutual friends (the wedge middle vertices), ascending, as a
    * comma-joined string. Same path-count score and exclusions as the
    * flagship; the reasons side folds the DISTINCT (candidate, mutual)
    * pairs through the bounded-heap grouped top-k ([[TopK]]'s
    * CollectTopK bridge — O(nReasons) state per candidate, never a
    * per-candidate window sort), so a hub candidate with 10⁵ mutuals
    * costs the same as one with 3.
    *
    * @return (id, score, reasons) ranked score desc, id asc.
    */
  def recommendWithReasons(edges: DataFrame, anchorId: Column, limit: Int,
                           nReasons: Int = 3): DataFrame = {
    val adj = undirected(edges)
    val friends = adj.filter(col("from") === anchorId)
      .select(col("to").as("friend"))
    val wedges = friends
      .join(adj, friends("friend") === adj("from"))
      .select(col("friend").as("mutual"), col("to").as("candidate"))
    val friendSet = friends.select(col("friend").as("candidate")).distinct()
    val cand = wedges
      .filter(col("candidate") =!= anchorId)
      .join(friendSet, Seq("candidate"), "left_anti")
      .localCheckpoint(true) // feeds the score fold AND the reasons fold
    val scored = cand.groupBy(col("candidate").as("id"))
      .agg(count(lit(1)).as("score"))
    val reasons = cand.select(col("candidate").as("id"), col("mutual"))
      .distinct()
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.catalyst.expressions.aggregate
        .GraftTopKBridge.topK(struct(col("mutual").as("m")), nReasons,
          smallestFirst = true).as("_top"))
      .select(col("id"), concat_ws(",",
        transform(col("_top"), x => x.getField("m").cast("string")))
        .as("reasons"))
    scored.join(reasons, Seq("id"))
      .orderBy(desc("score"), asc("id"))
      .limit(limit)
  }

  /** Regularized bias baseline for rating-style prediction (Koren
    * 2010's "baseline predictor" — the model every CF paper compares
    * against and the bias term a serving ranker subtracts first):
    * `b̂_ui = μ + b_u + b_i` with `b_u = Σ_u(r−μ)/(λ+n_u)` then
    * `b_i = Σ_i(r−μ−b_u)/(λ+n_i)` (the sequential shrinkage fit —
    * TWO keyed folds, no iteration). Every accumulated quantity is
    * integer micros with floored divisions, so the fitted biases are
    * engine-exact artifacts.
    *
    * @return (item, n_i, bi_micros) per item plus the global
    *         (mu_micros) on every row — the broadcastable model table.
    */
  def biasBaseline(ratings: DataFrame, userCol: String, itemCol: String,
                   ratingCol: String, lambda: Long = 10L): DataFrame = {
    val r = ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
        floor(col(ratingCol) * lit(1e6)).cast("long").as("r"))
      .localCheckpoint(true) // three folds below
    val muRow = r.agg(floor(sum(col("r")).cast("double") / count(lit(1)))
      .cast("long").as("mu")).head()
    val mu = muRow.getLong(0)
    val bu = r.groupBy("u")
      .agg(floor((sum(col("r")) - count(lit(1)) * mu).cast("double")
        / (count(lit(1)) + lambda)).cast("long").as("bu"))
    r.join(bu, "u")
      .groupBy(col("i").as("item"))
      .agg(count(lit(1)).as("n_i"),
        floor((sum(col("r") - lit(mu) - col("bu"))).cast("double")
          / (count(lit(1)) + lambda)).cast("long").as("bi_micros"))
      .withColumn("mu_micros", lit(mu))
      .orderBy(col("item"))
  }

  /** All-pairs PYMK — recommendations for EVERY vertex in one pass: the
    * batch-serving shape at scale (precompute top-k for all users
    * nightly, serve point lookups), replacing per-anchor traversals
    * with set-level joins. The path count of [[recommend]] over the
    * undirected bag, folded per (anchor, candidate) by the [[Wedge]]
    * kernel (its plan and rationale are stated there), then a
    * per-anchor bounded-heap top-k. Every stage is key-partitioned;
    * nothing is collected to the driver.
    *
    * @return (anchor, id, score) top-`limit` per anchor by
    *         (score desc, id asc).
    */
  def recommendAll(edges: DataFrame, limit: Int): DataFrame =
    recommendAllCapped(edges, limit, Int.MaxValue)

  /** [[recommendAll]]'s documented SCALE TWIN — the hub-capped form.
    *
    * The exact all-pairs plan is inherently Θ(Σ_z deg(z)²) in its wedge
    * bag: on the reference-shaped graph (a FIXED hub set whose degree
    * grows linearly with corpus size — derivedEdges' 50 `value % 50`
    * hubs) that is quadratic in scale factor. Measured: sf0.1 → sf1
    * (10× data) took qD1_pymk_all from 1.3 s to 238 s — correct, but
    * not a plan to run at 100 TB. This twin caps each MIDDLE vertex's
    * neighbor list at `maxDegree` with the [[Wedge.sample]] rule, so
    * the wedge bag is bounded by |V|·maxDegree² regardless of hub
    * growth; sub-cap vertices — the overwhelming majority on a
    * power-law graph — contribute EXACTLY. Anti-join and output ranks
    * stay exact over the full edge set. Cap ≥ max degree ⇒ identical
    * to [[recommendAll]] (the cap≡exact contract, pinned in
    * PymkPropertySpec).
    *
    * @return (anchor, id, score) top-`limit` per anchor by
    *         (score desc, id asc).
    */
  def recommendAllCapped(edges: DataFrame, limit: Int,
                         maxDegree: Int): DataFrame =
    topPerAnchor(new Wedge(undirected(edges), maxDegree)
      .pairs(Nil, Seq(count(lit(1)).as("score"))), "score", limit)

  /** Weighted PYMK over a weighted edge frame (src, dst, w_micros) —
    * the recency-aware flagship: path score is
    * `Σ_paths ⌊w₁·w₂/1e6⌋` over 2-hop wedges, so feeding
    * [[Features.decayedCounts]] weights makes yesterday's mutual
    * friend outrank last month's. [[recommendAll]] with the edge weight
    * as a leg column (w₁·w₂ commutes, so the kernel's a < c halving
    * holds); per-path flooring keeps every fold an exact integer
    * (order-independent, oracle-replayable), with bias ≤ #paths
    * micro-units, identical in the oracle by construction.
    *
    * @return (anchor, id, score_micros) top-`limit` per anchor by
    *         (score desc, id asc).
    */
  def recommendAllWeighted(wEdges: DataFrame, limit: Int): DataFrame =
    recommendAllWeightedCapped(wEdges, limit, Int.MaxValue)

  /** [[recommendAllWeighted]]'s hub-capped scale twin — the
    * [[recommendAllCapped]] medicine on the weighted wedge bag (the
    * exact form timed out entirely at sf1 on the fixed-hub graph, the
    * same Θ(Σ deg(z)²) blowup as the unweighted flagship). Each
    * middle's weighted neighbor list is sampled to `maxDegree` rows;
    * the direct-edge anti-join is exact over the full edge set.
    * Cap ≥ max degree ≡ exact (PymkPropertySpec).
    */
  def recommendAllWeightedCapped(wEdges: DataFrame, limit: Int,
                                 maxDegree: Int): DataFrame = {
    val adj = wEdges.select(col("src").as("from"), col("dst").as("to"),
        col("w_micros").as("w"))
      .unionAll(wEdges.select(col("dst").as("from"), col("src").as("to"),
        col("w_micros").as("w")))
    val pathW = floor(col("l.w") * col("r.w") / lit(1000000L)).cast("long")
    topPerAnchor(new Wedge(adj, maxDegree)
        .pairs(Seq(pathW.as("pw")), Seq(sum(col("pw")).as("score_micros"))),
        "score_micros", limit)
      .orderBy(col("anchor"), desc("score_micros"), col("id"))
  }

  /** Top-`limit` candidates per anchor of the kernel's (a, c, `score`)
    * pairs by (score desc, id asc), as (anchor, id, `score`): a
    * bounded-heap aggregate (O(limit) state per anchor, map-side
    * partial heaps) via the negation idiom, never a window sort. */
  private def topPerAnchor(pairs: DataFrame, score: String,
                           limit: Int): DataFrame =
    TopK.grouped(pairs, Seq("a"),
        struct((-col(score)).as("ns"), col("c").as("c")), limit)
      .select(col("a").as("anchor"), col("best.c").as("id"),
        (-col("best.ns")).as(score))

  /** Edge embeddedness — the Jaccard of the endpoints' neighborhoods,
    * the TIE-STRENGTH metric complementing [[GraphAnalytics.weakTies]]
    * (embeddedness 0 = local bridge): `|N(u)∩N(v)| / |N(u)∪N(v)|` in
    * integer micros via `∩/(du + dv − ∩ − 2)` (the endpoints
    * themselves are excluded from the union — they are in each
    * other's neighborhoods, never common). One wedge join + two
    * degree hydrations, exact integers until one final division.
    *
    * @return (u, v, common, emb_micros) per canonical edge, ordered.
    */
  def edgeEmbeddedness(edges: DataFrame): DataFrame = {
    val e = GraphAnalytics.simpleEdges(edges)
    val adj = GraphAnalytics.bothWays(e, "f", "t")
    val deg = adj.groupBy(col("f").as("id")).agg(count(lit(1)).as("d"))
    val common = e
      .join(adj.select(col("f").as("u"), col("t").as("w1")), "u")
      .join(adj.select(col("f").as("v"), col("t").as("w2")), "v")
      .filter(col("w1") === col("w2"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
    e.join(common, Seq("u", "v"), "left")
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"),
        coalesce(col("common"), lit(0L)).as("common"),
        {
          val c = coalesce(col("common"), lit(0L))
          val denom = col("du") + col("dv") - c - lit(2)
          // degree-1–degree-1 pairs have an empty union → 0, not 0/0
          when(denom <= 0, lit(0L))
            .otherwise(floor(lit(1000000L) * c / denom).cast("long"))
            .as("emb_micros")
        })
      .orderBy("u", "v")
  }

  /** Anchor lookup by case-insensitive name — the `_name` shadow
    * property (upsert_bizcard_to_graph_db.py:94, queried at
    * neptune_recommend_bizcard.py:59). Returns one id column row: the
    * smallest id among the matches, so a name two people share always
    * resolves to the same vertex, whatever the file or partition order;
    * caller feeds it to [[recommend]]. The reference anchors EVERY
    * same-named vertex (SURVEY C2; the §3.3 traversal starts from all of
    * them); multi-anchor PYMK is out of scope here. `orderBy.limit`
    * plans as TakeOrderedAndProject: one job, no global sort. Both sides
    * go through Spark's `lower`: the driver's `String.toLowerCase`
    * follows the JVM's default locale (Turkish: "IRENE" → "ırene") where
    * Spark lower-cases ASCII to "irene"
    * ([[graft.functions.GraftFunctions.lowerText]] is its local twin).
    */
  def anchorByName(vertices: DataFrame, user: String): DataFrame =
    vertices.filter(lower(col("name")) === lower(lit(user))).select("id")
      .orderBy("id").limit(1)

  /** Item–item collaborative filtering over a (user, item) interaction
    * frame — the co-occurrence recommender next to the social 2-hop
    * ([[recommendAll]]): two items are similar when the same users
    * touch both, normalized by item popularity (binary cosine:
    * `co / √(dᵢ·dⱼ)`). The "people who viewed X also viewed Y" surface
    * the reference's album feed implies but never computes.
    *
    * Determinism: co-occurrence and degree counts are exact integers;
    * each similarity is ONE fixed IEEE expression floored to micros;
    * top-k ranks the QUANTIZED score with the item id as tiebreak.
    *
    * 100 TB shape: distinct (user, item) projection, a user-keyed
    * self-join for pairs whose cost is Σᵤ deg(u)² — bounded by
    * `userCap` (power users above the cap are dropped ENTIRELY, the
    * standard co-occurrence guard: their pairs are the quadratic
    * blowup and carry the least signal), two item-keyed degree
    * hydrations, one bounded-heap top-k per item. No all-pairs
    * item×item anything.
    *
    * @return (item, rec, co, sim_micros) top-k per item by
    *         (sim desc, rec asc).
    */
  def itemItemTopK(interactions: DataFrame, userCol: String,
                   itemCol: String, k: Int, userCap: Int): DataFrame = {
    val ui = interactions
      .select(col(userCol).as("u"), col(itemCol).as("item")).distinct()
    val kept = ui.withColumn("_udeg",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("u")))
      .filter(col("_udeg") <= userCap).drop("_udeg")
    val pairs = kept.select(col("u"), col("item").as("i"))
      .join(kept.select(col("u"), col("item").as("j")), "u")
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("co"))
    val deg = kept.groupBy(col("item")).agg(count(lit(1)).as("d"))
    val sym = pairs.unionAll(
      pairs.select(col("j").as("i"), col("i").as("j"), col("co")))
    val scored = sym
      .join(deg.select(col("item").as("i"), col("d").as("di")), "i")
      .join(deg.select(col("item").as("j"), col("d").as("dj")), "j")
      .select(col("i").as("item"), col("j").as("rec"), col("co"),
        floor(lit(1e6) * (col("co").cast("double") /
          sqrt((col("di") * col("dj")).cast("double")))).cast("long")
          .as("sim_micros"))
    TopK.grouped(scored, Seq("item"),
        struct((-col("sim_micros")).as("ns"), col("rec").as("r"),
          col("co").as("c")), k)
      .select(col("item"), col("best.r").as("rec"), col("best.c").as("co"),
        (-col("best.ns")).as("sim_micros"))
      .orderBy(col("item"), desc("sim_micros"), col("rec"))
  }

  /** Reciprocal best matches over a ranked rec table — the
    * high-precision cut every matcher ships behind the top-k list:
    * keep pair (a, b) only when b is a's SINGLE best candidate AND a
    * is b's (the mutual-rank-1 rule — BLAST's reciprocal-best-hit,
    * the matching-market "stable pair" heuristic). One self-join of
    * the rank-1 rows on the reversed key + the a < b canonicalization;
    * input is any (item, rec, score, rank-implied-by-order) frame from
    * [[itemItemTopK]], [[recommendAll]], or a linkage scorer ranked by
    * the caller.
    *
    * @param recs (itemCol, recCol, scoreCol) ranked rows where rank 1
    *             per item = its best match (rankCol = 1 filter is the
    *             caller's if the frame carries more).
    * @return (a, b, score_a, score_b) with a < b, ordered.
    */
  def mutualBest(recs: DataFrame, itemCol: String, recCol: String,
                 scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(itemCol)
      .orderBy(desc(scoreCol), col(recCol))
    val best = recs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(itemCol).as("a"), col(recCol).as("b"),
        col(scoreCol).as("score_a"))
    best.join(best.select(col("a").as("b"), col("b").as("a"),
        col("score_a").as("score_b")), Seq("a", "b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("score_a"), col("score_b"))
      .orderBy("a", "b")
  }
}
