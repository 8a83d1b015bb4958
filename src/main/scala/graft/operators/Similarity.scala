package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{cosine, dot, l2Norm}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths, per the builder brief:
  *  - [[bruteForceTopK]] — exact cosine top-k. The query side is small
  *    (broadcast); the corpus is scanned once; per-query top-k is a
  *    window `row_number`, i.e. a single shuffle keyed by query id.
  *    This is the ground truth and is already the right plan when
  *    |queries| is small (the common "probe" shape).
  *  - [[randomHyperplaneLsh]] / [[lshTopK]] — the scale path: sign-LSH
  *    (random hyperplanes, Charikar 2002) buckets vectors by an
  *    m-bit signature; candidates = same-bucket pairs (optionally
  *    multi-probe by flipping bits); exact cosine re-ranks candidates
  *    only. At 100 TB the corpus-side signature projection is narrow,
  *    and the join shuffles (bucket, id, vec) instead of the full
  *    cross product.
  *
  * Hyperplanes are generated deterministically from md5 — no RNG
  * state, so plans are reproducible and resumable (important for
  * spot-instance reruns at scale).
  */
object Similarity {

  /** Shared final ranking: top-k per query as a bounded-heap aggregate
    * ([[TopK.grouped]] — O(k) state per query, map-side partial heaps,
    * no window sort; at scale the shuffle carries k rows per query per
    * mapper instead of every scored candidate). (sim desc, id asc) via
    * the negation idiom; double negation is exact in IEEE. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    TopK.grouped(scored, Seq("qid"),
        struct((-col("sim")).as("ns"), col("id").as("i")), k)
      .select(col("qid"), col("best.i").as("id"), (-col("best.ns")).as("sim"))
      .orderBy(col("qid"), desc("sim"), col("id"))


  /** Exact cosine top-k of `corpus` for every row of `queries`.
    * Output: (qid, id, sim) with sim rounded to 4 decimals, ranked by
    * (sim desc, id asc) per query.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, qvecCol: String,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val scored = broadcast(q).join(c, col("qid") =!= col("id"))
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    topKPerQuery(scored, k)
  }

  /** Truncated-dimension retrieval recall — the Matryoshka ablation
    * (Kusupati et al. 2022): how much of the FULL-dimension exact
    * top-k survives when embeddings are cut to their first `dims`
    * components (the storage/latency knob every vector index wants to
    * turn). Both rankings are [[bruteForceTopK]] (quantized cosine,
    * bounded heaps); the readout is the per-query overlap of the two
    * k-sets — one equi-join of two k-bounded runs.
    *
    * @return (qid, n_overlap) per query, ordered.
    */
  def truncationRecall(emb: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dims: Int, k: Int): DataFrame = {
    val full = bruteForceTopK(queries, emb, idCol, vecCol, idCol, vecCol, k)
    val cut = (df: DataFrame) => df.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val trunc = bruteForceTopK(cut(queries), cut(emb), idCol, vecCol,
      idCol, vecCol, k)
    val hits = full.select(col("qid"), col("id"))
      .join(trunc.select(col("qid"), col("id")), Seq("qid", "id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("nv"))
    full.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("nv"), lit(0L)).as("n_overlap"))
      .orderBy(col("qid"))
  }

  /** Hard-negative mining for contrastive training (the DPR /
    * Contriever data-prep step): for each query, the top-k most
    * SIMILAR corpus items with a DIFFERENT label — same-label
    * neighbors are positives; near-but-differently-labeled items are
    * the informative negatives a bi-encoder trains against.
    *
    * Exact form: the [[bruteForceTopK]] plan (broadcast query side ×
    * one corpus scan, codegen cosine, bounded-heap top-k) with the
    * label guard fused into the join condition — the guard prunes
    * BEFORE scoring, so same-label rows cost a comparison, not a
    * cosine. At corpus scale swap the scan side for the IVF/PQ index
    * ([[ivfTopK]], [[Pq.pqTopK]]) and apply the same guard to their
    * candidate sets; the contract is identical.
    *
    * @return (qid, id, sim) — ranked (sim desc, id asc) per query.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    qidCol: String, qvecCol: String, qlabelCol: String,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"),
      col(qlabelCol).as("qlabel"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("label"))
    val scored = broadcast(q)
      .join(c, col("qid") =!= col("id") && col("qlabel") =!= col("label"))
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    topKPerQuery(scored, k)
  }

  /** Class prototypes — per-label mean vectors in integer micros:
    * components quantize to `round(1e6·x)` BEFORE the fold, so the
    * per-(label, dim) sums are exact integers (order-independent) and
    * the mean is one floored division. The nearest-class-mean family
    * (Rocchio / NCM): the cheapest embedding-quality probe there is.
    *
    * @return (label, dim, mean_micros), dim 1-based.
    */
  def classPrototypes(points: DataFrame, vecCol: String,
                      labelCol: String): DataFrame =
    points
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        round(lit(1e6) * col("col")).cast("long").as("v"))
      .groupBy("label", "dim")
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("mean_micros"))
      .orderBy("label", "dim")

  /** Nearest-prototype classification accuracy — do the label
    * centroids separate the embedding space? Each point scores
    * against every prototype by integer-micro cosine (component
    * join form — oracle-replayable; at serving scale broadcast the
    * tiny label×dim prototype table through
    * [[graft.functions.expr.MatVecExpr]] instead) and predicts the
    * argmax by (sim desc, label asc).
    *
    * @return one row (n, n_correct, acc_micros).
    */
  def prototypeAccuracy(points: DataFrame, idCol: String, vecCol: String,
                        labelCol: String): DataFrame = {
    val protos = classPrototypes(points, vecCol, labelCol)
      .select(col("label").as("plabel"), col("dim"), col("mean_micros"))
    val comps = points
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .select(col("id"), col("label"), (col("pos") + 1).as("dim"),
        round(lit(1e6) * col("col")).cast("long").as("v"))
    val scored = comps.join(protos, "dim")
      .groupBy("id", "label", "plabel")
      .agg(sum(col("v") * col("mean_micros")).as("dot"),
        sum(col("v") * col("v")).as("n2"),
        sum(col("mean_micros") * col("mean_micros")).as("p2"))
      .select(col("id"), col("label"), col("plabel"),
        floor(lit(1e6) * (col("dot").cast("double") /
          sqrt(col("n2").cast("double") * col("p2").cast("double"))))
          .cast("long").as("sim"))
    val best = TopK.grouped(scored, Seq("id"),
        struct((-col("sim")).as("ns"), col("plabel").as("p"),
          col("label").as("l")), 1)
      .select(col("id"), col("best.l").as("label"),
        col("best.p").as("pred"))
    best.agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n"), col("n_correct"),
        floor(lit(1000000L) * col("n_correct") / col("n")).cast("long")
          .as("acc_micros"))
  }

  /** k-NN graph construction by NN-descent (Dong, Moses & Li 2011) —
    * the index-building primitive under SemDeDup-style curation,
    * density clustering, and graph-ANN: start from sign-LSH-bucket
    * neighbors (md5-portable planes — engine-replayable, no RNG) and
    * iteratively improve by scoring each point's NEIGHBORS-OF-
    * NEIGHBORS over the symmetrized current graph ("a neighbor of my
    * neighbor is probably my neighbor"), keeping the quantized-cosine
    * top-k.
    *
    * 100 TB shape: state is |V|·k edges; per round the hop-2
    * candidate join is bounded by |V|·(2k)² id-keyed rows — NEVER an
    * all-pairs scan; vectors hydrate into the score step by id-keyed
    * joins. Every ranking is (rounded sim desc, id asc) on integer-
    * quantized scores, so init + every round replays exactly in SQL.
    *
    * @return (id, nb, sim) — the top-k graph after `rounds`
    *         refinement passes.
    */
  def nnDescent(points: DataFrame, idCol: String, vecCol: String,
                k: Int, rounds: Int, mBits: Int = 4): DataFrame = {
    val p = points.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint(true) // hydrated every score pass
    def scoreTopK(cands: DataFrame): DataFrame = {
      val scored = cands
        .join(p.select(col("id"), col("vec").as("_v1")), "id")
        .join(p.select(col("id").as("nb"), col("vec").as("_v2")), "nb")
        .withColumn("sim", round(cosine(col("_v1"), col("_v2")), 4))
      TopK.grouped(scored.select(col("id"), col("nb"), col("sim")),
          Seq("id"), struct((-col("sim")).as("ns"), col("nb").as("n")), k)
        .select(col("id"), col("best.n").as("nb"), (-col("best.ns")).as("sim"))
    }
    val sig = p.select(col("id"),
      graft.functions.expr.VectorExprs.sign_lsh(col("vec"), mBits).as("b"))
    val init = sig.join(sig.select(col("b"), col("id").as("nb")), "b")
      .filter(col("id") =!= col("nb"))
      .select(col("id"), col("nb"))
    var knn = scoreTopK(init).localCheckpoint(true)
    for (r <- 1 to rounds) {
      // symmetrized adjacency WITHOUT its own distinct pass: a pair
      // present in both directions duplicates a hop-2 row at most 4×,
      // and the single cands.distinct dedups everything — one shuffle
      // per round instead of two
      val adj = knn.select(col("id"), col("nb"))
        .unionAll(knn.select(col("nb").as("id"), col("id").as("nb")))
      val hop2 = adj.select(col("id"), col("nb").as("mid"))
        .join(adj.select(col("id").as("mid"), col("nb")), "mid")
        .filter(col("id") =!= col("nb"))
        .select(col("id"), col("nb"))
      // dedup candidates per ANCHOR (collect_set by id), not by the
      // (id, nb) pair: one id-keyed exchange whose partitioning then
      // flows through the broadcast vector-hydrate joins straight
      // into the id-keyed top-k aggregate — two fewer exchanges per
      // round than a pair-distinct + re-shuffle (the r14 bar profile:
      // each of these stages was ~pure floor at gate scale). The set
      // is bounded by |knn ∪ hop2| per id ≤ 2k + (2k)² rows.
      val cands = knn.select(col("id"), col("nb")).unionAll(hop2)
        .groupBy(col("id")).agg(collect_set(col("nb")).as("cs"))
        .select(col("id"), explode(col("cs")).as("nb"))
      // the final round chains lazily into the caller's read — no
      // materialization of a frame consumed exactly once
      knn = if (r == rounds) scoreTopK(cands)
        else scoreTopK(cands).localCheckpoint(true)
    }
    knn.orderBy(col("id"), desc("sim"), col("nb"))
  }

  /** Density-based clustering (DBSCAN, Ester et al. 1996) in cosine
    * space — the density sibling of [[kmeansFit]]: a point is CORE
    * when its ≥ `minSim` neighborhood (self included) holds at least
    * `minPts` points; clusters are connected components of the
    * core–core similarity graph; non-core points with a core neighbor
    * are BORDER (assigned the MINIMAL adjacent core cluster — a
    * declared deterministic refinement of DBSCAN's arrival-order
    * border rule); the rest is NOISE.
    *
    * Composition of already-oracled primitives: similarity pairs
    * ([[Dedup.embedCosinePairs]]; swap in the LSH-bucketed form for
    * corpus scale), integer neighbor counts, and the min-label CC
    * fixpoint ([[GraphAnalytics.connectedComponentsDF]]) — so the
    * whole pipeline is engine-exact and full-SQL-oracle-able.
    *
    * @return (id, cluster, role) for every input point; noise gets
    *         cluster −1.
    */
  def dbscan(points: DataFrame, idCol: String, vecCol: String,
             minSim: Double, minPts: Int): DataFrame = {
    val pairs = Dedup.embedCosinePairs(points, idCol, vecCol, minSim)
      .localCheckpoint(true) // reused: counts, core edges, borders
    val sym = pairs.select(col("id1").as("id"), col("id2").as("nb"))
      .unionAll(pairs.select(col("id2").as("id"), col("id1").as("nb")))
    val core = sym.groupBy("id").agg(count(lit(1)).as("nnb"))
      .filter(col("nnb") + 1 >= minPts).select(col("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("id1")), "id1")
      .join(core.select(col("id").as("id2")), "id2")
      .select(col("id1").as("src"), col("id2").as("dst"))
    val cc = GraphAnalytics.connectedComponentsDF(coreEdges)
    val coreClusters = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
      .localCheckpoint(true) // reused: output + border assignment
    val borders = sym
      .join(coreClusters.select(col("id").as("nb"), col("cluster")), "nb")
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    val labeled = coreClusters.withColumn("role", lit("core"))
      .unionByName(borders.withColumn("role", lit("border")))
    points.select(col(idCol).as("id")).join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), lit(-1L)).as("cluster"),
        coalesce(col("role"), lit("noise")).as("role"))
      .orderBy("id")
  }

  /** Binary-quantization two-stage ANN (the RaBitQ/BQ retrieval shape;
    * e.g. Jégou et al.'s sign-bit baselines): stage 1 scans 1-bit
    * sign codes — 32× smaller than float32 — ranking by Hamming
    * distance (one XOR+popcount per 64 dims, codegen
    * [[graft.functions.expr.HammingDistExpr]]) into a per-query
    * `shortlist`; stage 2 hydrates ONLY the shortlist with exact
    * vectors (id-keyed equi join) and reranks by true cosine.
    *
    * Shortlist ranking is integer (hamming asc, id asc) and the final
    * ranking rounds sims to 4 decimals BEFORE the limit — both
    * fold-order-free, so the whole two-stage pipeline is full-SQL-
    * oracle-able (qX_bq_rerank replays signs → Hamming → shortlist →
    * exact rerank).
    *
    * 100 TB shape: the stage-1 scan reads d/8 BYTES per corpus row
    * (the I/O win that is the point of BQ) under a broadcast query
    * side with a bounded-heap top-`shortlist`; stage 2 touches
    * |queries|·shortlist rows, never the corpus. Compose with the IVF
    * cell index ([[ivfProbe]]) to make stage 1 sublinear as well.
    *
    * @return (qid, id, sim) — exact cosine of the reranked top-k,
    *         ranked (sim desc, id asc) per query.
    */
  def bqTopK(queries: DataFrame, corpus: DataFrame,
             qidCol: String, qvecCol: String,
             idCol: String, vecCol: String,
             shortlist: Int, k: Int): DataFrame = {
    import graft.functions.expr.VectorExprs.{hamming_dist, sign_pack}
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .withColumn("qcode", sign_pack(col("qvec")))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val codes = c.select(col("id"), sign_pack(col("vec")).as("code"))
    val short = TopK.grouped(
      broadcast(q.select(col("qid"), col("qcode")))
        .join(codes, col("qid") =!= col("id"))
        .withColumn("ham", hamming_dist(col("qcode"), col("code"))),
      Seq("qid"), struct(col("ham").as("h"), col("id").as("i")), shortlist)
      .select(col("qid"), col("best.i").as("id"))
    val rer = short.join(c, "id")
      .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    topKPerQuery(rer, k)
  }

  /** HOF twin of [[graft.functions.expr.SignPackExpr]] — the
    * executable spec of the bit-packing (equivalence locked in
    * VectorExprSpec). */
  private[graft] def signPackHof(v: Column): Column =
    transform(sequence(lit(0L), ((size(v) + lit(63)) / lit(64)).cast("long")
        - 1),
      w => aggregate(
        sequence(w * 64, least(w * 64 + 63, size(v).cast("long") - 1)),
        lit(0L),
        (acc, i) => acc.bitwiseOR(
          when(try_element_at(v, (i + 1).cast("int")) >= 0,
            call_function("shiftleft", lit(1L), (i % 64).cast("int")))
            .otherwise(lit(0L)))))

  /** HOF twin of [[graft.functions.expr.HammingDistExpr]]. */
  private[graft] def hammingHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** Deterministic "random" hyperplane component: md5-derived value in
    * [-0.5, 0.5) for (plane p, dimension d) — md5_32("hp:p:d") reduced
    * mod 2^20 over 2^20. The dyadic modulus makes every component
    * exactly representable in binary floating point, and md5 (instead
    * of xxhash64) makes the whole signature recomputable by the DuckDB
    * oracle — the same portability trade as [[Sampling.md5Bucket]].
    * The native expression precomputes the m×dim plane table once per
    * (m, dim), so this cost is per-plan, not per-row. */
  private def planeComponent(p: Column, d: Column): Column =
    (pmod(Sampling.md5Bucket(
        concat(lit("hp:"), p.cast("string"), lit(":"), d.cast("string"))),
      lit(1048576L)).cast("double") / 1048576.0) - 0.5

  /** m-bit sign-LSH signature of a vector column: bit p = sign of
    * <v, h_p> where h_p is the p-th pseudo-random hyperplane.
    * Narrow projection over the corpus — native codegen expression
    * ([[graft.functions.expr.SignLshExpr]]); [[randomHyperplaneLshHof]]
    * is its executable spec.
    */
  def randomHyperplaneLsh(vec: Column, m: Int): Column =
    graft.functions.expr.VectorExprs.sign_lsh(vec, m)

  /** Reference HOF formulation of [[randomHyperplaneLsh]] (test oracle). */
  def randomHyperplaneLshHof(vec: Column, m: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(m - 1)), p => {
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, d) => x.cast("double") * planeComponent(p, d)),
          lit(0.0), (a, x) => a + x)
        when(proj > 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (a, b) => a.bitwiseOR(b))

  /** ANN top-k via sign-LSH bucketing + exact re-rank of candidates.
    * Multi-probe: each query also probes buckets at Hamming distance 1
    * (flip each of the m bits) to recover near-boundary neighbors.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, qvecCol: String,
              idCol: String, vecCol: String,
              k: Int, m: Int = 12, multiProbe: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", randomHyperplaneLsh(col("vec"), m))
    val qsig = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .withColumn("sig", randomHyperplaneLsh(col("qvec"), m))
    val probes =
      if (!multiProbe) qsig.withColumn("bucket", col("sig"))
      else qsig.withColumn("bucket",
        explode(concat(array(col("sig")),
          transform(sequence(lit(0), lit(m - 1)),
            i => col("sig").bitwiseXOR(call_function("shiftleft", lit(1L), i))))))
    val cand = broadcast(probes.select(col("qid"), col("qvec"), col("bucket")))
      .join(c, Seq("bucket"))
      .filter(col("qid") =!= col("id"))
      .dropDuplicates("qid", "id")
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    topKPerQuery(cand, k)
  }

  /** IVF-style coarse quantization: assign every vector to the nearest
    * of `centroids` (a small broadcast list of (cid, vec)); search
    * probes only the `nprobe` nearest centroid cells. Centroid fitting
    * is out of scope here (any k-means produces the table); the engine
    * side is the cell-partitioned layout + pruned scan.
    */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val c = centroids.select(col("cid"), col("cvec"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("csim"), asc("cid"))
    // rank on rounded similarity: near-tie centroid distances must
    // resolve identically across engines (our sequential fold vs the
    // oracle's list_cosine_similarity differ in float fold order), so
    // the cell choice uses the same fixed-precision contract as the
    // final sim column. Known residual: a value straddling a rounding
    // boundary at ~1e-7 can still flip cells cross-engine; if the
    // oracle ever flakes here, coarsen the precision or switch the
    // check to top-k set equality rather than exact cell assignment.
    vecs.join(broadcast(c))
      .withColumn("csim", round(cosine(col(vecCol), col("cvec")), 6))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "csim", "cvec")
  }

  /** IVF-probed ANN top-k: assign the corpus to centroid cells once
    * ([[ivfAssign]]), rank cells per query, scan only the `nprobe`
    * nearest cells, exact cosine re-rank inside them. At scale the
    * assigned corpus is written partitioned by `cell`, so a query
    * touches nprobe partitions instead of the whole corpus; centroids
    * are a broadcast. Deterministic given the centroid table (any
    * k-means fit produces it — fitting is upstream of the engine), so
    * the whole operator is SQL-expressible and oracle-checked
    * (qX_ann_ivf), unlike the hash-based ANN paths.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              qidCol: String, qvecCol: String,
              idCol: String, vecCol: String,
              k: Int, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid").as("cell"))
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(desc("qcsim"), asc("cid"))
    val probes = q.join(broadcast(centroids.select(col("cid"), col("cvec"))))
      .withColumn("qcsim", round(cosine(col("qvec"), col("cvec")), 6))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid").as("cell"))
    val scored = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    topKPerQuery(scored, k)
  }

  /** Deterministic spherical k-means (Lloyd) over the embedding column
    * — the clustering behind SemDeDup-style semantic dedup (Abbas et
    * al. 2023: cluster, then drop near-identical members per cluster;
    * see [[semDeDup]]) and the upstream fit for [[ivfTopK]]'s centroid
    * table.
    *
    * Determinism replaces RNG everywhere:
    *  - init is farthest-first traversal (Gonzalez 1985) over a
    *    hash-sampled SEED POOL: the pool is the `seedPool` points with
    *    the smallest (xxhash64(id), id) — one TakeOrdered scan — and
    *    the traversal (first = lowest-id pool point; each next = the
    *    pool point with the smallest maximum cosine to the chosen set,
    *    ties by id) runs driver-side over the pool only. Init is 1
    *    scan + O(seedPool·k·dim) driver work, independent of corpus
    *    size. `seedPool = 0` selects the exact whole-corpus traversal
    *    (one scan PER seed — the small-k oracle form, quadratic in
    *    driver round-trips; fine for IVF cell counts, not for large k);
    *  - a candidate seed identical to an already-chosen centroid
    *    (max cosine rounded to 1.0) stops the traversal: fewer than k
    *    distinct directions in the data yield FEWER than k centroids,
    *    never duplicate ones;
    *  - assignment ties break to the lowest cluster index
    *    (array_position finds the FIRST maximum);
    *  - zero-norm vectors (cosine 0/0 = NaN) and null-poisoned rows
    *    score −1 against every centroid and land deterministically in
    *    cluster 0 rather than propagating NaN/NULL clusters; they are
    *    also EXCLUDED from seed candidacy (a −1-everywhere point is
    *    always "farthest" and would be re-picked k times, since its
    *    self-similarity is NaN, not the 1.0 the duplicate guard
    *    detects).
    *
    * Scale shape: centroids live in the PLAN as array literals (k·dim
    * floats — broadcast-by-construction); each Lloyd round is one scan
    * + one keyed shuffle of (cluster, dim, partial-sum) with map-side
    * partial aggregation, and only k·dim aggregated means return to the
    * driver. Fixed `iters`, no convergence test: deterministic cost,
    * and empty clusters keep their previous centroid.
    *
    * @return (assignments (id, cluster, sim — cosine to own centroid),
    *         centroids (cid, cvec) ready for [[ivfTopK]])
    */
  /** @param trainCap 0 = Lloyd rounds scan every vector (the exact,
    *   oracle-replayable gate form). At 100 TB pass a bound: the
    *   per-round mean statistics come from the `trainCap` rows with
    *   the lowest (xxhash64(id), id) — hash-spread, rerun-stable, the
    *   [[graft.operators.Pq.pqTrain]] rule — while the FINAL
    *   assignment pass stays full-corpus. Means are statistics, not
    *   per-row state: a uniform sample's centroids converge to the
    *   full fit, and trainCap ≥ n is exactly the full computation
    *   (SimilaritySpec pins it). */
  def kmeansFit(points: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int = 5,
                seedPool: Int = 256,
                trainCap: Int = 0): (DataFrame, DataFrame) = {
    require(k >= 2, "k-means needs k >= 2")
    val spark = points.sparkSession
    val pts = points.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint(true) // scanned per init pass + per round
    // training slice for the Lloyd statistics; sampled from pts (NOT
    // seedable) so trainCap >= n is bit-identical to the full fit even
    // when zero-norm rows exist (they weigh on cluster 0's mean)
    val train = if (trainCap > 0)
        pts.orderBy(xxhash64(col("id")), col("id")).limit(trainCap)
          .localCheckpoint(true)
      else pts
    // NaN/NULL-proof similarity: see determinism contract above
    def safeSim(v: Column, c: Column): Column =
      coalesce(nanvl(cosine(v, c), lit(-1.0)), lit(-1.0))
    def driverCos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i)
        sb += b(i).toDouble * b(i); i += 1 }
      val d = dot / (math.sqrt(sa) * math.sqrt(sb))
      if (d.isNaN) -1.0 else d
    }
    // identical-direction guard: 12-decimal round absorbs float noise
    // between the driver fold and the codegen fold
    def isDup(m: Double): Boolean = math.rint(m * 1e12) >= 1e12
    // zero-norm vectors must not be seed CANDIDATES: their similarity
    // to everything is -1 by the contract above, so farthest-first
    // would select one, and then — since cos(0⃗, 0⃗) is also -1, never
    // 1.0 — keep re-selecting it without ever tripping the duplicate
    // guard, shipping k copies of a meaningless centroid. They remain
    // assignable points (cluster 0).
    // zero-norm ⇔ NaN self-cosine; null-poisoned rows drop too (NULL
    // predicate). The native codegen cosine, not an interpreted HOF —
    // this filter rides the whole-corpus seed scan.
    val seedable = pts.filter(!isnan(cosine(col("vec"), col("vec"))))
    val cents = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    if (seedPool > 0) {
      // pool init: one scan, then farthest-first inside the pool
      val pool = seedable
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(seedPool)
        .orderBy(asc("id"))
        .collect().map(_.getSeq[Float](1).toArray)
      require(pool.nonEmpty, "k-means needs at least one non-zero vector")
      cents += pool.head
      var exhausted = false
      while (cents.size < k && !exhausted) {
        // smallest max-cosine to the chosen set; ties resolve to the
        // earliest (lowest-id) pool point via minBy's first-wins
        val (cand, m) = pool.iterator
          .map(p => (p, cents.iterator.map(c => driverCos(p, c)).max))
          .minBy(_._2)
        if (isDup(m)) exhausted = true else cents += cand
      }
    } else {
      // exact whole-corpus traversal (small-k oracle form)
      val first = seedable.orderBy(asc("id")).limit(1).collect()
      require(first.nonEmpty, "k-means needs at least one non-zero vector")
      cents += first.head.getSeq[Float](1).toArray
      var exhausted = false
      while (cents.size < k && !exhausted) {
        val msim = cents.map(c => safeSim(col("vec"), typedLit(c.toSeq)))
          .reduce((a, b) => greatest(a, b))
        val far = seedable.withColumn("m", msim)
          .orderBy(asc("m"), asc("id")).limit(1).head
        if (isDup(far.getDouble(2))) exhausted = true
        else cents += far.getSeq[Float](1).toArray
      }
    }
    var centroids: IndexedSeq[Array[Float]] = cents.toIndexedSeq
    def withCluster(df: DataFrame): DataFrame = {
      val sims = array(centroids.map(c =>
        safeSim(col("vec"), typedLit(c.toSeq))): _*)
      df.withColumn("_sims", sims)
        .withColumn("cluster",
          (array_position(col("_sims"), array_max(col("_sims"))) - 1).cast("int"))
    }
    for (_ <- 1 to iters) {
      val stats = withCluster(train)
        .select(col("cluster"), posexplode(col("vec")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = stats.groupBy(_.getInt(0))
      centroids = centroids.indices.map { j =>
        byCluster.get(j).map { rows =>
          rows.sortBy(_.getInt(1))
            .map(r => (r.getDouble(2) / r.getLong(3)).toFloat).toArray
        }.getOrElse(centroids(j)) // empty cluster keeps its previous mean
      }
    }
    val assigned = withCluster(pts)
      .select(col("id"), col("cluster"),
        round(array_max(col("_sims")), 4).as("sim"))
    import spark.implicits._
    val centDF = centroids.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
    (assigned, centDF)
  }

  /** SemDeDup (Abbas et al. 2023): fit spherical k-means, then inside
    * each cluster drop every point that has a near-identical neighbor
    * (cosine ≥ `threshold`) with a SMALLER id — the canonical survivor
    * of a duplicate family is its lowest id, matching the exact-dedup
    * convention. The pairwise pass is [[Blocks.pairs]] with the cluster
    * as the block key — the whole point of clustering first: candidate
    * pairs are |cluster|² per cell, not |corpus|² (salt any
    * mega-cluster if a corpus degenerates into one cell).
    *
    * @return (survivors (id, cluster), centroids (cid, cvec)) — the
    *         centroid table is [[ivfTopK]]-ready, so the same fit that
    *         deduped the corpus serves its ANN index.
    */
  def semDeDup(points: DataFrame, idCol: String, vecCol: String,
               k: Int, threshold: Double, iters: Int = 3,
               seedPool: Int = 256): (DataFrame, DataFrame) = {
    val (assigned, centroids) =
      kmeansFit(points, idCol, vecCol, k, iters, seedPool)
    val withVec = points
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(assigned.select(col("id"), col("cluster")), "id")
    val dropped = Blocks.pairs(withVec, Seq("cluster"), "id", Seq("vec"))
      .filter(round(cosine(col("a_vec"), col("b_vec")), 4) >= threshold)
      .select(col("b_id").as("id"))
      .distinct()
    val survivors = withVec.select(col("id"), col("cluster"))
      .join(dropped, Seq("id"), "left_anti")
    (survivors, centroids)
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) —
    * diversity-aware selection: greedily pick `k` items per query
    * maximizing `λ·sim(item, query) − (1−λ)·max_{s ∈ picked}
    * sim(item, s)`, the standard redundancy-penalized re-rank (and, as
    * a data-curation primitive, diverse-subset selection: pick
    * training examples near a target distribution but far from each
    * other).
    *
    * Exactness across engines: all sims round to 4 decimals FIRST;
    * each step's objective is one multiply-subtract of those rounded
    * doubles (no accumulation, so no fold-order sensitivity — the
    * qG5 rounding argument), ties break id asc; the DuckDB oracle
    * replays the `k` rounds as unrolled CTEs.
    *
    * Plan shape: one [[bruteForceTopK]]-style scan bounds each query
    * to its `nCand` best candidates (checkpointed — nQ·nCand rows);
    * the candidate–candidate sims are |nCand|² PER QUERY (the
    * documented MMR cost — nCand is a re-rank window, 10–100, never
    * the corpus); each greedy round is then one keyed join + one
    * bounded-heap argmax over the small candidate table, `k` rounds
    * total, all driver state O(1).
    *
    * @return (qid, step, id, mmr) — the picked item per greedy step
    *         (1-based), `mmr` its objective value at pick time.
    */
  def mmr(queries: DataFrame, corpus: DataFrame,
          qidCol: String, qvecCol: String, idCol: String, vecCol: String,
          nCand: Int, k: Int, lambda: Double = 0.5): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val scored = broadcast(q).join(c, col("qid") =!= col("id"))
      .withColumn("simq", round(cosine(col("qvec"), col("vec")), 4))
    val cand = TopK.grouped(scored, Seq("qid"),
        struct((-col("simq")).as("ns"), col("id").as("i"), col("vec").as("v")),
        nCand)
      .select(col("qid"), col("best.i").as("id"), (-col("best.ns")).as("simq"),
        col("best.v").as("vec"))
    mmrFromCandidates(cand, k, lambda)
  }

  /** [[mmr]] with candidates sourced from the IVF index instead of a
    * corpus scan — the 100 TB path. [[ivfTopK]] bounds each query's
    * candidate generation to its `nprobe` nearest cells (the cell
    * equi-join on a cell-partitioned corpus; never a corpus-wide
    * nested loop), then the candidate vectors hydrate through one
    * broadcast equi-join on id (nQ·nCand rows — re-rank-window sized)
    * and the greedy rounds run unchanged on the small candidate table.
    *
    * `nprobe = #cells` makes the candidate set EXACTLY [[mmr]]'s
    * brute-force top-nCand (same rounded sims, same id tiebreak), so
    * indexed ≡ brute is spec-pinned at full probe; smaller nprobe
    * trades recall for scan cost, the standard IVF dial. The same
    * shape works over byte codes: source ids from [[Pq.ivfPqTopK]]
    * and hand the hydrated frame to [[mmrFromCandidates]] (ADC
    * ranking makes the candidate SET approximate, so that variant has
    * no exact-equivalence contract).
    */
  def mmrIndexed(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                 qidCol: String, qvecCol: String,
                 idCol: String, vecCol: String,
                 nCand: Int, k: Int, lambda: Double = 0.5,
                 nprobe: Int = 8): DataFrame =
    mmrFromCandidates(
      mmrIndexedCandidates(queries, corpus, centroids, qidCol, qvecCol,
        idCol, vecCol, nCand, nprobe),
      k, lambda)

  /** [[mmrIndexed]]'s candidate generation, factored for the plan
    * guard: IVF probe + vector hydration, no corpus-wide nested loop
    * (the only cross joins are the two centroid-bounded ones every
    * IVF plan carries — query probe ranking and corpus cell assign). */
  private[graft] def mmrIndexedCandidates(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      qidCol: String, qvecCol: String, idCol: String, vecCol: String,
      nCand: Int, nprobe: Int): DataFrame = {
    val hits = ivfTopK(queries, corpus, centroids, qidCol, qvecCol,
      idCol, vecCol, nCand, nprobe)
    broadcast(hits.select(col("qid"), col("id"), col("sim").as("simq")))
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), Seq("id"))
      .select(col("qid"), col("id"), col("simq"), col("vec"))
  }

  /** The MMR greedy rounds over a caller-provided candidate frame
    * `(qid, id, simq, vec)` — any top-k retriever output hydrated
    * with its vectors ([[bruteForceTopK]], [[ivfTopK]],
    * [[Pq.ivfPqTopK]], a hybrid fusion). Candidate count per query is
    * the re-rank window (10–100): the pair table is |cand|² PER QUERY,
    * each of the `k` rounds one keyed join + bounded-heap argmax,
    * driver state O(1). */
  def mmrFromCandidates(cand0: DataFrame, k: Int,
                        lambda: Double = 0.5): DataFrame = {
    val cand = cand0.select(col("qid"), col("id"), col("simq"), col("vec"))
      .localCheckpoint(true)
    val pairs = cand.select(col("qid"), col("id").as("a"), col("vec").as("va"))
      .join(cand.select(col("qid"), col("id").as("b"), col("vec").as("vb")),
        Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 4).as("simp"))
      .localCheckpoint(true)
    var selected = cand.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          cand.schema("qid").dataType),
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("id",
          cand.schema("id").dataType),
        org.apache.spark.sql.types.StructField("mmr",
          org.apache.spark.sql.types.DoubleType))))
    for (j <- 1 to k) {
      val rem = cand.join(selected.select("qid", "id"), Seq("qid", "id"),
        "left_anti")
      val ms = pairs
        .join(selected.select(col("qid"), col("id").as("b")), Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("id"))
        .agg(max(col("simp")).as("ms"))
      val objective = rem.join(ms, Seq("qid", "id"), "left")
        .withColumn("mmr",
          round(lit(lambda) * col("simq")
            - lit(1.0 - lambda) * coalesce(col("ms"), lit(0.0)), 4))
      val pick = TopK.grouped(objective, Seq("qid"),
          struct((-col("mmr")).as("ns"), col("id").as("i")), 1)
        .select(col("qid"), lit(j).as("step"), col("best.i").as("id"),
          (-col("best.ns")).as("mmr"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected.orderBy(col("qid"), col("step"))
  }

  /** Intra-list diversity of recommendation lists (Ziegler et al.
    * 2005's ILD) — the metric [[mmr]] optimizes, measured: average
    * pairwise cosine DISTANCE within each query's returned list. The
    * pairwise stage is k-bounded per query (k² pairs of an
    * already-truncated list, never corpus²); per-pair distances
    * quantize to micros from the 4-decimal-rounded cosine (exact ×1e6
    * in double) BEFORE the per-query fold.
    *
    * @param recs (qidCol, idCol) — a top-k run per query.
    * @return (qid, n_pairs, ild_micros) ordered by qid.
    */
  def intraListDiversity(recs: DataFrame, emb: DataFrame, qidCol: String,
                         idCol: String, embIdCol: String,
                         vecCol: String): DataFrame = {
    val r = recs.select(col(qidCol).as("qid"), col(idCol).as("id"))
      .join(emb.select(col(embIdCol).as("id"), col(vecCol).as("v")), "id")
      .localCheckpoint(true) // both sides of the k-bounded pair join
    Blocks.pairs(r, Seq("qid"), "id", Seq("v"))
      .select(col("a_qid").as("qid"),
        round(lit(1e6) * (lit(1.0) - round(cosine(col("a_v"), col("b_v")), 4)))
          .cast("long").as("d"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum(col("d")).cast("double") / count(lit(1))).cast("long")
          .as("ild_micros"))
      .orderBy(col("qid"))
  }

  /** Simplified silhouette (Hruschka et al. 2004 — the O(n·k)
    * centroid form of Rousseeuw 1987's O(n²) silhouette) — cluster
    * quality per cluster: for each point, `a` = cosine distance to
    * its OWN centroid, `b` = distance to the nearest OTHER centroid,
    * `s = (b − a)/max(a, b)` ∈ [−1, 1] (negative = probably
    * mis-assigned). Centroids broadcast; per-point scores quantize to
    * micros from 6-decimal-rounded cosines BEFORE the per-cluster
    * fold (order-free).
    *
    * @param assigned (idCol, vecCol, cellCol) from [[ivfAssign]] /
    *                 [[kmeansFit]] assignment.
    * @return (cell, n, mean_sil_micros) per cluster, ordered.
    */
  def silhouetteSimplified(assigned: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String,
                           cellCol: String): DataFrame = {
    val c = broadcast(centroids.select(col("cid"), col("cvec")))
    val d = assigned.select(col(idCol).as("id"), col(vecCol).as("v"),
        col(cellCol).as("cell"))
      .join(c)
      .withColumn("dist",
        lit(1.0) - round(cosine(col("v"), col("cvec")), 6))
      .groupBy(col("id"), col("cell"))
      .agg(min(when(col("cid") === col("cell"), col("dist"))).as("a"),
        min(when(col("cid") =!= col("cell"), col("dist"))).as("b"))
    d.select(col("cell"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0L))
          .otherwise(round(lit(1e6) * (col("b") - col("a"))
            / greatest(col("a"), col("b"))).cast("long")).as("s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        floor(sum(col("s")).cast("double") / count(lit(1))).cast("long")
          .as("mean_sil_micros"))
      .orderBy(col("cell"))
  }

  /** IVF index-health report: the cell-size balance of an
    * [[ivfAssign]]ment — a skewed inverted file serves skewed probe
    * latencies (one hot cell = one hot partition), so production ANN
    * deployments watch exactly this: per-cell sizes, the max/mean
    * imbalance factor, and the size-distribution entropy via the
    * exact-quantized identity H = ln n − Σ c·round(1e6·ln c)/n (the
    * X217 convention — order-free BIGINT fold, one IEEE ln per cell
    * of the B-row size table).
    *
    * @return one row (k_cells, n, min_cell, max_cell,
    *         imbalance_micros, entropy_micros).
    */
  def ivfBalance(assigned: DataFrame, cellCol: String): DataFrame = {
    val sizes = assigned.groupBy(col(cellCol).as("cell"))
      .agg(count(lit(1)).as("c"))
    sizes.agg(count(lit(1)).as("k_cells"), sum(col("c")).as("n"),
        min(col("c")).as("min_cell"), max(col("c")).as("max_cell"),
        sum(col("c") * round(lit(1e6) * log(col("c").cast("double")))
          .cast("long")).as("slnc"))
      .select(col("k_cells"), col("n"), col("min_cell"), col("max_cell"),
        floor(lit(1e6) * col("max_cell").cast("double") * col("k_cells")
          / col("n")).cast("long").as("imbalance_micros"),
        floor(lit(1e6) * log(col("n").cast("double"))
          - col("slnc").cast("double") / col("n")).cast("long")
          .as("entropy_micros"))
  }

  /** Embedding-norm health report — the first thing to check when a
    * similarity index misbehaves (an encoder change or a bad batch
    * shows up as a norm-distribution shift long before recall moves;
    * unnormalized rows break cosine-vs-dot assumptions): per row the
    * L2 norm from EXACT integer per-dim squares (elements quantize to
    * micros, the squared sum is a long, one correctly-rounded sqrt —
    * the centroid-drift convention, no float fold order anywhere),
    * then count/dim-range/mean and exact rank-SELECTED p50/p90/p99
    * over [[Packing.globalRank]] — never a corpus-wide window.
    *
    * @return one row (n, min_dim, max_dim, mean_micros, p50_micros,
    *         p90_micros, p99_micros).
    */
  def normStats(emb: DataFrame, idCol: String,
                vecCol: String): DataFrame = {
    val norms = emb
      .select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("id"),
        round(col("x").cast("double") * lit(1e6)).cast("long").as("q"))
      .groupBy(col("id"))
      .agg(sum(col("q") * col("q")).as("s2"), count(lit(1)).as("dim"))
      .select(col("id"), col("dim"),
        floor(sqrt(col("s2").cast("double"))).cast("long").as("v"))
      .localCheckpoint(true) // scalar fold AND rank both read it
    val (ranked, n) = Packing.globalRank(
      norms.select(col("v"), col("id").as("tie")), Seq("v", "tie"))
    val (i50, i90, i99) =
      ((n + 1) / 2, (9 * n + 9) / 10, (99 * n + 99) / 100)
    val picks = ranked
      .filter(col("_grank").isin(i50, i90, i99))
      .agg(max(when(col("_grank") === i50, col("v"))).as("p50_micros"),
        max(when(col("_grank") === i90, col("v"))).as("p90_micros"),
        max(when(col("_grank") === i99, col("v"))).as("p99_micros"))
    norms.agg(count(lit(1)).as("n"), min(col("dim")).as("min_dim"),
        max(col("dim")).as("max_dim"), sum(col("v")).as("s"))
      .crossJoin(picks)
      .select(col("n"), col("min_dim"), col("max_dim"),
        floor(col("s").cast("double") / col("n")).cast("long")
          .as("mean_micros"),
        col("p50_micros"), col("p90_micros"), col("p99_micros"))
  }
}
