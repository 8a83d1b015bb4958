package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guards (the 100 TB posture, asserted): predicate and
  * projection pushdown reach the parquet scan, small dims broadcast,
  * top-k plans as TakeOrderedAndProject, scalar pipelines stay inside
  * WholeStageCodegen. These are regression tests for plan shape — if a
  * future change silently turns a broadcast join into a shuffle join or
  * loses a pushed filter, this suite fails before the benchmark does.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString()
  }

  test("qA1: filter and projection are pushed into the parquet scan") {
    val p = plan("qA1_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [IsNotNull(l_discount)"), p.take(2000))
    // pruned read schema: only the 6 referenced columns, not all 11
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_tax"), "unreferenced column must be pruned from scan")
  }

  test("qC1/qC8: dimension sides are broadcast, not shuffled") {
    assert(plan("qC1_point_join").contains("BroadcastHashJoin"))
    val p8 = plan("qC8_hydrate_join")
    assert(p8.contains("BroadcastHashJoin"))
    assert(!p8.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("qE2: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("qE2_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("\nSort "), "no full sort for a limit query")
  }

  test("scalar pipelines run inside WholeStageCodegen") {
    // '*(n)' node prefix marks a WholeStageCodegen stage in toString.
    // Note: higher-order array functions (`transform`, `filter`, ... —
    // a `lambdafunction` in the plan) are CodegenFallback by design in
    // Spark and run interpreted; `tokenize` is built from native array
    // functions for that reason (see the qG7 test below).
    for (q <- Seq("qB8_md5_8", "qB9_content_id", "qB10_ts_format"))
      assert(plan(q).contains("*(1)"), s"$q lost codegen")
  }

  test("PYMK: adjacency joins are hash joins keyed on vertex id") {
    val p = plan("qD1_pymk")
    assert(p.contains("HashJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
    // bag semantics: no Distinct/Aggregate between the two hop joins —
    // the only aggregate is the final path-count groupBy
    assert(p.contains("TakeOrderedAndProject"), "final top-k must be TopK")
  }

  test("search scoring: per-term DF table broadcasts into the tf join") {
    val p = plan("qG1_search_tfidf")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("lr quality scoring: B-row model broadcasts into the feature scan") {
    // the qX_lr_score GATE now reads the shared LrFixture parquet (a
    // plain scan); the broadcast property belongs to the scoring
    // operator itself, so pin it on QualityLr.score directly
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val train = docs.filter(col("doc_id") >= 200)
      .withColumn("y", (col("doc_id") < 350).cast("int"))
    val model = graft.operators.QualityLr.train(train, "doc_id", "text",
      "y", buckets = 64, iters = 1, lr = 1.0)
    val p = graft.operators.QualityLr.score(
        docs.filter(col("doc_id") < 200), "doc_id", "text", model,
        buckets = 64)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("as-of join: one shuffle above the union, no range-join pair blowup") {
    val p = plan("qX_asof_join")
    // the union-and-carry-forward plan: no nested-loop / cartesian node
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the carry-forward runs as a window over the key partition
    assert(p.contains("Window"), p.take(3000))
    // the OPERATOR itself (everything above the Union of the two sides)
    // shuffles exactly once — the key hashpartitioning feeding the
    // window; the gate query's right-side pre-aggregation below the
    // Union has its own shuffle and is query prep, not the operator
    val op = p.substring(0, p.indexOf("Union"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(op).size
    assert(exchanges == 1, s"as-of operator must shuffle once, saw $exchanges:\n" +
      p.take(3000))
  }

  test("qA3: framed emit is a pure projection + one keyed exchange") {
    val p = plan("qA3_framing")
    // no aggregation/join anywhere in the emit path; the only shuffles
    // are the shard-key repartition and the deterministic output sort
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning(partition_key"), p.take(2000))
  }

  test("pagerank-df iteration step: keyed aggregate with partial (map-side) sums") {
    import org.apache.spark.sql.functions._
    val edges = graft.queries.GraphQueries.derivedEdges(
      Tables.load(spark, dir, "events"))
    val e = edges.select(col("src"), col("dst"))
    val contribs = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    val step = graft.operators.GraphAnalytics.prStep(contribs, verts,
      verts.withColumn("rank", lit(1.0)), col("rank") / col("outdeg"),
      lit(1.0 - 0.85), 0.85)
    val p = step.queryExecution.executedPlan.toString()
    // hub-skew absorber: the per-dst reduce must map-side combine
    // (partial_sum) before its exchange, not ship raw contribution rows
    assert(p.contains("partial_sum"), p.take(4000))
  }

  test("bloom join: might_contain prunes BELOW the semi join (pre-shuffle)") {
    val p = plan("qX_bloom_join")
    val mc = p.indexOf("might_contain")
    assert(mc >= 0, "bloom predicate missing:\n" + p.take(2000))
    // the pruning filter must sit under the closing semi join, i.e.
    // the join node appears before the filter in top-down plan order
    val join = p.indexOf("LeftSemi")
    assert(join >= 0 && join < mc,
      "might_contain must be below the semi join (prune before shuffle)")
  }

  test("grouped top-k (CollectTopK) plans as aggregate with partial heaps, no Window") {
    val p = plan("qX_topk_grouped")
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.contains("partial_collect_top_k") || p.contains("collect_top_k"),
      p.take(2000))
    assert(!p.contains("Window"), "grouped top-k must not window-sort")
  }

  test("skip-gram pairs: walk self-join is a hash join on walk_id, no cartesian") {
    val p = plan("qX_walk_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "window filter must ride the walk_id equi-join, not a cross product:\n" +
        p.take(3000))
    assert(p.contains("HashJoin"), p.take(3000))
    // pair counting aggregates with map-side partials before the
    // (center, context) exchange
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("multi-field bm25: one row-local scoring scan into a top-k, no join or shuffle") {
    // the statistics pass ran while the frame was built; what is left
    // scores each row with constant idf/avgdl and keeps the top-k
    val p = plan("qG7_search_bm25_multi")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    for (banned <- Seq("Join", "hashpartitioning", "CartesianProduct", "lambdafunction"))
      assert(!p.contains(banned), s"$banned in:\n" + p.take(3000))
  }

  test("semdedup: near-dup pass joins inside clusters, never cross-product") {
    val p = plan("qX_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair mining must be keyed by cluster:\n" + p.take(3000))
    // survivor filter is an anti join (dropped ids), not a subtract scan
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("walk subsampling: keep-probability table broadcasts; corpus not shuffled") {
    val p = plan("qX_walk_subsample")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the |V|-row keep table must broadcast, not shuffle the corpus:\n" +
        p.take(3000))
  }

  test("bucketed tables co-locate the fact-fact join: no shuffle on either side") {
    import org.apache.spark.sql.functions._
    // the 100 TB pattern: write both fact tables bucketed by the join
    // key once, and every subsequent equi-join on that key is
    // exchange-free (bucket-local sort-merge) — the declarative twin
    // of manual co-partitioning
    val wh = java.nio.file.Files.createTempDirectory("bucket_wh").toString
    // force the shuffle-join path (at real scale neither fact side
    // broadcasts) so the assertion exercises bucket alignment
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Tables.load(spark, dir, "orders")
      val l = Tables.load(spark, dir, "lineitem")
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
      l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("qty"))
      val p = joined.queryExecution.executedPlan.toString()
      // the only allowed exchange is the one ABOVE the join for the final
      // groupBy — below the join both scans must feed it bucket-aligned
      assert(p.contains("SortMergeJoin"), p.take(3000))
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange"),
        "bucketed join must not shuffle either side:\n" + joinSection.take(3000))
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("pq: encode is narrow and the ADC pipeline shuffles once (the top-k fold)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = (0 until 4).map(sub =>
        emb.filter(col("vec_id") < 16)
          .select(lit(sub).as("sub"), col("vec_id").cast("int").as("cid"),
            slice(col("embedding"), sub * 16 + 1, 16).as("cvec")))
      .reduce(_.unionAll(_))
    // encode: codebook lives in the plan as literals — no join, no
    // exchange, the whole index build is a narrow scan
    val pEnc = graft.operators.Pq.pqEncode(emb, cb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString()
    assert(!pEnc.contains("Exchange"), "pqEncode must not shuffle:\n" + pEnc.take(2000))
    assert(!pEnc.contains("Join"), "pqEncode must not join:\n" + pEnc.take(2000))
    // ADC top-k: queries broadcast (the probe shape), candidates fold
    // through partial heaps — the only hash exchange is the per-query
    // top-k aggregate, and nothing sort-merges
    val p = plan("qX_pq")
    assert(p.contains("collect_top_k"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"PQ pipeline must hash-shuffle once (top-k), saw $exchanges:\n" + p.take(3000))
  }

  test("ivf-pq: every join broadcasts (centroid probe, cell prune), no sort-merge, heap top-k") {
    val p = plan("qX_ivfpq")
    assert(p.contains("collect_top_k"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("range join: binned equi-join, never a nested-loop pair blowup") {
    for (q <- Seq("qX_range_join", "qX_interval_overlap")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loops:\n" + p.take(3000))
      assert(!p.contains("CartesianProduct"), s"$q cartesians:\n" + p.take(3000))
      assert(p.contains("Generate explode"), s"$q missing bin explode:\n" + p.take(3000))
    }
  }

  test("lm scoring: model join is keyed; the only nested-loop is the 1-row vocab scalar") {
    val p = plan("qX_lm_score")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the vocab-scalar cross join, saw $bnlj:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("mmrIndexed candidates: cell-pruned hash joins, no corpus-wide nested loop") {
    val emb = Tables.load(spark, dir, "embeddings")
    val (_, cents) = graft.operators.Similarity
      .kmeansFit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val p = graft.operators.Similarity
      .mmrIndexedCandidates(emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
        emb, cents, "vec_id", "embedding", "vec_id", "embedding",
        nCand = 10, nprobe = 2)
      .queryExecution.executedPlan.toString()
    // the only cross joins are the two centroid-bounded ones every IVF
    // plan carries (query probe ranking, corpus cell assignment) — the
    // corpus itself is reached through cell/id equi-joins
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"corpus-wide nested loop crept in ($bnlj):\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dsir weights: bucket histograms broadcast into the feature scan, no sort-merge") {
    val p = plan("qX_dsir_weights")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("chunking is one narrow scan: no exchange anywhere in the plan") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.operators.TextAnalysis
      .chunkDocuments(docs, "doc_id", "text", 32, 24)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), "chunking must not shuffle:\n" + p.take(2000))
  }

  test("phrase + fuzzy search: query-side tables broadcast into the postings") {
    val docs = Tables.load(spark, dir, "documents")
    val pPhrase = graft.operators.SearchIndex
      .phraseSearch(docs, "doc_id", "text", "table hash", 10)
      .queryExecution.executedPlan.toString()
    // the (term, offset) frame joins broadcast — the corpus-side
    // postings are never shuffled for the join
    assert(pPhrase.contains("BroadcastHashJoin"), pPhrase.take(3000))
    val pFuzzy = graft.operators.SearchIndex
      .fuzzySearch(docs, "doc_id", "text", "tabel", 2, 10)
      .queryExecution.executedPlan.toString()
    assert(pFuzzy.contains("BroadcastHashJoin"), pFuzzy.take(3000))
  }

  test("bpe encode fuses into WholeStageCodegen (addReferenceObj, no fallback)") {
    val docs = Tables.load(spark, dir, "documents")
    val p = docs.select(graft.operators.Bpe.encode(
        org.apache.spark.sql.functions.col("text"),
        Seq(("a", "b"), ("ab", "c"))).as("pieces"))
      .queryExecution.executedPlan.toString()
    assert(p.contains("*(1)"), "bpe_encode lost codegen:\n" + p.take(2000))
  }

  test("link prediction: wedge join keyed on the middle vertex, no cartesian") {
    val edges = graft.queries.GraphQueries.derivedEdges(
      Tables.load(spark, dir, "events"))
    val p = graft.operators.GraphAnalytics.linkPredictScores(edges)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("c4Clean and parseUrl are pure narrow scans: no exchange, codegen") {
    val docs = Tables.load(spark, dir, "documents")
    val pC4 = graft.operators.TextAnalysis.c4Clean(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString()
    assert(!pC4.contains("Exchange"), "c4Clean must not shuffle:\n" + pC4.take(2000))
    val pUrl = docs.select(graft.operators.UrlOps.parseUrl(
        org.apache.spark.sql.functions.col("text")).as("u"))
      .queryExecution.executedPlan.toString()
    assert(!pUrl.contains("Exchange"), "parseUrl must not shuffle:\n" + pUrl.take(2000))
    assert(pUrl.contains("*(1)"), "parseUrl lost codegen:\n" + pUrl.take(2000))
  }

  test("domain curation: blocklist is a broadcast anti join") {
    val docs = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://a.b"),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(".com/x")).as("url"))
    val p = graft.operators.UrlOps.curateByDomain(docs, "doc_id", "url",
        blockedDomains = Seq("bad.com"), maxPerDomain = 0)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(3000))
  }

  test("fuzzy join: banded equi-join, no cartesian; stream join no nested loop") {
    val docs = Tables.load(spark, dir, "documents")
    val pFj = graft.operators.Dedup.fuzzyJoin(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 50),
        "doc_id", "text",
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 50),
        "doc_id", "text", n = 2)
      .queryExecution.executedPlan.toString()
    assert(!pFj.contains("CartesianProduct") &&
      !pFj.contains("BroadcastNestedLoop"), pFj.take(3000))
    val ev = Tables.load(spark, dir, "events")
    val pSj = graft.streaming.CardStream.streamIntervalJoin(
        ev.select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("ts")),
        ev.select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("ts")),
        "user_id", "ts", "ts")
      .queryExecution.executedPlan.toString()
    // equi-key + interval predicate: must plan as a keyed join, never
    // a nested loop over the cross product
    assert(!pSj.contains("CartesianProduct") &&
      !pSj.contains("BroadcastNestedLoop"), pSj.take(3000))
  }

  test("image dedup + hub cap: banded equi-joins, no cartesian, heap cap") {
    import org.apache.spark.sql.functions.col
    // dHash banding must stay a chunk-keyed equi self-join
    val hashed = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.functions.expr.TextExprs.simhash64(col("text")).as("sh"))
    val pBand = graft.operators.Dedup.hammingBandPairs(hashed, 3)
      .queryExecution.executedPlan.toString()
    assert(!pBand.contains("CartesianProduct") &&
      !pBand.contains("BroadcastNestedLoop"), pBand.take(3000))
    // the hub-capped wedge family: neighbor cap plans as the bounded-
    // heap grouped top-k (ObjectHashAggregate of the topk buffer, the
    // TopK.grouped signature), never a per-key window sort; wedge join
    // stays keyed
    val ev = Tables.load(spark, dir, "events")
    val edges = graft.queries.GraphQueries.derivedEdges(ev)
    val pCap = graft.operators.GraphAnalytics
      .linkPredictScores(edges, maxDegree = 8)
      .queryExecution.executedPlan.toString()
    assert(!pCap.contains("CartesianProduct") &&
      !pCap.contains("BroadcastNestedLoop"), pCap.take(3000))
    assert(!pCap.contains("RunningWindowFunction") &&
      !pCap.contains("Window"), "cap must be the bounded heap, not a window sort")
    // k-truss peels via the degree-ORIENTED triangle enumeration, not
    // the both-endpoint wedge join: the support round's plan carries
    // the orientation key column, stays keyed (no cartesian/NLJ), and
    // closes triangles with the oriented semi join
    val canon = edges
      .filter(org.apache.spark.sql.functions.col("src") =!=
        org.apache.spark.sql.functions.col("dst"))
      .select(org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("u"),
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("v"))
      .distinct()
    val pTruss = graft.operators.GraphAnalytics
      .kTrussSupport(canon, Int.MaxValue)
      .queryExecution.executedPlan.toString()
    assert(!pTruss.contains("CartesianProduct") &&
      !pTruss.contains("BroadcastNestedLoop"), pTruss.take(3000))
    assert(pTruss.contains("hikey"),
      "k-truss must enumerate wedges on the oriented out-lists")
    assert(pTruss.contains("LeftSemi"),
      "triangle closure must be the oriented semi join")
  }

  test("c4 sampled twin: wedge sides are the capped heap sample, no cartesian") {
    val p = plan("qX_c4_sampled")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(3000))
    // the per-middle md5 cap must plan as the bounded-heap aggregate —
    // if a change reroutes capNeighbors through a Window rank, every
    // hub pays a deg-sized sort buffer again
    assert(p.contains("partial_collect_top_k") || p.contains("collect_top_k"),
      "wedge sides must enumerate the capNeighbors heap sample:\n" + p.take(2000))
    assert(!p.contains("Window"), "no window rank in the sampling path")
  }

  test("trailing window features: one exchange, range frame, no self-join") {
    val ev = Tables.load(spark, dir, "events")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("value"))
    val p = graft.operators.Features.trailingWindow(ev, "user_id", "ts",
        "value", 3600L * 1000000L)
      .queryExecution.executedPlan.toString()
    assert(p.split("Exchange").length == 2,
      "trailing window must shuffle exactly once:\n" + p.take(3000))
    assert(!p.contains("Join"), "must be a window, not a self-join")
  }

  test("batch search + rrf: term-keyed joins with broadcast idf, heap top-k, no cartesian") {
    val p = plan("qX_batch_search")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // idf is per-term (tiny) and must broadcast into the postings probe
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // final per-qid top-k is the bounded-heap aggregate, not a window sort
    assert(p.contains("collect_top_k") || p.contains("CollectTopK"),
      p.take(3000))
    val pf = plan("qX_rrf_hybrid")
    assert(!pf.contains("CartesianProduct"), pf.take(3000))
    assert(pf.contains("collect_top_k") || pf.contains("CollectTopK"),
      pf.take(3000))
  }

  test("auc: corpus collapses via partial aggregation before the global window") {
    val p = plan("qX_auc")
    // the groupBy(score) must have a map-side partial phase — the
    // single-partition window then sees only the distinct-score table
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("pmi: marginals broadcast, one 1-row total nested loop, no self-join") {
    // the checkpointed pair-count table hides the extraction stage from
    // this plan (it scans the materialized RDD); the extraction's
    // narrow-HOF shape is pinned by the window-bound golden test — here
    // we guard the scoring joins
    val p = plan("qX_pmi")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "marginal joins must broadcast:\n" + p.take(3000))
    val bnlj = p.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row total may nested-loop ($bnlj):\n" +
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("modularity: three keyed folds over the edge list, no cartesian pair blowup") {
    val ev = Tables.load(spark, dir, "events")
    val edges = graft.queries.GraphQueries.derivedEdges(ev)
    val comms = edges.select(org.apache.spark.sql.functions.col("src")
        .as("id"))
      .distinct()
      .withColumn("lbl", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(4L)))
    val p = graft.operators.GraphAnalytics.modularity(edges, comms)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the only nested-loop allowed is the 1-row m-scalar attachment
    val bnlj = p.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 2, s"unexpected nested loops ($bnlj):\n" + p.take(3000))
  }

  test("bleu: pair-keyed clip with map-side partials, 1-row barriers only") {
    val p = plan("qX_bleu")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "no corpus-wide gram join allowed:\n" + p.take(3000))
    // clip groupBy must combine map-side before the shuffle
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(3000))
    // the only nested loop is the 1-row lens × matches cross
    val bnlj = p.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row cross may nested-loop ($bnlj)")
  }

  test("constraints: one fold scan + one grouped scan per Uniqueness, no joins") {
    val p = plan("qX_constraints")
    // the 4 foldable checks share ONE scan; the single true-uniqueness
    // check (doc_id) adds exactly one grouped pass — never per-check jobs
    assert(p.split("Scan parquet").length - 1 == 2,
      "constraint suite must fold into 1 + #uniqueness scans:\n" + p.take(3000))
    assert(!p.contains("Join"), "no joins in a constraint validation")
  }

  test("cms join-size: sketch-keyed join, no cartesian, map-side partials") {
    val p = plan("qX_cms_join_size")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "sketch build needs map-side combine:\n" + p.take(3000))
  }

  test("kneser-ney: model-bounded sides; 1-row scalar broadcast only") {
    val p = plan("qX_lm_kn")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val bnlj = p.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the (T,V) scalar may nested-loop ($bnlj)")
  }

  test("bq two-stage: query side broadcasts in BOTH stages; rerank joins by id, no corpus NLJ") {
    val p = plan("qX_bq_rerank")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "stage-1 code scan must broadcast the query side:\n" + p.take(2000))
    // stage 2 hydrates the shortlist by id — an equi join, and the
    // full-vector corpus side is never nested-looped
    assert(p.split("BroadcastNestedLoopJoin").length <= 2,
      "only the stage-1 code scan may nested-loop:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "shortlist hydration must broadcast")
  }

  test("funnel: step filters are pushed to the event scans; levels join on user") {
    val p = plan("qX_funnel")
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(event_type,signup)"),
      "step-1 type filter must reach the scan:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("entity resolution: one equi-join on the blocking key, CASE-sum stays codegen") {
    val p = plan("qX_er")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "blocked linkage must never cross-product:\n" + p.take(2000))
    // the block key is the equi-join key and the threshold is fused
    // into the join condition (pairs below it never materialize)
    assert(p.contains("BroadcastHashJoin [a_c_nationkey"), p.take(2000))
    assert(p.contains(">= 4000000)"),
      "threshold must prune inside the join:\n" + p.take(2000))
  }

  test("drift psi/ks: corpus collapses to grid counts before any window or join") {
    val pKs = plan("qX_ks")
    // the single-partition window must sit above the grouped counts,
    // never above raw event rows: Window's child contains an Aggregate
    assert(pKs.contains("Window"), pKs.take(2000))
    val windowIdx = pKs.indexOf("Window")
    assert(pKs.indexOf("HashAggregate", windowIdx) > 0,
      "KS window must read the distinct-value grid, not corpus rows:\n" +
        pKs.take(3000))
  }

  test("item-item: co-occurrence joins are hash joins, top-k is heap-based, no window over pairs") {
    val p = plan("qX_item_sim")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("CollectTopK") || !p.contains("RunningWindowFunction"),
      "per-item top-k must be the bounded-heap aggregate:\n" + p.take(2000))
  }

  test("weighted pymk / assoc rules / nn-descent: wedge and basket joins hash, never cartesian") {
    for (q <- Seq("qX_pymk_decayed", "qX_assoc_rules", "qX_nndescent")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(2000))
      // the only nested loop allowed is the 1-row totals scalar join
      // (assoc's basket count); the data-sized joins must stay equi
      assert(p.split("BroadcastNestedLoopJoin").length <= 2,
        s"$q must stay on equi-joins:\n" + p.take(2000))
    }
    // the weighted flagship keeps the bounded-heap top-k, no window
    assert(plan("qX_pymk_decayed").contains("CollectTopK") ||
      !plan("qX_pymk_decayed").contains("RunningWindowFunction"))
  }

  test("hyperball: register folds are partial-aggregated, no cartesian") {
    val p = plan("qX_hyperball")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("HashAggregate"),
      "register max-folds must map-side combine:\n" + p.take(2000))
  }

  test("pca: projection is a narrow codegen mat-vec; moments shuffles once") {
    val emb = Tables.load(spark, dir, "embeddings")
    val basis = Array.tabulate(4, 64)((r, i) => (r * 64 + i) * 1e-3)
    val pProj = graft.operators.Pca.project(emb, "embedding", "y",
        basis, Array.fill(64)(0.0))
      .queryExecution.executedPlan.toString()
    assert(!pProj.contains("Exchange"), "project must not shuffle:\n" + pProj.take(2000))
    assert(pProj.contains("*(1)"), "mat_vec lost codegen:\n" + pProj.take(2000))
    val pMom = graft.operators.Pca.moments(emb, "embedding")
      .queryExecution.executedPlan.toString()
    // one hash-aggregate exchange for the (i, j) cells, nothing else
    assert(pMom.split("Exchange").length == 2,
      "moments must shuffle exactly once:\n" + pMom.take(3000))
    assert(pMom.contains("partial_sum") || pMom.contains("HashAggregate"),
      "moments needs map-side partial aggregation:\n" + pMom.take(3000))
  }

  test("hilbert key: narrow codegen projection, no shuffle, no Catalyst bit tree") {
    val docs = Tables.load(spark, dir, "documents")
    val p = docs.select(col("doc_id"),
        graft.operators.Layout.hilbertKey(
          pmod(col("doc_id"), lit(1024L)),
          pmod(col("doc_id") * 37, lit(1024L)), 10).as("h"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), "hilbertKey must not shuffle:\n" + p.take(2000))
    assert(p.contains("*(1)"), "HilbertKeyExpr lost codegen:\n" + p.take(2000))
    // the whole 10-level transform is ONE expression node, not an
    // unrolled when-tree (which would explode the plan string)
    assert(p.length < 4000, s"plan suspiciously large (${p.length}):\n" + p.take(2000))
  }

  test("quantileBins: range partition + local windows, never a single global sort window") {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), floor(col("value") * 1e6).cast("long").as("v"))
    val p = graft.operators.Features.quantileBins(e, "v", "event_id", 10)
      .queryExecution.executedPlan.toString()
    // globalRank localCheckpoints its ranked frame (the range exchange
    // + per-partition windows live BEHIND the Scan ExistingRDD — the
    // known checkpoint/PlanSpec gotcha), so the guard pins what the
    // visible plan must look like: the O(#partitions) offset table
    // BROADCASTS onto the checkpointed rank scan, and nothing
    // downstream funnels through a single partition.
    assert(p.contains("BroadcastHashJoin") && p.contains("_poff"),
      "offsets must broadcast-join onto the ranked scan:\n" + p.take(3000))
    assert(!p.contains("SinglePartition") && !p.contains("Window"),
      "global sort window detected — the plan that dies at 100 TB:\n" + p.take(3000))
  }

  test("kmv sketch: distinct then bounded TakeOrdered, never a global sort of distinct hashes") {
    val e = Tables.load(spark, dir, "events")
    val p = graft.operators.Sketches.kmvSketch(e, "user_id", 64)
      .queryExecution.executedPlan.toString()
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-k must be TakeOrdered (per-partition heaps):\n" + p.take(3000))
    assert(!p.toLowerCase.contains("sortmerge") && !p.contains("GlobalSort"),
      "unexpected global sort:\n" + p.take(3000))
  }

  test("conductance: label joins hash, only the 1-row m broadcasts, no cartesian blowup") {
    val edges = graft.queries.GraphQueries.derivedEdges(
      Tables.load(spark, dir, "events"))
    val lbl = edges.select(col("src").as("id"), (col("src") % 3).as("lbl"))
      .distinct()
    val p = graft.operators.GraphAnalytics.conductance(edges, lbl)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"),
      "conductance must never cartesian:\n" + p.take(3000))
    // the only nested-loop is the 1-row m scalar broadcast
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("rfm: metric joins key on the user, no global window in the visible plan") {
    val e = Tables.load(spark, dir, "events")
    val p = graft.operators.Events.rfm(e, "user_id", "ts", "value")
      .queryExecution.executedPlan.toString()
    // quantile ranks live behind globalRank's checkpoint; the visible
    // assembly must be keyed joins, never a user-wide window
    assert(!p.contains("Window"),
      "global user window detected:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("naive bayes scoring: term join is keyed, priors ride a 1-row broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val train = docs.filter(col("doc_id") >= 200)
      .withColumn("y", (col("doc_id") < 350).cast("int"))
    val model = graft.operators.NaiveBayes.train(train, "doc_id", "text", "y")
    val pri = graft.operators.NaiveBayes.priors(train, "doc_id", "text", "y")
    val p = graft.operators.NaiveBayes.score(
        docs.filter(col("doc_id") < 200), "doc_id", "text", model, pri)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "priors must broadcast:\n" + p.take(3000))
  }

  test("kendall tau: pair join keys on qid, bounded by the k-row runs") {
    import spark.implicits._
    val a = Seq((1L, 10L, 3.0), (1L, 20L, 2.0)).toDF("qid", "id", "score")
    val b = Seq((1L, 20L, 3.0), (1L, 10L, 2.0)).toDF("qid", "id", "score")
    val p = graft.operators.Eval.kendallTau(a, b, 10)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"),
      "pair join must key on qid:\n" + p.take(3000))
  }

  test("zipfFit: topN truncates via TakeOrderedAndProject before the rank window") {
    // the rank window must see only the topN survivors, never the full
    // vocabulary — the r10 verdict's scale-killer, pinned
    val p = plan("qX_zipf")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("normStats: ranks ride the checkpointed globalRank, no corpus window") {
    // embedding norms rank via globalRank (broadcast offsets), never a
    // corpus-wide Window — the quantileBins guard, applied to X288
    // (scalar 1-row folds legitimately exchange to SinglePartition —
    // the guard is specifically against a corpus-wide Window)
    val p = plan("qX_norm_stats")
    assert(!p.contains("Window"),
      "corpus-wide window detected in normStats:\n" + p.take(3000))
  }

  test("gapQuantiles: every window is key-partitioned, nothing funnels") {
    val p = plan("qX_gap_quantiles")
    assert(!p.contains("SinglePartition"),
      "a window funnels the corpus through one partition:\n" + p.take(3000))
  }

  test("qX_join_q6: all filters reach the parquet scan, schema pruned") {
    // the PushedFilters list is TRUNCATED in plan toString — assert on
    // its visible head plus the untruncated Filter node
    val p = plan("qX_join_q6")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      p.take(2500))
    assert(p.contains("l_quantity") && p.contains("0.07"), p.take(2500))
    assert(!p.contains("l_tax"), "unreferenced column must be pruned")
  }

  test("dailyMovers: top-k plans as TakeOrderedAndProject") {
    val p = plan("qX_movers")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }
}
