package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftEngine
import graft.model.{AlbumEntry, Schemas}

/** End-to-end facade test: the full reference API surface over the
  * 11-record corpus — ingest (idempotent), search with boosts + owner
  * filter, PYMK with the array-valued response shape, soft delete,
  * per-user album, graph admin.
  */
class GraftEngineSpec extends AnyFunSuite with SparkSpec {

  lazy val cards = spark.read.schema(Schemas.cardEvent)
    .json(fixturePath("card_events.jsonl"))
    .select(col("s3_bucket"), col("s3_key"), col("owner"), col("data.*"))

  lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh").toString)
    e.ingest(cards)
    e.ingest(cards.limit(4)) // replayed batch — must be a no-op
    e
  }

  test("query before ingest returns empty results, not AnalysisException") {
    val fresh = new GraftEngine(spark,
      Files.createTempDirectory("graft_wh_empty").toString)
    val hits = fresh.search("anyone at all")
    assert(hits.isEmpty && hits.columns.contains("_score"))
    val recs = fresh.pymk("poby kim")
    assert(recs.isEmpty &&
      recs.schema("email").dataType.simpleString == "array<string>")
    assert(fresh.userAlbum("poby").isEmpty)
    assert(fresh.dumpGraph().isEmpty)
  }

  test("ingest is replay-idempotent: 11 docs, 6 vertices, 8 edges") {
    assert(engine.searchTable.count() == 11)
    assert(engine.vertices.count() == 6)
    assert(engine.edges.count() == 8)
  }

  test("search: name query finds the person, name boost ranks it first") {
    val hits = engine.search("poby kim").collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[String]("name") == "Poby Kim")
  }

  test("search with owner filter narrows to that user's cards") {
    val hits = engine.search("solutions", owner = Some("poby")).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[String]("owner") == "poby"))
  }

  test("pymk: golden Poby Kim answer through the full API") {
    val recs = engine.pymk("poby kim").collect()
    assert(recs.length == 2)
    assert(recs.map(_.getAs[Seq[String]]("name").head).toSet ==
      Set("Crong Lee", "Harry Jang"))
    assert(recs.forall(_.getAs[Double]("score") == 3.0))
    // valueMap() quirk: properties are arrays
    assert(recs.head.schema("email").dataType.simpleString == "array<string>")
  }

  test("pymk for unknown user returns empty") {
    assert(engine.pymk("nobody special").isEmpty)
  }

  test("soft delete hides a doc from search") {
    val doc = engine.search("crong lee").collect().head.getAs[String]("doc_id")
    engine.softDelete(doc)
    assert(!engine.search("crong lee").collect()
      .map(_.getAs[String]("doc_id")).contains(doc))
  }

  test("result memo (I1 analogue): repeat call served from memo, writes invalidate") {
    val hits1 = engine.search("harry jang", limit = 5)
    val hits2 = engine.search("harry jang", limit = 5)
    // second identical request returns the SAME materialized DataFrame
    assert(hits1 eq hits2)
    assert(hits1.collect().map(_.getAs[String]("doc_id")).nonEmpty)
    // a different request key computes fresh
    assert(!(engine.search("harry jang", limit = 6) eq hits1))
    val recs1 = engine.pymk("poby kim")
    assert(engine.pymk("poby kim") eq recs1)
    // a write invalidates: the next call recomputes (and sees the write)
    val doc = engine.search("harry jang").collect().head.getAs[String]("doc_id")
    engine.softDelete(doc)
    val after = engine.search("harry jang", limit = 5)
    assert(!(after eq hits1))
    assert(!after.collect().map(_.getAs[String]("doc_id")).contains(doc))
  }

  test("memo cache key is the full digest (no truncation collisions)") {
    // 32-bit truncated keys collide at ~1% by 9k distinct requests and
    // would silently serve another request's cached result — the key
    // must be the untruncated 128-bit digest
    val k = engine.cacheKey("search", "harry jang", "<none>", "5")
    assert(k.length == 32 && k.matches("[0-9a-f]{32}"))
    assert(engine.cacheKey("a", "b") != engine.cacheKey("a b"))
  }

  test("userAlbum returns exactly one owner's cards from the single album table") {
    val album = engine.userAlbum("edy")
    assert(album.count() == 4) // edy uploaded 4 cards
    assert(album.select("owner").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("edy"))
    assert(album.columns.toSeq == Seq("owner", "image_id", "doc_id", "s3_bucket", "s3_key"))
    // one table, no directory per owner
    assert(!new java.io.File(engine.albumPath).list().exists(_.startsWith("owner=")))
  }

  test("album keeps numeric owners as strings; lookups never throw") {
    val numeric = renameOwners(cards, Map("edy" -> "0042", "poby" -> "007", "pororo" -> "007"))
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_num").toString)
    e.ingest(numeric)
    val a42 = e.userAlbum("0042").collect()
    assert(a42.length == 4 && a42.forall(_.getAs[String]("owner") == "0042"))
    assert(e.userAlbum("007").collect().map(_.getAs[String]("owner")).distinct.toSeq ==
      Seq("007"))
    assert(e.userAlbum("42").isEmpty && e.userAlbum("7").isEmpty)
    assert(e.userAlbum("").isEmpty)
    assert(e.userAlbum("poby").isEmpty)
    val before = sortedRows(albumOf(e.albumPath))
    assert(before.length == 11)
    e.ingest(numeric.filter(col("owner") === "0042")) // replay: a no-op
    assert(sortedRows(albumOf(e.albumPath)) == before)
  }

  test("an album in the owner-partitioned layout migrates losslessly on the next fold") {
    val wh = Files.createTempDirectory("graft_wh_legacy").toString
    val legacy = renameOwners(cards, Map("edy" -> "0042"))
    sequentialIngest(wh, legacy)
    val e = new GraftEngine(spark, wh)
    assert(e.userAlbum("0042").collect().map(_.getAs[String]("owner")).toSeq ==
      Seq.fill(4)("0042"))
    val before = sortedRows(albumOf(e.albumPath))
    e.ingest(legacy.limit(3)) // replayed cards: the rewrite changes no row
    assert(sortedRows(albumOf(e.albumPath)) == before)
    assert(!new java.io.File(e.albumPath).list().exists(_.startsWith("owner=")))
  }

  test("a failed ingest still invalidates the memo") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_fail").toString)
    e.ingest(cards.filter(col("owner") =!= "pororo"))
    val warm = e.search("crong lee")
    assert(e.search("crong lee") eq warm)
    plantCorruptFile(e.vertexPath)
    val err = intercept[Exception](e.ingest(cards))
    assert(String.valueOf(err.getMessage).contains("part-99999-corrupt"))
    // the search table did swap in pororo's cards; the memo must not
    // keep serving the answer computed before it
    assert(e.searchTable.count() == 11)
    val after = e.search("crong lee")
    assert(!(after eq warm))
    assert(after.collect().map(_.getAs[String]("owner")).contains("pororo"))
  }

  test("concurrent fold holds the same rows as the sequential fold, table by table") {
    val later = cards.filter(col("s3_key").endsWith("edy_bizcard_0046.jpg"))
      .withColumn("job_title", lit("Principal Solutions Architect"))
      .withColumn("created_at", lit("2019-11-01T00:00:00Z"))
    val batches = Seq(
      cards.filter(col("owner") === "edy"),
      cards.filter(col("owner") =!= "edy"),
      cards.filter(col("owner") === "poby"), // replayed
      later)
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_conc").toString)
    val wh = Files.createTempDirectory("graft_wh_seq").toString
    batches.foreach { b =>
      e.ingest(b)
      assert(foldThreads.isEmpty)
      sequentialIngest(wh, b)
    }
    val seq = new GraftEngine(spark, wh)
    assert(sortedRows(e.searchTable) == sortedRows(seq.searchTable))
    assert(sortedRows(e.vertices) == sortedRows(seq.vertices))
    assert(sortedRows(e.edges) == sortedRows(seq.edges))
    assert(sortedRows(albumOf(e.albumPath)) == sortedRows(albumOf(seq.albumPath)))
    assert(e.vertices.filter(col("job_title") === "Principal Solutions Architect")
      .count() == 1)

    // a failure in one branch propagates; every branch has finished
    plantCorruptFile(e.edgePath)
    val err = intercept[Exception](e.ingest(cards))
    assert(String.valueOf(err.getMessage).contains("edges/part-99999-corrupt"))
    assert(foldThreads.isEmpty)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("fold jobs carry the caller's job group; a fold writes one file per table") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_props").toString)
    val sc = spark.sparkContext
    try {
      for (group <- Seq("fold-a", "fold-b")) {
        sc.setJobGroup(group, s"ingest under $group")
        val (groups, writes) = captured(e.ingest(cards))
        assert(groups.nonEmpty && groups.forall(_ == group), groups)
        // four tables, one write each, one file each — not one per owner
        assert(writes.length == 4 && writes.sum <= 4, writes)
      }
    } finally sc.clearJobGroup()
  }

  test("extension surface: pymkAll, dedupByContent, pageRank, communities") {
    // all-pairs PYMK agrees with the single-anchor golden for poby
    val pobyId = "6f371694" // md5("poby")[:8] — CardPipelineSpec golden
    val all = engine.pymkAll(10)
      .filter(col("anchor") === pobyId)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val single = graft.operators.Pymk.recommend(engine.edges, lit(pobyId), 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == single && single.nonEmpty)
    // dedup by content_id keeps one row per distinct card content
    val deduped = engine.dedupByContent()
    assert(deduped.count() ==
      engine.searchTable.select("content_id").distinct().count())
    // GraphX analytics run over the engine graph
    assert(engine.pageRank(5).count() == 6)
    val comps = engine.communities().select("component").distinct().count()
    assert(comps >= 1 && comps <= 6)
    // triangles: every vertex counted; DF plan agrees with the engine's
    // GraphX-mapped ids
    val tri = engine.triangles().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tri.size == 6 && tri.values.forall(_ >= 0))
    // PPR-based PYMK: excludes self + direct friends, positive mass,
    // and ranks the classic 2-hop PYMK candidates (it contains the
    // 2-walk term of the series)
    val pprRec = engine.pymkPpr("poby kim", 10).collect()
      .map(r => r.getString(0)).toList
    val friends = graft.operators.Pymk.undirected(engine.edges)
      .filter(col("from") === pobyId).select("to")
      .collect().map(_.getString(0)).toSet
    assert(pprRec.nonEmpty)
    assert(!pprRec.contains(pobyId))
    assert(pprRec.forall(id => !friends.contains(id)))
    assert(single.keySet.subsetOf(pprRec.toSet),
      s"2-hop candidates $single missing from PPR $pprRec")
    assert(engine.pymkPpr("nosuchuser").isEmpty)

    // influencers = top-k of pageRank, rank desc, id asc
    val inf = engine.influencers(3, iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val pr = engine.pageRank(5).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortBy { case (id, rank) => (-rank, id) }.take(3)
    assert(inf.toList == pr.toList)
  }

  test("centrality: harmonic over the knows graph covers every person, hubs lead") {
    val h = engine.centrality(numSources = 6, maxDepth = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h.size == 6, "every graph vertex scored")
    assert(h.values.forall(_ > 0), "6 sources on a connected 6-vertex graph reach all")
    // known values on the 6-person fixture graph: the three degree-3
    // vertices (edy, poby, pororo) tie at 3·1 + 2·(1/2) = 4.0 exactly;
    // rody (degree 1, two distance-3 pairs) is the strict minimum at
    // 1 + 2·(1/2) + 2·(1/3)
    assert(h.values.max == 4000000L)
    assert(h.values.count(_ == 4000000L) == 3)
    val rodyId = graft.operators.Pymk
      .anchorByName(engine.vertices, "Rody Park").head.getString(0)
    assert(h(rodyId) == 2666666L && h.values.min == 2666666L)
  }

  test("graph facade: salsa, reciprocity, degreeExponent") {
    // SALSA scores every vertex; each side's mass sums to ~1e6
    val sal = engine.salsa(3).collect()
    assert(sal.length == 6)
    assert(math.abs(sal.map(_.getLong(1)).sum - 1000000L) <= 6L)
    assert(math.abs(sal.map(_.getLong(2)).sum - 1000000L) <= 6L)
    // reciprocity is a single well-formed ratio row
    val rec = engine.reciprocity().head()
    assert(rec.getLong(1) <= rec.getLong(0) &&
      rec.getLong(2) >= 0L && rec.getLong(2) <= 1000000L)
    // degree-exponent readout: α > 1 by construction on any tail
    val alpha = engine.degreeExponent(2).head()
    assert(alpha.getLong(1) > 0L && alpha.getLong(3) > 1000000L)
  }

  test("graph facade: pymkSalsa and richClub") {
    // personalized SALSA honors the pymk exclusion contract: never
    // the user, never a direct friend — and ranks desc by micros
    val anchor = graft.operators.Pymk
      .anchorByName(engine.vertices, "Poby Kim").head.getString(0)
    val friends = graft.operators.Pymk.undirected(engine.edges)
      .filter(col("from") === anchor).select("to")
      .collect().map(_.getString(0)).toSet
    val recs = engine.pymkSalsa("poby kim").collect()
    assert(recs.nonEmpty)
    assert(!recs.map(_.getString(0)).exists(id => id == anchor || friends(id)))
    val scores = recs.map(_.getLong(1))
    assert(scores.forall(_ > 0L) && scores.sameElements(scores.sortBy(-_)))
    // unknown user → typed empty frame, not an exception
    assert(engine.pymkSalsa("nobody special").isEmpty)
    // rich club at k=0 covers every vertex that has an edge
    val rc = engine.richClub(0).head()
    assert(rc.getLong(1) > 0L && rc.getLong(3) > 0L &&
      rc.getLong(3) <= 1000000L)
  }

  test("graph facade: eigenvector, independentSet, communitiesTwoStar, sketch overlap") {
    import spark.implicits._
    // eigenvector over string vertex keys: every vertex scored, mass
    // sums to ~1e6 (rounding slack ≤ #vertices micros)
    val eig = engine.eigenvector(3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(eig.size == 6)
    assert(math.abs(eig.values.sum - 1000000L) <= 6L)
    // MIS on string ids (struct-ordered priorities): independent and
    // maximal on the 6-person knows graph
    val mis = engine.independentSet(4).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val und = graft.operators.Pymk.undirected(engine.edges)
      .select("from", "to").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(mis.values.exists(identity))
    assert(und.forall { case (a, b) => !(mis(a) && mis(b)) },
      "adjacent pair inside the MIS")
    assert(mis.filter(!_._2).keys.forall(v =>
      und.exists { case (a, b) => a == v && mis(b) }), "not maximal")
    // two-star CC groups vertices exactly like min-label communities
    val two = engine.communitiesTwoStar().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val lab = engine.communities().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(two.keySet == lab.keySet)
    assert(two.groupBy(_._2).values.map(_.keySet).toSet ==
      lab.groupBy(_._2).values.map(_.keySet).toSet,
      "component partitions differ")
    // theta-sketch overlap on two overlapping id frames
    val a = (1 to 300).map(i => s"id-$i").toDF("v")
    val b = (201 to 500).map(i => s"id-$i").toDF("v")
    val ov = engine.overlapSketch(a, "v", b, "v", 64).collect().head
    assert(ov.getAs[Long]("est_union") > 0)
    val ds = engine.distinctSketch(a, "v", 64).collect().head
    assert(math.abs(ds.getAs[Long]("est") - 300L) <= 120L)
  }

  test("batching facade: asOf directions, lengthBuckets, packSequences") {
    import spark.implicits._
    // as-of: align a metric frame to the latest state per key —
    // all three directions through the facade
    val state = Seq(("k", 10L, "old"), ("k", 20L, "new"))
      .toDF("key", "ts", "v")
    // ts=16: backward picks 10, forward/nearest pick 20 (|Δ| 4 < 6);
    // ts=25: nothing after it — forward NULL, backward/nearest pick 20
    val obs = Seq(("k", 16L), ("k", 25L)).toDF("key", "ts")
    def vals(direction: String): Seq[String] =
      engine.asOf(obs, state, "key", "ts", Seq("v"), direction)
        .orderBy("ts").collect().map(_.getAs[String]("asof_v")).toSeq
    assert(vals("backward") == Seq("old", "new"))
    assert(vals("forward") == Seq("new", null))
    assert(vals("nearest") == Seq("new", "new"))

    // lengthBuckets: scalable default ≡ ntile spec form on the
    // engine's own doc-length profile
    val lens = engine.searchTable
      .select(col("doc_id"),
        length(coalesce(col("addr"), lit(""))).cast("long").as("tok"))
    val scalable = engine.lengthBuckets(lens, "doc_id", "tok", 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    val spec = engine.lengthBuckets(lens, "doc_id", "tok", 3, scalable = false)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(scalable == spec && scalable.values.toSet == Set(1, 2, 3))

    // packSequences: 11 docs land in contiguous bins, and the packed
    // output matches the global-window spec form bit-for-bit
    val packed = engine.packSequences(lens, "doc_id", "tok", budget = 60L)
    val specPack = graft.operators.Packing.pack(lens, "doc_id", "tok", 60L)
    assert(packed.count() == 11)
    assert(packed.orderBy("doc_id").collect().toSeq ==
      specPack.orderBy("doc_id").collect().toSeq)
  }

  test("serving facade: phrase, fuzzy, link prediction, chunk, bpe") {
    import spark.implicits._
    val ph = engine.phraseSearch("edy kim", "name", 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ph.size == 2 && ph.values.forall(_ == 1L))
    // order matters: the reversed phrase finds nothing
    assert(engine.phraseSearch("kim edy", "name", 10).isEmpty)
    // B15 guard: the soft-deleted Crong card stays hidden here too
    assert(engine.phraseSearch("crong lee", "name", 10).count() == 1)
    // typo-tolerant: "edi" reaches the same docs through the expansion
    val fz = engine.fuzzySearch("edi", "name", 1, 10)
      .collect().map(_.getString(0)).toSet
    assert(fz == ph.keySet)
    // link prediction over the knows graph, measures memo-keyed apart
    val ra = engine.linkPredict(5, "resource_allocation").collect()
    val jc = engine.linkPredict(5, "jaccard").collect()
    assert(ra.nonEmpty && jc.nonEmpty && ra.map(_.getInt(1)).min == 1)
    intercept[IllegalArgumentException] { engine.linkPredict(5, "katz") }
    // chunk + bpe roundtrip on a caller frame
    val df = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    assert(engine.chunk(df, "id", "text", 2, 2).count() == 2)
    // (a,</w>)×4 then (t,a</w>)×2, then no pair reaches 2 — early stop
    val merges = engine.bpeTrain(df, "text", 3)
    assert(merges == Seq(("a", "</w>"), ("t", "a</w>")))
    val dec = engine.bpeEncode(df, "text", merges)
      .select(graft.operators.Bpe.decode(col("pieces"))).head().getString(0)
    assert(dec == "alpha beta gamma delta")
  }

  test("pipeline facade: fuzzyJoin, streamIntervalJoin, trailingWindow, targetEncodeLoo") {
    import spark.implicits._
    // fuzzy join: the near-copy pair meets the bar in both the banded
    // scale form and the exact oracle form, with identical scores
    val l = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about spark physical plans")).toDF("id", "text")
    val r = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight yes"),
      (20L, "another unrelated document mentioning duckdb oracles")).toDF("id", "text")
    def pairs(df: DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val banded = pairs(engine.fuzzyJoin(l, "id", "text", r, "id", "text",
      n = 2, minJaccard = 0.5))
    val exact = pairs(engine.fuzzyJoin(l, "id", "text", r, "id", "text",
      n = 2, minJaccard = 0.5, exact = true))
    assert(banded.keySet == Set((1L, 10L)) && banded == exact)

    // stream-stream interval join facade, batch-equivalence form:
    // trailing 1 h window pairs the click with both earlier views only
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val clicks = Seq((1L, "u1", ts(60))).toDF("event_id", "user_id", "ts")
    val views = Seq((100L, "u1", ts(10)), (101L, "u1", ts(30)),
      (102L, "u1", ts(120))).toDF("event_id", "user_id", "ts")
    val joined = engine.streamIntervalJoin(clicks, views, "user_id", "ts", "ts")
      .select(col("event_id"), col("r_event_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(joined == Set((1L, 100L), (1L, 101L)))

    // trailing window: 10-minute frame counts only in-window history
    val ev = Seq(("u1", ts(0), 1.0), ("u1", ts(5), 2.0), ("u1", ts(20), 4.0))
      .toDF("user_id", "ts", "v")
    val tw = engine.trailingWindow(ev, "user_id", "ts", "v", 10L * 60 * 1000000)
      .collect().map(x => x.getTimestamp(1).getTime / 60000 ->
        ((x.getLong(3), x.getDouble(4)))).toMap
    assert(tw == Map(0L -> ((1L, 1.0)), 5L -> ((2L, 3.0)), 20L -> ((1L, 4.0))))

    // leave-one-out target encoding: each row sees only the others'
    // mean; the singleton category is NULL with the global fallback
    val te = engine.targetEncodeLoo(
      Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("cat", "y"),
      "cat", "y")
    val rows = te.orderBy(col("cat"), col("y")).collect()
    assert(rows.map(x => Option(x.get(2))).toSeq ==
      Seq(Some(3.0), Some(1.0), None))
    assert(rows.forall(x => x.getDouble(3) == 3.0)) // global mean
  }

  test("curation facade: c4Clean, curateByDomain, pca, node2vec") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five.\nshort line.", "https://a.d1.com/x"),
      (2L, "lorem ipsum dolor sit amet here.", "https://b.d1.com/y"),
      (3L, "six seven eight nine ten eleven.", "https://c.d2.com/z"))
      .toDF("id", "text", "url")
    val clean = engine.c4Clean(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(clean == Map(1L -> 1, 3L -> 1)) // doc 2 killed by lorem ipsum
    val cur = engine.curateByDomain(docs, "id", "url",
        blockedDomains = Seq("d2.com"), maxPerDomain = 1)
      .collect().map(r => (r.getLong(0), r.getAs[String]("domain")))
    assert(cur.toSet == Set((1L, "d1.com"))) // d2 blocked, d1 capped to 1
    // pca fit+project over a tiny planted frame
    val emb = (1 to 50).map(i =>
        (i.toLong, Array(i.toFloat, 0f, (51 - i).toFloat, 1f)))
      .toDF("id", "embedding")
    val (basis, evar, mean) = engine.pcaFit(emb, "embedding", 1)
    assert(evar(0) > 100.0 && basis(0).length == 4)
    assert(engine.pcaProject(emb, "embedding", "y", basis, mean)
      .select(col("y")).head().getSeq[Double](0).length == 1)
    // node2vec over the engine graph: memoized, string ids round-trip
    val w1 = engine.node2vec(1, 2)
    val names = w1.select(col("vertex")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(w1.count() > 0 && names.nonEmpty)
    assert(engine.node2vec(1, 2) eq w1) // memo hit is the same frame
    // scale guard: the facade renumbers via globalRank (range-partition
    // + local row_number), never a whole-vertex-set global window — the
    // post-checkpoint plan must carry no WindowExec at all
    assert(!w1.queryExecution.executedPlan.toString().contains("Window"),
      "node2vec facade must not rank vertices through a global window")
  }

  test("pq facade: index + ADC search recovers identical twins") {
    import spark.implicits._
    // 8-dim vectors from 2 atoms per 4-dim subspace — pqTrain with
    // ksub=2 reaches zero reconstruction error, so a twin query's ADC
    // sim is exactly 1.0 through the facade pair
    val atoms = Vector(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 1f, 0f))
    val pts = (0 until 20)
      .map(i => (i.toLong, atoms(i % 2) ++ atoms((i / 2) % 2)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val (cb, enc) = engine.pqIndex(pts, "vec_id", "embedding", m = 2, ksub = 2)
    val q = pts.filter(col("vec_id") < 2)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val hits = engine.pqSearch(q, enc, cb, k = 3)
      .filter(col("sim") === 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every 1.0 hit shares its query's atom combination (id ≡ qid mod 4)
    assert(hits.nonEmpty &&
      hits.forall { case (qid, id) => id % 4 == (qid - 1000) % 4 })
  }

  test("eval facade: evalEce, evalNdcg, collocations, evalAuc hand-computed") {
    import spark.implicits._
    // 2 bins, 2 rows each, both half-right: |acc − conf| = 400000 in
    // each bin, so ECE = 400000 exactly; all-tied scores pin AUC = ½
    val scored = Seq((1, 900000L), (0, 900000L), (1, 100000L), (0, 100000L))
      .toDF("y", "p")
    val e = engine.evalEce(scored, "y", "p", bins = 2).head()
    assert(e.getAs[Long]("n") === 4L)
    assert(e.getAs[Long]("ece_micros") === 400000L)
    assert(engine.evalAuc(scored, "y", "p").head()
      .getAs[Long]("auc_micros") === 500000L)
    // one query: run order (rel 2, rel 0, rel 1); dcg = 2e6 + 0 +
    // floor(1e6/log2(4)); idcg ranks rel desc = 2e6 + floor(1e6/log2(3))
    val run = Seq((1L, 10L, 3.0), (1L, 20L, 2.0), (1L, 30L, 1.0))
      .toDF("qid", "id", "score")
    val qrels = Seq((1L, 10L, 2L), (1L, 30L, 1L)).toDF("qid", "id", "rel")
    val nd = engine.evalNdcg(run, qrels, k = 3).head()
    assert(nd.getAs[Long]("dcg_micros") === 2500000L)
    assert(nd.getAs[Long]("idcg_micros") === 2630929L)
    assert(nd.getAs[Long]("ndcg_micros") === 950234L)
    // collocations: "x y" ×8, "z w" ×2 → pmi(x,y) = ln 1.25 micros
    val corpus = (Seq.fill(8)("x y") ++ Seq.fill(2)("z w")).toDF("text")
    val pmi = engine.collocations(corpus, "text", window = 3, minCount = 2L)
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        r.getAs[Long]("pmi_micros")).toMap
    assert(pmi(("x", "y")) === math.round(1e6 * math.log(1.25)))
    assert(pmi(("w", "z")) === math.round(1e6 * math.log(5.0)))
  }

  test("analytics facade: funnel, transitions, abTest, bootstrapMean, crossValFolds") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup", 1L, 2.0),
      (1L, ts("2024-01-02 10:00:00"), "view", 2L, 3.0),
      (2L, ts("2024-01-01 10:00:00"), "signup", 3L, 4.0)
    ).toDF("user_id", "ts", "event_type", "event_id", "value")
    val f = engine.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "view")).collect()
    assert(f.map(r => r.getLong(2)).toSeq == Seq(2L, 1L))
    val tr = engine.transitions(ev, "user_id", "ts", "event_type",
        Seq("event_id")).collect()
    assert(tr.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq(("signup", "view", 1L)))
    assert(engine.abTest(Seq(1.0, 2.0).toDF("value"),
      Seq(1.0, 2.0).toDF("value"), "value").head().getAs[Long]("t_micros")
      == 0L)
    val ci = engine.bootstrapMean(
      (1 to 50).map(i => (i.toLong, 1.0)).toDF("id", "value"),
      "id", "value", b = 8).head()
    // constant values: every replicate mean is exactly 1e6
    assert((ci.getLong(1), ci.getLong(2), ci.getLong(3)) ==
      ((1000000L, 1000000L, 1000000L)))
    val folds = engine.crossValFolds(
        (1L to 100L).toDF("id"), "id", k = 5)
      .groupBy("fold").count().collect()
    assert(folds.length == 5 && folds.map(_.getLong(1)).sum == 100L)
  }

  test("round-11 facades: spreadLabels, bins, projection, interleave, sequence, intervals, mutual, AP, drift, winnow, blocking, bandit") {
    import spark.implicits._
    // spreadLabels over the engine graph: 1 string-keyed seed labels
    // its connected component within 6 rounds
    val anyId = engine.vertices.select("id").orderBy("id")
      .head().getString(0)
    val seeds = Seq((anyId, 7L)).toDF("id", "label")
    val spread = engine.spreadLabels(seeds, rounds = 6).collect()
    assert(spread.nonEmpty && spread.forall(_.getLong(1) == 7L))
    // quantileBins: 100 rows into 4 exact bins
    val qb = engine.quantileBins((1L to 100L).map(i => (i, i % 37))
        .toDF("id", "v"), "v", "id", 4)
      .groupBy("bin").count().collect().map(_.getLong(1))
    assert(qb.toSet == Set(25L))
    // randomProject emits outDim rows per input
    val rp = engine.randomProject(
      Seq((1L, Array.fill(8)(0.5f))).toDF("id", "v"), "id", "v", 4, 8)
    assert(rp.count() == 4)
    // interleave: 2 runs of 2 → 4 balanced positions
    val ra = Seq((1L, "x", 2L), (1L, "y", 1L)).toDF("qid", "id", "score")
    val rb = Seq((1L, "p", 2L), (1L, "q", 1L)).toDF("qid", "id", "score")
    val il = engine.interleave(ra, rb, 4).collect()
    assert(il.length == 4 && il.map(_.getString(3)).count(_ == "A") == 2)
    // sequenceScore + banditScores + conversionInterval on a tiny log
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "a", 1L),
      (1L, ts("2024-01-01 11:00:00"), "b", 2L))
      .toDF("user_id", "ts", "event_type", "event_id")
    assert(engine.sequenceScore(ev, "user_id", "ts", "event_type",
      Seq("event_id")).count() == 1)
    val bandit = engine.banditScores(ev, col("user_id"),
      (col("event_type") === "b").cast("int")).collect()
    assert(bandit.length == 1 && bandit.head.getLong(1) == 2L)
    val ciw = engine.conversionInterval(ev, col("user_id"),
      (col("event_type") === "b").cast("int")).head()
    assert(ciw.getLong(4) <= 500000L && ciw.getLong(5) >= 500000L)
    // mutualMatches on a 2-cycle
    val mm = engine.mutualMatches(
      Seq((1L, 2L, 5L), (2L, 1L, 4L)).toDF("item", "rec", "s"),
      "item", "rec", "s").collect()
    assert(mm.length == 1 && mm.head.getLong(0) == 1L)
    // evalAveragePrecision: single relevant at rank 1 → AP 1.0
    val ap = engine.evalAveragePrecision(ra,
      Seq((1L, "x")).toDF("qid", "id"), 2).head()
    assert(ap.getLong(3) == 1000000L)
    // vocabularyDrift of identical frames is 0
    val vd = engine.vocabularyDrift(Seq("t").toDF("k"),
      Seq("t").toDF("k"), "k").head()
    assert(vd.getLong(3) == 0L)
    // winnowFingerprints + blockingReport smoke through the facade
    assert(engine.winnowFingerprints(
      Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"),
      "doc_id", "text").count() > 0)
    val br = engine.blockingReport(
      Seq((1L, "b", "e"), (2L, "b", "e")).toDF("id", "blk", "ent"),
      "id", "blk", "ent").head()
    assert(br.getLong(5) == 1000000L) // the one truth pair co-blocks
  }

  test("session facades: engagement, churn, RFM, entropy, SPC, eval, calibration, labeling, drift, dedup") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (2L, ts("2024-01-01 11:00:00"), "b", 2.0),
      (1L, ts("2024-01-02 10:00:00"), "a", 3.0))
      .toDF("user_id", "t", "etype", "v")
    // engagement: one month, dau (2,1), mau 2 → 750000
    assert(engine.engagement(ev, "user_id", "t").head().getLong(4) == 750000L)
    // churnCurve: u2 churns day 1 of 2 users → S(d1) = 500000
    assert(engine.churnCurve(ev, "user_id", "t").head().getLong(4) == 500000L)
    // customerSegments emits one coded row per user
    val rfm = engine.customerSegments(ev, "user_id", "t", "v").collect()
    assert(rfm.length == 2 && rfm.forall(r => r.getLong(7) >= 111L))
    // userEntropy: single-type users read exactly 0
    assert(engine.userEntropy(ev, "user_id", "etype")
      .collect().forall(_.getLong(3) == 0L))
    // controlChart + seasonality + robustMean over a tiny series
    assert(engine.controlChart(ev, "t", "v", 100000000L).count() == 2)
    assert(engine.seasonality(ev, "t", 1).head().getLong(1) == 1L)
    assert(engine.robustMean(ev.select(col("user_id").as("id"), col("v")),
      "v", "id", 0.0).head().getLong(3) == 2000000L)
    // eval family: brier/prAuc/kappa on tiny frames
    val sc = Seq((1000000L, 1), (0L, 0)).toDF("p", "y")
    assert(engine.evalBrier(sc, "y", "p").head().getLong(1) == 0L)
    assert(engine.evalPrAuc(sc, "y", "p").head().getLong(2) == 1000000L)
    assert(engine.raterAgreement(Seq((1L, 1L), (0L, 0L)).toDF("a", "b"),
      "a", "b").head().getLong(2) == 1000000L)
    // calibrateFit returns the (n, A, B) params row
    val pf = engine.calibrateFit(Seq((2000000L, 1), (-2000000L, 0))
      .toDF("m_micros", "y"), "m_micros", "y", iters = 1).head()
    assert(pf.getLong(0) == 2L && pf.getLong(1) > 1000000L)
    // labelClusters: distinctive term per slice
    val lc = engine.labelClusters(Seq(("A", "apple apple"),
      ("B", "banana")).toDF("cls", "text"), "cls", "text", 1).collect()
    assert(lc.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("A", "apple"), ("B", "banana")))
    // driftEmbeddings: identical slices cos 1e6 gap 0
    val em = Seq(Seq(1f, 0f)).toDF("embedding")
    val de = engine.driftEmbeddings(em, em, "embedding").head()
    assert((de.getLong(2), de.getLong(3)) == ((1000000L, 0L)))
    // dedupSurvivors: best score survives
    val surv = engine.dedupSurvivors(
      Seq((1L, 10L), (2L, 10L)).toDF("doc_id", "cluster"),
      Seq((1L, 3L), (2L, 9L)).toDF("doc_id", "sc"),
      "doc_id", "sc").head()
    assert(surv.getLong(1) == 2L && surv.getLong(3) == 2L)
    // recDiversity + didEstimate + attributeLinear + quadCount +
    // communityConductance smoke with real shapes
    val inter = Seq((1L, "a"), (2L, "a"), (1L, "b")).toDF("u", "item")
    val rd = engine.recDiversity(Seq("a").toDF("rec"), "rec",
      inter, "u", "item").head()
    assert(rd.getLong(3) == 500000L) // 1 of 2 catalog items covered
    val did = engine.didEstimate(Seq(("t", false, 1.0), ("t", true, 2.0),
        ("c", false, 1.0), ("c", true, 1.0)).toDF("g", "post", "v"),
      col("g") === "t", col("post"), "v").head()
    assert(did.getLong(4) == 1000000L)
    val ev2 = Seq((1L, ts("2024-01-01 10:00:00"), "purchase", 9L),
      (1L, ts("2024-01-01 09:00:00"), "click", 1L))
      .toDF("user_id", "t", "etype", "eid")
    val la = engine.attributeLinear(ev2, "user_id", "t", "etype", "eid",
      "purchase", Seq("click"), 86400000000L).head()
    assert(la.getLong(3) == 1000000L)
    assert(engine.quadCount().head().getLong(1) >= 0L)
    // sampled twin at a cap above any test-graph degree == exact
    assert(engine.quadCountSampled(maxDegree = 1024).head().getLong(2) ==
      engine.quadCount().head().getLong(1))
    val cc = engine.communityConductance().collect()
    assert(cc.nonEmpty && cc.forall(_.getLong(4) <= 1000000L))
  }

  test("governance + graph-quality facade: anonymityReport, diversityReport, recExposure, weakTies-shape") {
    import spark.implicits._
    val df = Seq(("a", "s1"), ("a", "s1"), ("b", "s2")).toDF("q", "s")
    assert(engine.anonymityReport(df, Seq("q"), 2L).head()
      .getAs[Long]("n_violating_groups") == 1L)
    assert(engine.diversityReport(df, Seq("q"), "s", 2L).head()
      .getAs[Long]("n_violating_groups") == 2L)
    val recs = (Seq.fill(3)("a") ++ Seq.fill(1)("b")).toDF("rec")
    assert(engine.recExposure(recs, "rec").head()
      .getAs[Long]("gini_micros") == 250000L)
    // the knows graph is tiny + triangle-free → every edge is a weak tie
    val wt = engine.weakTies()
    assert(wt.columns.toSeq == Seq("u", "v"))
  }

  test("round-11 facades: sessions, clampedMean, policyValue, graph + rec readouts") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 01:00:00"), 2L)).toDF("u", "ts", "eid")
    assert(engine.sessions(ev, "u", "ts", "eid").count() == 2L)
    assert(engine.dailyAnomalies(ev, "ts").count() == 1L)
    val vals = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    assert(engine.clampedMean(vals, "v", "id", 0.1)
      .head().getAs[Long]("n_clamped_each") == 1L)
    val logged = Seq((1L, 500000L)).toDF("r", "p")
    assert(engine.policyValue(logged, "r", "p", k = 2)
      .head().getAs[Long]("ips_micros") == 1000000L)
    val wins = Seq(("a", "b", 3L), ("b", "a", 1L)).toDF("a", "b", "w")
    assert(engine.preferenceStrengths(wins, "a", "b", "w")
      .collect().map(_.getLong(1)).toSet == Set(1500000L, 500000L))
    // knows-graph readouts: shapes + sane ranges on the tiny fixture
    assert(engine.graphTransitivity().head().getAs[Long]("n_wedges") >= 0L)
    assert(engine.robustness(Seq(1.0)).head()
      .getAs[Long]("giant_frac_micros") > 0L)
    assert(engine.coreness().count() > 0L)
    assert(engine.communitiesLouvain().count() > 0L)
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(engine.vocabGrowth(docs, "text", "doc_id").head()
      .getAs[Long]("n_groups") == 1L)
    assert(engine.noveltyScores(docs, "doc_id", "text", docs, "text")
      .head().getAs[Long]("novelty_micros") == 0L)
    val urls = Seq((1L, "https://a.com/x?q=1"), (2L, "https://a.com/x"))
      .toDF("id", "url")
    assert(engine.dedupByUrl(urls, "id", "url").count() == 1L)
  }

  test("graph admin: dump then clear") {
    assert(engine.dumpGraph().length == 6)
    // plant a stale __old from a "crashed swap" — clearGraph must remove
    // it too, or the writer's next recoverSwap resurrects the graph
    val fs = new org.apache.hadoop.fs.Path(engine.vertexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(engine.vertexPath + "__old"))
    engine.clearGraph()
    assert(engine.vertices.isEmpty && engine.edges.isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(engine.vertexPath + "__old")))
    // and a fresh ingest after clear rebuilds from scratch
    engine.ingest(cards)
    assert(engine.vertices.count() == 6 && engine.edges.count() == 8)
  }

  // -------------------------------------------------------- helpers

  private def foldThreads: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith("graft-fold-"))
  }

  /** The cards with owners renamed. The engine derives `owner` from the
    * s3 key's file-name prefix, so the key is renamed too. */
  private def renameOwners(df: DataFrame,
                           rename: Map[String, String]): DataFrame =
    rename.foldLeft(df) { case (d, (from, to)) =>
      d.withColumn("s3_key", regexp_replace(col("s3_key"), s"/${from}_", s"/${to}_"))
        .withColumn("owner", when(col("owner") === from, to).otherwise(col("owner")))
    }

  private def plantCorruptFile(dir: String): Unit =
    Files.write(java.nio.file.Paths.get(dir, "part-99999-corrupt.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  private def albumOf(path: String): DataFrame =
    spark.read.schema(Encoders.product[AlbumEntry].schema).parquet(path)

  /** `GraftEngine.ingest` as it was before its table merges ran
    * concurrently: the four merges one after another, with the album
    * written one directory per owner. The reference fold. */
  private def sequentialIngest(wh: String, cards: DataFrame): Unit = {
    import graft.operators.GraphBuild
    import graft.streaming.CardStream
    val enriched = CardStream.validated(cards)
    CardStream.mergeLww(spark, enriched, s"$wh/search_table", Seq("doc_id"), "created_at")
    val (v, e) = GraphBuild.buildGraph(enriched)
    val vOrd = enriched
      .withColumn("id", graft.functions.GraftFunctions.personId(col("email")))
      .groupBy("id").agg(max("created_at").as("created_at"))
    CardStream.mergeLww(spark, v.join(vOrd, "id"), s"$wh/vertices", Seq("id"), "created_at")
    CardStream.mergeLww(spark, e.withColumn("_ord", lit(0)), s"$wh/edges",
      Seq("src", "dst"), "_ord")
    val albumNew = enriched.select("owner", "image_id", "doc_id", "s3_bucket", "s3_key")
    CardStream.recoverSwap(spark, s"$wh/by_user")
    val album = CardStream.tableOrEmpty(spark, s"$wh/by_user", albumNew)
      .unionByName(albumNew)
      .dropDuplicates("owner", "image_id")
    CardStream.swapInto(spark, album, s"$wh/by_user", partitionCols = Seq("owner"))
  }

  /** Run `f` and return the job group of every Spark job it launched,
    * and the file count of every write it committed. A marker job
    * launched after `f` drains the listener queue: events arrive in
    * order, so once the marker's start is seen every earlier event has
    * been delivered. */
  private def captured(f: => Unit): (Seq[String], Seq[Long]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val files = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }) ++ p.children).flatMap(nodes)
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = String.valueOf(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)
        if (g == marker) markerSeen.countDown() else groups.add(g)
      }
    }
    val writes = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        nodes(qe.executedPlan).collect { case w: DataWritingCommandExec =>
          files.add(w.metrics.get("numFiles").fold(0L)(_.value)) }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(writes)
    try {
      f
      // on its own thread, so the caller's job group stays as it is
      val drain = new Thread(() => {
        sc.setJobGroup(marker, "listener drain")
        spark.range(1).count()
      })
      drain.start()
      drain.join()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(writes)
    }
    import scala.jdk.CollectionConverters._
    (groups.asScala.toSeq, files.asScala.toSeq)
  }
}
