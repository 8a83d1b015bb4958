package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftEngine
import graft.model.{AlbumEntry, KnowsEdge, Schemas}
import graft.operators.{AsOfJoin, Bpe, Dedup, Drift, EntityResolution, Eval, Events,
  Features, GraphAnalytics, Hybrid, Packing, Pca, Pq, Profile, Pymk, QualityLr, Sampling,
  Sketches, Stats, TextAnalysis, UrlOps}
import graft.streaming.CardStream

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
    // the other memo-backed reads: a repeat is the same frame
    val reads = Seq[(String, () => DataFrame)](
      "phraseSearch" -> (() => engine.phraseSearch("edy kim")),
      "fuzzySearch" -> (() => engine.fuzzySearch("edi", maxEdits = 1)),
      "linkPredict" -> (() => engine.linkPredict(5)),
      "node2vec" -> (() => engine.node2vec(1, 2)))
    val warm = reads.map { case (name, read) =>
      val first = read()
      assert(read() eq first, s"$name: repeat call not served from the memo")
      first
    }
    // a write invalidates: the next call recomputes (and sees the write)
    val doc = engine.search("harry jang").collect().head.getAs[String]("doc_id")
    engine.softDelete(doc)
    val after = engine.search("harry jang", limit = 5)
    assert(!(after eq hits1))
    assert(!after.collect().map(_.getAs[String]("doc_id")).contains(doc))
    for (((name, read), before) <- reads.zip(warm))
      assert(!(read() eq before), s"$name: served a memo entry from before the write")
  }

  test("the public surface is the serving core plus the memo-backed reads") {
    // a one-line forwarder to an operator adds no engine state: callers
    // use the operator over engine.searchTable / vertices / edges
    val kept = Set("ingest", "search", "pymk", "softDelete", "userAlbum",
      "clearGraph", "dumpGraph", "refresh", "searchTable", "vertices", "edges",
      "searchPath", "vertexPath", "edgePath", "albumPath", "SearchFields", "cacheKey",
      "phraseSearch", "fuzzySearch", "linkPredict", "node2vec", "pymkPpr", "pymkSalsa")
    // compiler-made names (default arguments, accessors) contain '$'
    val declared = classOf[GraftEngine].getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(declared -- kept == Set.empty, "public methods beyond the serving surface")
    assert(kept -- declared == Set.empty, "serving surface methods missing")
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

  test("table reads launch no job after a fold; a cold request runs few jobs") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_jobs").toString)
    e.ingest(cards)
    val reads = Seq[(String, () => DataFrame)]("searchTable" -> (() => e.searchTable),
      "vertices" -> (() => e.vertices), "edges" -> (() => e.edges))
    for ((name, read) <- reads) {
      assert(captured(read())._1.isEmpty, s"$name launched a job")
      // the schema the fold remembered is the one inference gives
      val path = Map("searchTable" -> e.searchPath, "vertices" -> e.vertexPath,
        "edges" -> e.edgePath)(name)
      assert(read().schema == spark.read.parquet(path).schema, name)
    }
    // a search is a statistics aggregate (2 jobs under AQE) and the
    // scoring top-k, whose rows the memo collects: 3 jobs with the
    // caller's collect, where a posting explode/join plan runs 11–14
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val search = () => e.search("poby kim", owner = Some("poby"))
    val searchJobs = captured(search().collect())._1.size
    assert(searchJobs <= 3, searchJobs)
    // a PYMK is the anchor lookup, the friend bag, the 2-hop aggregate
    // (2 jobs under AQE) and the candidates' properties
    val pymk = () => e.pymk("poby kim")
    val pymkJobs = captured(pymk().collect())._1.size
    assert(pymkJobs <= 5, pymkJobs)
    val phrase = () => e.phraseSearch("poby kim")
    val fuzzy = () => e.fuzzySearch("pobi", maxEdits = 1)
    phrase().collect()
    fuzzy().collect()
    // a memo hit is the rows the miss collected: no job to read them
    for ((name, read) <- Seq("search" -> search, "pymk" -> pymk,
        "phraseSearch" -> phrase, "fuzzySearch" -> fuzzy)) {
      val hitJobs = captured(assert(read().collect().nonEmpty, name))._1
      assert(hitJobs.isEmpty, s"$name: a memo hit launched ${hitJobs.size} jobs")
    }
    // and no top-k read pinned a block (the shared session may still
    // hold other suites' checkpoints until they are collected)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore).isEmpty)
  }

  test("a fold after the first launches at most 8 jobs; a table read without a schema none") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_budget").toString)
    e.ingest(cards.filter(col("owner") =!= "pororo"))
    // one shuffle and one write per table (2 jobs each under AQE): no
    // schema-inference job, no batch dedup before the LWW window
    val foldJobs = captured(e.ingest(cards))._1.size
    assert(foldJobs <= 8, foldJobs)
    for (path <- Seq(e.searchPath, e.vertexPath, e.edgePath, e.albumPath)) {
      var read: Option[DataFrame] = None
      assert(captured { read = CardStream.readTable(spark, path) }._1.isEmpty, path)
      assert(read.map(_.schema) == Some(spark.read.parquet(path).schema), path)
    }
  }

  test("a table with partition directories or a summary file is read as Spark infers it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_footer").toString
    val rows = Seq(("a", 1, "x"), ("b", 2, "y")).toDF("k", "n", "p")
    rows.write.partitionBy("p").parquet(s"$dir/parted")
    val parted = CardStream.readTable(spark, s"$dir/parted").get
    assert(parted.schema == spark.read.parquet(s"$dir/parted").schema)
    assert(parted.schema.fieldNames.toSeq == Seq("k", "n", "p"))
    // Spark takes the schema of `_common_metadata` before any data
    // file's footer; here the two disagree
    rows.write.parquet(s"$dir/summary")
    Seq("z").toDF("other").write.parquet(s"$dir/elsewhere")
    val foreign = new java.io.File(s"$dir/elsewhere").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(foreign, java.nio.file.Paths.get(s"$dir/summary/_common_metadata"))
    val summary = CardStream.readTable(spark, s"$dir/summary").get
    assert(summary.schema == spark.read.parquet(s"$dir/summary").schema)
    assert(summary.schema.fieldNames.toSeq == Seq("other"))
    // with mergeSchema on, Spark merges every file's schema
    rows.drop("p").write.parquet(s"$dir/merged")
    rows.drop("p").withColumn("extra", lit(1)).write.mode("append").parquet(s"$dir/merged")
    assert(CardStream.readTable(spark, s"$dir/merged").get.schema ==
      spark.read.parquet(s"$dir/merged").schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = CardStream.readTable(spark, s"$dir/merged").get
      assert(merged.schema == spark.read.parquet(s"$dir/merged").schema)
      assert(merged.schema.fieldNames.toSeq == Seq("k", "n", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a fold stores the edges with KnowsEdge's columns, also over edges stored with _ord") {
    val knows = Encoders.product[KnowsEdge].schema.fieldNames.toSeq
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_edges").toString)
    e.ingest(cards)
    assert(e.edges.columns.toSeq == knows)
    assert(spark.read.parquet(e.edgePath).columns.toSeq == knows)
    // a warehouse whose edges an older fold wrote with its `_ord` helper
    val wh = Files.createTempDirectory("graft_wh_ord").toString
    val (_, oldEdges) = graft.operators.GraphBuild.buildGraph(CardStream.validated(cards))
    CardStream.mergeLww(spark, oldEdges.withColumn("_ord", lit(0)), s"$wh/edges",
      Seq("src", "dst"), "_ord")
    assert(spark.read.parquet(s"$wh/edges").columns.contains("_ord"))
    val legacy = new GraftEngine(spark, wh)
    assert(legacy.edges.columns.toSeq == knows)
    val before = sortedRows(legacy.edges)
    legacy.ingest(cards.limit(3))
    assert(legacy.edges.columns.toSeq == knows)
    assert(spark.read.parquet(s"$wh/edges").columns.toSeq == knows)
    assert(sortedRows(legacy.edges) == before)
  }

  test("a column an external mergeLww adds survives the engine's next fold") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_extfold").toString)
    e.ingest(cards.filter(col("owner") =!= "pororo"))
    val extra = CardStream.validated(cards).limit(1)
      .withColumn("doc_id", lit("ext-1"))
      .withColumn("note", lit("external"))
    CardStream.mergeLww(spark, extra, e.searchPath, Seq("doc_id"), "created_at")
    val tagged = e.vertices.limit(1).withColumn("tag", lit("vip"))
    CardStream.mergeLww(spark, tagged, e.vertexPath, Seq("id"), "created_at")
    e.ingest(cards)
    e.refresh()
    val notes = e.searchTable.filter(col("note").isNotNull)
      .select("doc_id", "note").collect().map(r => r.getString(0) -> r.getString(1))
    assert(notes.toSeq == Seq("ext-1" -> "external"))
    assert(e.searchTable.count() == 12)
    assert(e.vertices.filter(col("tag") === "vip").count() == 1)
    assert(e.vertices.count() == 6)
  }

  test("the pymk memo keys on the name as the anchor lookup matches it") {
    val first = engine.pymk("Poby Kim", limit = 7)
    assert(engine.pymk("poby kim", limit = 7) eq first)
    assert(engine.pymk("POBY KIM", limit = 7) eq first)
    assert(!(engine.pymk("poby kim", limit = 8) eq first))
  }

  test("search, phraseSearch and fuzzySearch find an upper-case query under a Turkish default locale") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_tr").toString)
    e.ingest(cards.limit(1).withColumn("name", lit("Ivan Lee")))
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // "IVAN".toLowerCase is "ıvan" here; Spark lowers ASCII to "ivan"
      assert("IVAN".toLowerCase != "ivan")
      val doc = e.searchTable.select("doc_id").head().getString(0)
      assert(e.search("IVAN").collect().map(_.getAs[String]("doc_id")).toSeq == Seq(doc))
      assert(e.phraseSearch("IVAN LEE").collect().map(_.getString(0)).toSeq == Seq(doc))
      assert(e.fuzzySearch("IVAN", maxEdits = 0).collect().map(_.getString(0)).toSeq == Seq(doc))
    } finally java.util.Locale.setDefault(default)
  }

  test("the search memo keys on the query's canonical terms") {
    val first = engine.search("Ivan  Lee", limit = 7)
    // lowered and split as the documents are, repeats dropped
    for (q <- Seq("ivan lee", "IVAN\tlee", " ivan lee ivan "))
      assert(engine.search(q, limit = 7) eq first, q)
    // term order is kept: it orders the score's float sum
    assert(!(engine.search("lee ivan", limit = 7) eq first))
  }

  test("an external write is seen without refresh; refresh reads its new column") {
    val e = new GraftEngine(spark, Files.createTempDirectory("graft_wh_ext").toString)
    e.ingest(cards)
    assert(e.search("kim").collect().nonEmpty)
    val extra = CardStream.validated(cards).limit(1)
      .withColumn("doc_id", lit("ext-1"))
      .withColumn("name", lit("Zelda Quux"))
      .withColumn("note", lit("external"))
    CardStream.mergeLww(spark, extra, e.searchPath, Seq("doc_id"), "created_at")
    val before = e.search("zelda quux").collect()
    assert(before.map(_.getAs[String]("doc_id")).toSeq == Seq("ext-1"))
    assert(e.searchTable.count() == 12)
    e.refresh()
    val after = e.search("zelda quux").collect()
    assert(after.map(_.getAs[String]("doc_id")).toSeq == Seq("ext-1"))
    assert(after.head.getAs[String]("note") == "external")
  }

  test("extension surface: pymkAll, dedupByContent, pageRank, communities") {
    // all-pairs PYMK agrees with the single-anchor golden for poby
    val pobyId = "6f371694" // md5("poby")[:8] — CardPipelineSpec golden
    val all = Pymk.recommendAll(engine.edges, 10)
      .filter(col("anchor") === pobyId)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val single = graft.operators.Pymk.recommend(engine.edges, lit(pobyId), 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == single && single.nonEmpty)
    // dedup by content_id keeps one row per distinct card content
    val deduped = Dedup.exact(engine.searchTable, "content_id", "doc_id")
    assert(deduped.count() ==
      engine.searchTable.select("content_id").distinct().count())
    // GraphX analytics run over the engine graph
    assert(GraphAnalytics.pageRank(engine.vertices, weightedEdges, 5).count() == 6)
    val comps = GraphAnalytics.connectedComponents(engine.vertices, weightedEdges)
      .select("component").distinct().count()
    assert(comps >= 1 && comps <= 6)
    // triangles: every vertex counted; DF plan agrees with the engine's
    // GraphX-mapped ids
    val tri = GraphAnalytics.triangleCounts(engine.vertices, weightedEdges).collect()
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
    val inf = GraphAnalytics.pageRank(engine.vertices, weightedEdges, 5)
      .orderBy(desc("rank"), asc("id")).limit(3).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val pr = GraphAnalytics.pageRank(engine.vertices, weightedEdges, 5).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortBy { case (id, rank) => (-rank, id) }.take(3)
    assert(inf.toList == pr.toList)
  }

  test("centrality: harmonic over the knows graph covers every person, hubs lead") {
    val h = GraphAnalytics.harmonicCentrality(engine.edges, numSources = 6, maxDepth = 4).collect()
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
    val sal = GraphAnalytics.salsa(engine.edges, 3).collect()
    assert(sal.length == 6)
    assert(math.abs(sal.map(_.getLong(1)).sum - 1000000L) <= 6L)
    assert(math.abs(sal.map(_.getLong(2)).sum - 1000000L) <= 6L)
    // reciprocity is a single well-formed ratio row
    val rec = GraphAnalytics.reciprocity(engine.edges).head()
    assert(rec.getLong(1) <= rec.getLong(0) &&
      rec.getLong(2) >= 0L && rec.getLong(2) <= 1000000L)
    // degree-exponent readout: α > 1 by construction on any tail
    val alpha = GraphAnalytics.powerLawAlpha(engine.edges, 2).head()
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
    val rc = GraphAnalytics.richClub(engine.edges, 0).head()
    assert(rc.getLong(1) > 0L && rc.getLong(3) > 0L &&
      rc.getLong(3) <= 1000000L)
  }

  test("graph facade: eigenvector, independentSet, communitiesTwoStar, sketch overlap") {
    import spark.implicits._
    // eigenvector over string vertex keys: every vertex scored, mass
    // sums to ~1e6 (rounding slack ≤ #vertices micros)
    val eig = GraphAnalytics.eigenvectorCentrality(engine.edges, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(eig.size == 6)
    assert(math.abs(eig.values.sum - 1000000L) <= 6L)
    // MIS on string ids (struct-ordered priorities): independent and
    // maximal on the 6-person knows graph
    val mis = GraphAnalytics.maximalIndependentSet(engine.edges, 4).collect()
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
    val two = GraphAnalytics.ccTwoStar(engine.edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val lab = GraphAnalytics.connectedComponents(engine.vertices, weightedEdges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(two.keySet == lab.keySet)
    assert(two.groupBy(_._2).values.map(_.keySet).toSet ==
      lab.groupBy(_._2).values.map(_.keySet).toSet,
      "component partitions differ")
    // theta-sketch overlap on two overlapping id frames
    val a = (1 to 300).map(i => s"id-$i").toDF("v")
    val b = (201 to 500).map(i => s"id-$i").toDF("v")
    val ov = Sketches.kmvIntersectEstimate(a, "v", b, "v", 64).collect().head
    assert(ov.getAs[Long]("est_union") > 0)
    val ds = Sketches.kmvEstimate(a, "v", 64).collect().head
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
      AsOfJoin.asOf(obs, state, "key", "ts", Seq("v"), direction)
        .orderBy("ts").collect().map(_.getAs[String]("asof_v")).toSeq
    assert(vals("backward") == Seq("old", "new"))
    assert(vals("forward") == Seq("new", null))
    assert(vals("nearest") == Seq("new", "new"))

    // lengthBuckets: scalable default ≡ ntile spec form on the
    // engine's own doc-length profile
    val lens = engine.searchTable
      .select(col("doc_id"),
        length(coalesce(col("addr"), lit(""))).cast("long").as("tok"))
    val scalable = Packing.lengthBucketsScalable(lens, "doc_id", "tok", 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    val spec = Packing.lengthBuckets(lens, "doc_id", "tok", 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(scalable == spec && scalable.values.toSet == Set(1, 2, 3))

    // packSequences: 11 docs land in contiguous bins, and the packed
    // output matches the global-window spec form bit-for-bit
    val packed = Packing.packScalable(lens, "doc_id", "tok", budget = 60L)
    val specPack = Packing.pack(lens, "doc_id", "tok", 60L)
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
    assert(TextAnalysis.chunkDocuments(df, "id", "text", 2, 2).count() == 2)
    // (a,</w>)×4 then (t,a</w>)×2, then no pair reaches 2 — early stop
    val merges = Bpe.train(df, "text", 3)
    assert(merges == Seq(("a", "</w>"), ("t", "a</w>")))
    val dec = df.withColumn("pieces", Bpe.encode(col("text"), merges))
      .select(Bpe.decode(col("pieces"))).head().getString(0)
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
    val banded = pairs(Dedup.fuzzyJoin(l, "id", "text", r, "id", "text",
      n = 2, minJaccard = 0.5))
    val exact = pairs(Dedup.fuzzyJoinExact(l, "id", "text", r, "id", "text",
      n = 2, minJaccard = 0.5))
    assert(banded.keySet == Set((1L, 10L)) && banded == exact)

    // stream-stream interval join facade, batch-equivalence form:
    // trailing 1 h window pairs the click with both earlier views only
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val clicks = Seq((1L, "u1", ts(60))).toDF("event_id", "user_id", "ts")
    val views = Seq((100L, "u1", ts(10)), (101L, "u1", ts(30)),
      (102L, "u1", ts(120))).toDF("event_id", "user_id", "ts")
    val joined = CardStream.streamIntervalJoin(clicks, views, "user_id", "ts", "ts")
      .select(col("event_id"), col("r_event_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(joined == Set((1L, 100L), (1L, 101L)))

    // trailing window: 10-minute frame counts only in-window history
    val ev = Seq(("u1", ts(0), 1.0), ("u1", ts(5), 2.0), ("u1", ts(20), 4.0))
      .toDF("user_id", "ts", "v")
    val tw = Features.trailingWindow(ev, "user_id", "ts", "v", 10L * 60 * 1000000)
      .collect().map(x => x.getTimestamp(1).getTime / 60000 ->
        ((x.getLong(3), x.getDouble(4)))).toMap
    assert(tw == Map(0L -> ((1L, 1.0)), 5L -> ((2L, 3.0)), 20L -> ((1L, 4.0))))

    // leave-one-out target encoding: each row sees only the others'
    // mean; the singleton category is NULL with the global fallback
    val te = Features.targetEncodeLoo(
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
    val clean = TextAnalysis.c4Clean(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(clean == Map(1L -> 1, 3L -> 1)) // doc 2 killed by lorem ipsum
    val cur = UrlOps.curateByDomain(docs, "id", "url",
        blockedDomains = Seq("d2.com"), maxPerDomain = 1)
      .collect().map(r => (r.getLong(0), r.getAs[String]("domain")))
    assert(cur.toSet == Set((1L, "d1.com"))) // d2 blocked, d1 capped to 1
    // pca fit+project over a tiny planted frame
    val emb = (1 to 50).map(i =>
        (i.toLong, Array(i.toFloat, 0f, (51 - i).toFloat, 1f)))
      .toDF("id", "embedding")
    val (basis, evar, mean) = Pca.pcaFit(emb, "embedding", 1)
    assert(evar(0) > 100.0 && basis(0).length == 4)
    assert(Pca.project(emb, "embedding", "y", basis, mean)
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
    val cb = Pq.pqTrain(pts, "vec_id", "embedding", m = 2, ksub = 2)
    val enc = Pq.pqEncode(pts, cb, "vec_id", "embedding")
    val q = pts.filter(col("vec_id") < 2)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val hits = Pq.pqTopK(q, enc, cb, "vec_id", "embedding", k = 3)
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
    val e = Eval.ece(Eval.calibrationBins(scored, "y", "p", bins = 2)).head()
    assert(e.getAs[Long]("n") === 4L)
    assert(e.getAs[Long]("ece_micros") === 400000L)
    assert(Eval.aucRank(scored, "y", "p").head()
      .getAs[Long]("auc_micros") === 500000L)
    // one query: run order (rel 2, rel 0, rel 1); dcg = 2e6 + 0 +
    // floor(1e6/log2(4)); idcg ranks rel desc = 2e6 + floor(1e6/log2(3))
    val run = Seq((1L, 10L, 3.0), (1L, 20L, 2.0), (1L, 30L, 1.0))
      .toDF("qid", "id", "score")
    val qrels = Seq((1L, 10L, 2L), (1L, 30L, 1L)).toDF("qid", "id", "rel")
    val nd = Eval.ndcgAtK(run, qrels, k = 3).head()
    assert(nd.getAs[Long]("dcg_micros") === 2500000L)
    assert(nd.getAs[Long]("idcg_micros") === 2630929L)
    assert(nd.getAs[Long]("ndcg_micros") === 950234L)
    // collocations: "x y" ×8, "z w" ×2 → pmi(x,y) = ln 1.25 micros
    val corpus = (Seq.fill(8)("x y") ++ Seq.fill(2)("z w")).toDF("text")
    val pmi = TextAnalysis.pmiPairs(corpus, "text", window = 3, minCount = 2L)
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
    val f = Events.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"), "7 DAYS").collect()
    assert(f.map(r => r.getLong(2)).toSeq == Seq(2L, 1L))
    val tr = Events.transitionMatrix(ev, "user_id", "ts", "event_type",
        Seq("event_id")).collect()
    assert(tr.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq(("signup", "view", 1L)))
    assert(Stats.welchT(Seq(1.0, 2.0).toDF("value"),
      Seq(1.0, 2.0).toDF("value"), "value").head().getAs[Long]("t_micros")
      == 0L)
    val ci = Stats.bootstrapCI(
      (1 to 50).map(i => (i.toLong, 1.0)).toDF("id", "value"),
      "id", "value", b = 8).head()
    // constant values: every replicate mean is exactly 1e6
    assert((ci.getLong(1), ci.getLong(2), ci.getLong(3)) ==
      ((1000000L, 1000000L, 1000000L)))
    val folds = Sampling.kFold(
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
    val spread = GraphAnalytics.labelSpread(engine.edges, seeds, rounds = 6).collect()
    assert(spread.nonEmpty && spread.forall(_.getLong(1) == 7L))
    // quantileBins: 100 rows into 4 exact bins
    val qb = Features.quantileBins((1L to 100L).map(i => (i, i % 37))
        .toDF("id", "v"), "v", "id", 4)
      .groupBy("bin").count().collect().map(_.getLong(1))
    assert(qb.toSet == Set(25L))
    // randomProject emits outDim rows per input
    val rp = Pca.randomProject(
      Seq((1L, Array.fill(8)(0.5f))).toDF("id", "v"), "id", "v", 4, 8)
    assert(rp.count() == 4)
    // interleave: 2 runs of 2 → 4 balanced positions
    val ra = Seq((1L, "x", 2L), (1L, "y", 1L)).toDF("qid", "id", "score")
    val rb = Seq((1L, "p", 2L), (1L, "q", 1L)).toDF("qid", "id", "score")
    val il = Hybrid.teamDraft(ra, rb, 4).collect()
    assert(il.length == 4 && il.map(_.getString(3)).count(_ == "A") == 2)
    // sequenceScore + banditScores + conversionInterval on a tiny log
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "a", 1L),
      (1L, ts("2024-01-01 11:00:00"), "b", 2L))
      .toDF("user_id", "ts", "event_type", "event_id")
    assert(Events.sequenceScore(ev, "user_id", "ts", "event_type",
      Seq("event_id")).count() == 1)
    val bandit = Events.ucbScores(ev, col("user_id"),
      (col("event_type") === "b").cast("int")).collect()
    assert(bandit.length == 1 && bandit.head.getLong(1) == 2L)
    val ciw = Stats.wilsonInterval(ev, col("user_id"),
      (col("event_type") === "b").cast("int")).head()
    assert(ciw.getLong(4) <= 500000L && ciw.getLong(5) >= 500000L)
    // mutualMatches on a 2-cycle
    val mm = Pymk.mutualBest(
      Seq((1L, 2L, 5L), (2L, 1L, 4L)).toDF("item", "rec", "s"),
      "item", "rec", "s").collect()
    assert(mm.length == 1 && mm.head.getLong(0) == 1L)
    // evalAveragePrecision: single relevant at rank 1 → AP 1.0
    val ap = Eval.averagePrecisionAtK(ra,
      Seq((1L, "x")).toDF("qid", "id"), 2).head()
    assert(ap.getLong(3) == 1000000L)
    // vocabularyDrift of identical frames is 0
    val vd = Drift.jsDivergence(Seq("t").toDF("k"),
      Seq("t").toDF("k"), "k").head()
    assert(vd.getLong(3) == 0L)
    // winnowFingerprints + blockingReport smoke through the facade
    assert(TextAnalysis.winnow(
      Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"),
      "doc_id", "text").count() > 0)
    val br = EntityResolution.blockingQuality(
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
    assert(Events.stickiness(ev, "user_id", "t").head().getLong(4) == 750000L)
    // churnCurve: u2 churns day 1 of 2 users → S(d1) = 500000
    assert(Events.kaplanMeier(ev, "user_id", "t").head().getLong(4) == 500000L)
    // customerSegments emits one coded row per user
    val rfm = Events.rfm(ev, "user_id", "t", "v").collect()
    assert(rfm.length == 2 && rfm.forall(r => r.getLong(7) >= 111L))
    // userEntropy: single-type users read exactly 0
    assert(Events.behaviorEntropy(ev, "user_id", "etype")
      .collect().forall(_.getLong(3) == 0L))
    // controlChart + seasonality + robustMean over a tiny series
    assert(Drift.ewma(ev, "t", "v", 100000000L).count() == 2)
    assert(Drift.acf(ev, "t", 1).head().getLong(1) == 1L)
    assert(Stats.trimmedMean(ev.select(col("user_id").as("id"), col("v")),
      "v", "id", 0.0).head().getLong(3) == 2000000L)
    // eval family: brier/prAuc/kappa on tiny frames
    val sc = Seq((1000000L, 1), (0L, 0)).toDF("p", "y")
    assert(Eval.brierScore(sc, "y", "p").head().getLong(1) == 0L)
    assert(Eval.prAuc(sc, "y", "p").head().getLong(2) == 1000000L)
    assert(Eval.cohenKappa(Seq((1L, 1L), (0L, 0L)).toDF("a", "b"),
      "a", "b").head().getLong(2) == 1000000L)
    // calibrateFit returns the (n, A, B) params row
    val pf = QualityLr.plattFit(Seq((2000000L, 1), (-2000000L, 0))
      .toDF("m_micros", "y"), "m_micros", "y", iters = 1).head()
    assert(pf.getLong(0) == 2L && pf.getLong(1) > 1000000L)
    // labelClusters: distinctive term per slice
    val lc = TextAnalysis.classTfidf(Seq(("A", "apple apple"),
      ("B", "banana")).toDF("cls", "text"), "cls", "text", 1).collect()
    assert(lc.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("A", "apple"), ("B", "banana")))
    // driftEmbeddings: identical slices cos 1e6 gap 0
    val em = Seq(Seq(1f, 0f)).toDF("embedding")
    val de = Drift.centroidDrift(em, em, "embedding").head()
    assert((de.getLong(2), de.getLong(3)) == ((1000000L, 0L)))
    // dedupSurvivors: best score survives
    val surv = Dedup.keepBest(
      Seq((1L, 10L), (2L, 10L)).toDF("doc_id", "cluster"),
      Seq((1L, 3L), (2L, 9L)).toDF("doc_id", "sc"),
      "doc_id", "sc").head()
    assert(surv.getLong(1) == 2L && surv.getLong(3) == 2L)
    // recDiversity + didEstimate + attributeLinear + quadCount +
    // communityConductance smoke with real shapes
    val inter = Seq((1L, "a"), (2L, "a"), (1L, "b")).toDF("u", "item")
    val rd = Eval.coverageNovelty(Seq("a").toDF("rec"), "rec",
      inter, "u", "item").head()
    assert(rd.getLong(3) == 500000L) // 1 of 2 catalog items covered
    val did = Stats.diffInDiff(Seq(("t", false, 1.0), ("t", true, 2.0),
        ("c", false, 1.0), ("c", true, 1.0)).toDF("g", "post", "v"),
      col("g") === "t", col("post"), "v").head()
    assert(did.getLong(4) == 1000000L)
    val ev2 = Seq((1L, ts("2024-01-01 10:00:00"), "purchase", 9L),
      (1L, ts("2024-01-01 09:00:00"), "click", 1L))
      .toDF("user_id", "t", "etype", "eid")
    val la = Events.linearAttribution(ev2, "user_id", "t", "etype", "eid",
      "purchase", Seq("click"), 86400000000L).head()
    assert(la.getLong(3) == 1000000L)
    assert(GraphAnalytics.c4Count(engine.edges).head().getLong(1) >= 0L)
    // sampled twin at a cap above any test-graph degree == exact
    assert(GraphAnalytics.c4CountSampled(engine.edges, maxDegree = 1024).head().getLong(2) ==
      GraphAnalytics.c4Count(engine.edges).head().getLong(1))
    val cc = GraphAnalytics.conductance(engine.edges,
      GraphAnalytics.labelPropagationDF(engine.edges)).collect()
    assert(cc.nonEmpty && cc.forall(_.getLong(4) <= 1000000L))
  }

  test("governance + graph-quality facade: anonymityReport, diversityReport, recExposure, weakTies-shape") {
    import spark.implicits._
    val df = Seq(("a", "s1"), ("a", "s1"), ("b", "s2")).toDF("q", "s")
    assert(Profile.kAnonymity(df, Seq("q"), 2L).head()
      .getAs[Long]("n_violating_groups") == 1L)
    assert(Profile.lDiversity(df, Seq("q"), "s", 2L).head()
      .getAs[Long]("n_violating_groups") == 2L)
    val recs = (Seq.fill(3)("a") ++ Seq.fill(1)("b")).toDF("rec")
    assert(Eval.exposureGini(recs, "rec").head()
      .getAs[Long]("gini_micros") == 250000L)
    // the knows graph is tiny + triangle-free → every edge is a weak tie
    val wt = GraphAnalytics.weakTies(engine.edges)
    assert(wt.columns.toSeq == Seq("u", "v"))
  }

  test("round-11 facades: sessions, clampedMean, policyValue, graph + rec readouts") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 01:00:00"), 2L)).toDF("u", "ts", "eid")
    assert(Events.sessionize(ev, "u", "ts", "eid", 30L * 60L * 1000000L).count() == 2L)
    assert(Events.seasonalOutliers(ev, "ts").count() == 1L)
    val vals = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    assert(Stats.winsorizedMean(vals, "v", "id", 0.1)
      .head().getAs[Long]("n_clamped_each") == 1L)
    val logged = Seq((1L, 500000L)).toDF("r", "p")
    assert(Eval.ipsEval(logged, "r", "p", k = 2, clipMicros = 1000L)
      .head().getAs[Long]("ips_micros") == 1000000L)
    val wins = Seq(("a", "b", 3L), ("b", "a", 1L)).toDF("a", "b", "w")
    assert(Stats.bradleyTerry(wins, "a", "b", "w")
      .collect().map(_.getLong(1)).toSet == Set(1500000L, 500000L))
    // knows-graph readouts: shapes + sane ranges on the tiny fixture
    assert(GraphAnalytics.transitivity(engine.edges).head().getAs[Long]("n_wedges") >= 0L)
    assert(GraphAnalytics.percolation(engine.edges, Seq(1.0)).head()
      .getAs[Long]("giant_frac_micros") > 0L)
    assert(GraphAnalytics.corenessHIndex(engine.edges).count() > 0L)
    assert(GraphAnalytics.louvainSync(engine.edges).count() > 0L)
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(TextAnalysis.heapsFit(docs, "text", "doc_id").head()
      .getAs[Long]("n_groups") == 1L)
    assert(Dedup.ngramNovelty(docs, "doc_id", "text", docs, "text", 3)
      .head().getAs[Long]("novelty_micros") == 0L)
    val urls = Seq((1L, "https://a.com/x?q=1"), (2L, "https://a.com/x"))
      .toDF("id", "url")
    assert(UrlOps.canonicalUrlDedup(urls, "id", "url").count() == 1L)
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

  /** The engine's edges with a null weight read as 1.0, the form its
    * weighted graph operators take. */
  private def weightedEdges: DataFrame =
    engine.edges.withColumn("weight", coalesce(col("weight"), lit(1.0)))

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
