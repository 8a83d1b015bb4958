package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Pymk, Search, SearchIndex, Skew, TopK}

/** The scale-path variants must agree with their direct counterparts:
  * all-pairs PYMK == per-anchor PYMK for every anchor; indexed search
  * == scan search; salted aggregation/join == plain.
  */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("recommendAll equals per-anchor recommend for every anchor") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val all = Pymk.recommendAll(edges, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (anchor <- 0L to 14L) {
      val single = Pymk.recommend(edges, lit(anchor), 1000).collect()
        .map(r => (anchor, r.getLong(0)) -> r.getLong(1)).toMap
      val allForAnchor = all.filter(_._1._1 == anchor)
      assert(allForAnchor == single, s"anchor $anchor")
    }
  }

  test("chunkDocuments: overlapping windows, short tail, empty docs, bad args") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "A b  c D e"), (2L, ""), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // window=3 stride=2 on 5 tokens: starts 0,2,4 — tail chunk is 1 token
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 3, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got == Map(
      (1L, 0) -> ((0, 3, "a b c")),
      (1L, 1) -> ((2, 3, "c d e")),
      (1L, 2) -> ((4, 1, "e")),
      (3L, 0) -> ((0, 3, "x y z")),
      (3L, 1) -> ((2, 2, "z w"))))      // doc 2 (empty) emits nothing
    // stride == window: exact partition, no overlap, every token once
    val part = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 2, 2)
      .filter(col("doc_id") === 3L).orderBy(col("chunk_idx"))
      .collect().map(_.getString(4)).toSeq
    assert(part == Seq("x y", "z w"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, "doc_id", "text", 2, 3)
    }
  }

  test("c4Clean: per-line and per-doc C4 rules, each exercised alone") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // line 1 kept; line 2 dropped (4 words); line 3 dropped (no
      // terminal punct); line 4 dropped (banned substring)
      (1L, "one two three four five.\nhas only four words.\n" +
        "five words but no period\nenable javascript to view this."),
      // doc-level ban: a surviving line exists, page still dropped
      (2L, "lorem ipsum dolor sit amet etc."),
      (3L, "curly brace { in config text here."),
      // no line survives -> dropped by minKeptLines
      (4L, "too short.\nalso tiny."),
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got == Map(1L -> ((4, 1, "one two three four five."))))
    // knobs: terminal-punct off + lower word floor + no bans keeps more
    val loose = TextAnalysis.c4Clean(docs, "doc_id", "text",
        minWords = 2, requireTerminal = false, bannedLine = Nil,
        bannedDoc = Nil, minKeptLines = 1).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(loose == Map(1L -> 4, 2L -> 1, 3L -> 1, 4L -> 2))
    // banned terms are case-insensitive BOTH ways (regression: an
    // uppercase term could never match the lowercased line). With the
    // "{" default ban overridden away, doc 3 now survives; doc 2 must
    // still die to "Lorem Ipsum", and doc 1's javascript line (5
    // words, terminal '.') must still be dropped by "JavaScript".
    val caps = TextAnalysis.c4Clean(docs, "doc_id", "text",
        bannedLine = Seq("JavaScript"), bannedDoc = Seq("Lorem Ipsum"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(caps.keySet == Set(1L, 3L) && caps(1L) == 1)
  }

  test("c4Clean: banned strings match under a Turkish default locale") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "one two three four five.\nenable javascript to view this."),
      (2L, "this page runs javascript code now.\nand it has a second line.")
    ).toDF("doc_id", "text")
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // the JVM lowers "JavaScrIpt" to "javascrıpt" here; Spark's lower
      // gives the text "javascript"
      assert("JavaScrIpt".toLowerCase != "javascript")
      val lines = TextAnalysis.c4Clean(docs, "doc_id", "text",
          bannedLine = Seq("JavaScrIpt"), bannedDoc = Nil)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(lines == Map(1L -> 1, 2L -> 1))
      val pages = TextAnalysis.c4Clean(docs, "doc_id", "text",
          bannedLine = Nil, bannedDoc = Seq("JavaScrIpt"))
        .collect().map(_.getLong(0)).toSeq
      assert(pages.isEmpty)
    } finally java.util.Locale.setDefault(default)
  }

  test("parseUrl: userinfo/port/query stripping, longest-suffix domain") {
    import graft.operators.UrlOps
    val cases = Seq(
      ("https://u:p@H.Example.COM:8080/a/b?q=1#f",
        ("https", "h.example.com", "example.com", "/a/b")),
      ("HTTP://WWW.site.co.uk/Page",          // multi-label suffix
        ("http", "www.site.co.uk", "site.co.uk", "/Page")),
      ("https://foo.github.io",               // github.io beats io
        ("https", "foo.github.io", "foo.github.io", "")),
      ("https://x.y.io/z",                    // plain io
        ("https", "x.y.io", "y.io", "/z")),
      ("https://co.uk",                       // host IS a suffix
        ("https", "co.uk", "co.uk", "")),
      ("example.com/x",                       // relative: no authority
        ("", "", "", "")))
    val got = cases.map(_._1).toDF("url")
      .select(UrlOps.parseUrl(col("url")).as("p"))
      .select(col("p.scheme"), col("p.host"), col("p.domain"), col("p.path"))
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == cases.map(_._2))
  }

  test("curateByDomain: blocklist anti-join and per-domain cap") {
    import graft.operators.UrlOps
    val docs = (1L to 20L).map(i =>
        (i, s"https://w.d${i % 3}.com/p/$i")).toDF("doc_id", "url")
    val out = UrlOps.curateByDomain(docs, "doc_id", "url",
        blockedDomains = Seq("d0.com"), maxPerDomain = 2)
      .collect().map(r => (r.getLong(0), r.getAs[String]("domain")))
    // d0.com blocked entirely; d1/d2 capped at their 2 lowest ids
    assert(out.toSet == Set((1L, "d1.com"), (4L, "d1.com"),
      (2L, "d2.com"), (5L, "d2.com")))
    // column order of the input survives the anti join
    val cols = UrlOps.curateByDomain(docs, "doc_id", "url",
      Seq("d0.com"), 0).columns.toSeq
    assert(cols == Seq("doc_id", "url", "scheme", "host", "domain", "path"))
  }

  test("temperatureSample: alpha flattens the head and lifts the tail") {
    // 400 'big' docs vs 20 'small': proportional (alpha=1) keeps the
    // same RATE for both; alpha=0.25 must lift the small group's rate
    val docs = ((1 to 400).map(i => (i.toLong, "big")) ++
      (1001 to 1020).map(i => (i.toLong, "small"))).toDF("id", "grp")
    def rates(alpha: Double): Map[String, Double] = {
      val kept = graft.operators.Sampling
        .temperatureSample(docs, "grp", "id", alpha, 100L)
        .groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      Map("big" -> kept.getOrElse("big", 0.0) / 400.0,
        "small" -> kept.getOrElse("small", 0.0) / 20.0)
    }
    val prop = rates(1.0); val flat = rates(0.25)
    // alpha=1: both groups sampled at ~the same rate (targetN/total)
    assert(math.abs(prop("big") - prop("small")) < 0.15,
      s"proportional rates diverged: $prop")
    // low alpha: the small group's keep-rate rises, the big one's falls
    assert(flat("small") > prop("small") && flat("big") < prop("big"),
      s"alpha=0.25 should flatten: prop=$prop flat=$flat")
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.temperatureSample(docs, "grp", "id", 0.0, 10L)
    }
  }

  test("hardNegatives equals label-filtered brute force per query") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(5)
    val emb = (1 to 40).map(i => (i.toLong,
        Array.fill(8)(rnd.nextGaussian().toFloat), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") < 4)
    val hard = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
        "label", "vec_id", "embedding", "label", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per-query cross-check against bruteForceTopK on the filtered corpus
    for (qid <- 1L to 3L) {
      val qlabel = s"l${qid % 3}"
      val expect = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === qid),
          emb.filter(col("label") =!= qlabel),
          "vec_id", "embedding", "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(hard.filter(_._1 == qid).toSeq == expect.toSeq, s"qid $qid")
    }
  }

  test("globalRank equals the global window; perplexity band keeps (lo, hi]") {
    import graft.operators.{NgramLm, Packing}
    val df = (1 to 97).map(i => (i.toLong, (i * 37 % 100).toLong))
      .toDF("doc_id", "ppl_milli")
    val (ranked, n) = Packing.globalRank(df, Seq("ppl_milli", "doc_id"))
    assert(n == 97)
    val viaWindow = df.withColumn("_w", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ppl_milli"), col("doc_id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    ranked.collect().foreach { r =>
      assert(r.getAs[Long]("_grank") == viaWindow(r.getLong(0)).toLong)
    }
    // band (0.1, 0.8] of 97 rows -> ranks 10..77 inclusive = 68 rows
    val kept = NgramLm.pruneByPerplexity(df, "doc_id", 0.1, 0.8)
    assert(kept.count() == 68 && kept.columns.toSeq == Seq("doc_id", "ppl_milli"))
    // keepLo = 0 keeps from rank 1
    assert(NgramLm.pruneByPerplexity(df, "doc_id", 0.0, 1.0).count() == 97)
    intercept[IllegalArgumentException] {
      NgramLm.pruneByPerplexity(df, "doc_id", 0.8, 0.2)
    }
  }

  test("trailingWindow: range frame holds exactly the last hour, ties included") {
    import graft.operators.Features
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq(
      (1L, "u1", ts(0), 10L), (2L, "u1", ts(30), 20L),
      (3L, "u1", ts(90), 40L),            // frame: [30, 90] -> 2 rows
      (4L, "u1", ts(90), 80L),            // tie at 90 joins row 3's frame
      (5L, "u2", ts(45), 7L)              // other key isolated
    ).toDF("event_id", "user_id", "ts", "vm")
    val got = Features.trailingWindow(ev, "user_id", "ts", "vm",
        3600L * 1000000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == ((1L, 10L)))
    assert(got(2L) == ((2L, 30L)))          // 0 and 30 within the hour
    assert(got(3L) == ((3L, 140L)))         // 30 + 90-tie pair; 0 aged out
    assert(got(4L) == ((3L, 140L)))         // RANGE: ties share the frame
    assert(got(5L) == ((1L, 7L)))
  }

  test("targetEncodeLoo: self excluded, singleton NULL, global mean attached") {
    import graft.operators.Features
    val ev = Seq(
      (1L, "a", 1.0), (2L, "a", 3.0), (3L, "a", 5.0),
      (4L, "b", 10.0)).toDF("event_id", "event_type", "value")
    val got = Features.targetEncodeLoo(ev, "event_type", "value")
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[Any]("loo_enc")), r.getAs[Double]("loo_global"))))
      .toMap
    assert(got(1L)._1.contains(4.0))   // (3+5)/2
    assert(got(2L)._1.contains(3.0))   // (1+5)/2
    assert(got(3L)._1.contains(2.0))   // (1+3)/2
    assert(got(4L)._1.isEmpty)         // singleton category: no peers
    assert(got.values.forall(_._2 == 4.75)) // (1+3+5+10)/4
  }

  test("indexed search equals scan search (in-memory and stored+bucketed)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val terms = "spark join fast"
    val scan = Search.scoreField(docs, "doc_id", "text",
        terms.split(" ").toSeq)
      .select(col("_doc").as("doc"), round(col("fscore"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val (postings, stats, n) = SearchIndex.build(docs, "doc_id", Seq("text"))
    val mem = SearchIndex.query(postings, stats, n, Seq("text" -> 1.0), terms, 10000)
      .select(col("doc"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mem == scan)

    val dir = Files.createTempDirectory("searchidx").toString
    SearchIndex.writeIndex(postings, stats, n, dir)
    // n served from the stored meta table — no corpus count at probe time
    val stored = SearchIndex.queryStored(spark, dir, Seq("text" -> 1.0), terms, 10000)
      .select(col("doc"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stored == scan, "bucketed partition-pruned probe must not lose postings")
  }

  test("incremental index merge equals full rebuild, incl. stored probe") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val (p1, s1, n1) = SearchIndex.build(b1, "doc_id", Seq("text"))
    val (p2, s2, n2) = SearchIndex.build(b2, "doc_id", Seq("text"))
    val (mp, ms, mn) = SearchIndex.merge(p1, s1, n1, p2, s2, n2)
    val (fp, fs, fn) = SearchIndex.build(docs, "doc_id", Seq("text"))
    assert(mn == fn)
    def pset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    def sset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pset(mp.select("field", "term", "doc", "tf")) ==
      pset(fp.select("field", "term", "doc", "tf")))
    assert(sset(ms.select("field", "term", "df")) ==
      sset(fs.select("field", "term", "df")))
    // stored path: write b1's index, fold b2 in, probe == full-rebuild probe
    val dir = Files.createTempDirectory("searchidx_inc").toString
    SearchIndex.writeIndex(p1, s1, n1, dir)
    assert(SearchIndex.mergeStored(spark, dir, b2, "doc_id", Seq("text")) == fn)
    val terms = "spark join fast"
    def probe(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val merged = probe(SearchIndex.queryStored(spark, dir,
      Seq("text" -> 1.0), terms, 10000))
    val full = probe(SearchIndex.query(fp, fs, fn, Seq("text" -> 1.0), terms, 10000))
    assert(merged == full, "merged stored index must probe identically to a full rebuild")
  }

  test("multi-field boosted search: index path equals Search.search") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val fields = Seq("source" -> 3.0, "text" -> 1.0)
    val terms = "src3 merge"
    val scan = Search.search(docs, "doc_id", fields, terms, 10000)
      .select(col("doc_id"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (postings, stats, n) = SearchIndex.build(docs, "doc_id",
      fields.map(_._1))
    val idx = SearchIndex.query(postings, stats, n, fields, terms, 10000)
      .select(col("doc"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(idx == scan)
  }

  test("hash split/sample: deterministic, partition-independent, subset-monotone") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def splitMap(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSplit(df, "doc_id", splits)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splitMap(docs)
    // repartitioning must not move any row between splits
    assert(s1 == splitMap(docs.repartition(7)))
    // disjoint and exhaustive
    assert(s1.size == docs.count())
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    // roughly proportional (hash uniformity; wide tolerance at n=500)
    val nTrain = s1.values.count(_ == "train")
    assert(nTrain > s1.size * 0.7 && nTrain < s1.size * 0.9, s"train=$nTrain")
    // sample membership is monotone in the fraction
    def sample(f: Double) = Sampling.hashSample(docs, "doc_id", f)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (p10, p25) = (sample(0.10), sample(0.25))
    assert(p10.subsetOf(p25) && p10.nonEmpty && p25.size > p10.size)
  }

  test("leakageSafeSplit: cluster members never straddle splits; singletons fall back to own id") {
    import spark.implicits._
    import graft.operators.Sampling
    // 100 docs, near-dup clusters of 2 (cluster = id/2); doc 99 has no
    // cluster row at all — the singleton fallback
    val docs = (0L until 100L).map(i => Tuple1(i)).toDF("doc_id")
    val clusters = (0L until 99L).map(i => (i, i / 2)).toDF("doc_id", "cluster")
    val got = Sampling.leakageSafeSplit(docs, "doc_id", clusters,
        Seq("train" -> 0.8, "test" -> 0.2))
      .select("doc_id", "cluster", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length === 100)
    // the no-straddle invariant: one split per cluster
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.forall(_._2.size == 1))
    // singleton fallback: doc 99 clusters to itself
    val d99 = got.find(_._1 == 99L).get
    assert(d99._2 === 99L)
    // both labels actually occur at n=100
    assert(got.map(_._3).toSet === Set("train", "test"))
  }

  test("checkConstraints: one-pass metrics with a failing row") {
    import spark.implicits._
    import graft.operators.Profile
    import graft.operators.Profile._
    val df = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, None, 30L), (3L, Some("c"), 200L))
      .toDF("id", "s", "v")
    val got = Profile.checkConstraints(df, Seq(
        Completeness("s", 1.0),           // 3/4 -> fail
        Uniqueness("id", 1.0),            // ids once: {1,2} -> 2/4 fail
        Distinctness("id", 0.7),          // 3 distinct / 4 -> pass
        Compliance("v_bounds", "v", col("v").between(1, 100), 0.5)))
      .collect().map(r => r.getAs[String]("constraint") ->
        (r.getAs[Long]("metric_micros"), r.getAs[Long]("threshold_micros"),
          r.getAs[Boolean]("passed"))).toMap
    assert(got("completeness(s)") === ((750000L, 1000000L, false)))
    // TRUE Deequ uniqueness (values occurring exactly once), not
    // distinctness: id=3 repeats, so only 2 of 4 rows are unique.
    assert(got("uniqueness(id)") === ((500000L, 1000000L, false)))
    assert(got("distinctness(id)") === ((750000L, 700000L, true)))
    assert(got("v_bounds") === ((750000L, 500000L, true)))
  }

  test("checkConstraints: empty batch fails positive thresholds, never NULL") {
    import spark.implicits._
    import graft.operators.Profile
    import graft.operators.Profile._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val got = Profile.checkConstraints(empty, Seq(
        Completeness("s", 0.9),
        Uniqueness("id", 1.0),
        Distinctness("id", 0.5)))
      .collect().map(r => r.getAs[String]("constraint") ->
        (r.getAs[Long]("metric_micros"), r.getAs[Boolean]("passed"))).toMap
    assert(got.size === 3)
    assert(got.values.forall { case (m, p) => m == 0L && !p })
  }

  test("perKeyCap keeps at most n rows per key, the lowest by the order") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val capped = Sampling.perKeyCap(docs, "lang", Seq("doc_id"), 2)
      .select("lang", "doc_id").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    val full = docs.select("lang", "doc_id").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.take(2).toSeq).toMap
    assert(capped == full)
    assert(capped.values.forall(_.length <= 2))
  }

  test("TopK.grouped equals the row_number window form; no Window/Sort in plan") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 4000).map { _ =>
      (s"g${rnd.nextInt(7)}", rnd.nextInt(40).toLong, rnd.nextInt(100000).toLong)
    }.toDF("g", "score", "id").dropDuplicates("g", "score", "id")
    // (score desc, id asc) via the negation idiom, payload = score
    val topk = TopK.grouped(df, Seq("g"),
        struct((-col("score")).as("ns"), col("id").as("i")), k = 6)
      .select(col("g"), col("rank"), col("best.i").as("id"),
        (-col("best.ns")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(desc("score"), asc("id"))
    val win = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 6).select("g", "rank", "id", "score")
    val a = topk.collect().map(r => (r.getString(0), r.getInt(1) + 0L,
      r.getLong(2), r.getLong(3))).toSet
    val b = win.collect().map(r => (r.getString(0), r.getInt(1) + 0L,
      r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
    // groups smaller than k: every row present, ranks dense from 1
    val tiny = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 9L, 3L)).toDF("g", "score", "id")
    val tk = TopK.grouped(tiny, Seq("g"),
        struct((-col("score")).as("ns"), col("id").as("i")), k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getStruct(2).getLong(1)))
    assert(tk.toSet == Set(("a", 1, 2L), ("a", 2, 1L), ("b", 1, 3L)))
    // the plan is heap-aggregation, not a windowed sort
    val plan = topk.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("sketch contracts hold on known cardinalities and quantiles") {
    import graft.operators.Sketches
    // 3 groups of 1k/5k/20k distinct ids, each id seen 1-3 times
    val rows = for {
      (g, n) <- Seq(("a", 1000), ("b", 5000), ("c", 20000))
      id <- 1 to n
      rep <- 1 to (id % 3 + 1)
    } yield (g, s"$g-$id", id % 7, id.toDouble)
    val df = rows.toDF("g", "uid", "bucket", "v")
    val c = Sketches.distinctContract(df, Seq("g"), col("bucket"), "uid")
      .collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == (3L, 3L, 3L))
    // estimates really are approximate on the big group, not exact pass-through
    val est = Sketches.distinctEstimate(df, Seq("g"), "uid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(est("c") - 20000L) <= 1000, s"est=${est("c")}")
    val q = Sketches.quantileContract(df, Seq("g"), "v", Seq(0.5, 0.95))
      .collect().head
    assert((q.getLong(0), q.getLong(1), q.getLong(2)) == (3L, 6L, 6L))
  }

  test("zorder: known Morton values; files cover compact per-column ranges") {
    import graft.operators.Layout
    // hand-checked interleaves: z(a,b) = even bits a, odd bits b
    val known = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (3L, 5L, 39L), (1023L, 0L, 349525L))
    val got = known.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toList
    assert(got == known.map(_._3).toList)

    // layout: a 64x64 grid z-written into 16 files — every file's
    // per-column span must be far tighter than the full domain (the
    // min/max stats a reader prunes on); row-major sorted files would
    // cover the FULL y domain in every file
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val dir = Files.createTempDirectory("zorder").toString + "/grid"
    Layout.zorderWrite(grid, "x", "y", dir, 16)
    val spans = spark.read.parquet(dir)
      .withColumn("_f", input_file_name())
      .groupBy("_f")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.length >= 8, s"expected many files, got ${spans.length}")
    // every file covers at most half of each 0..63 dimension
    assert(spans.forall { case (sx, sy) => sx <= 32 && sy <= 32 },
      spans.mkString(", "))
    // and the data round-trips completely
    assert(spark.read.parquet(dir).count() == 64 * 64)
  }

  test("perKeyWeightedSample: heavy weights dominate; deterministic across partitioning") {
    import graft.operators.Sampling
    val df = (1L to 1000L).map(i =>
        ("g", i, if (i <= 50) 1000.0 else 0.001))
      .toDF("g", "id", "w")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Sampling.perKeyWeightedSample(d, "g", "id", "w", 5)
        .select("id").collect().map(_.getLong(0)).toSet
    val s1 = sample(df)
    // ln(u)/1000 ≈ 0 ≫ ln(u)/0.001: every winner is a heavy id
    assert(s1.size == 5 && s1.forall(_ <= 50L), s1)
    // partition-independent membership
    assert(sample(df.repartition(13)) == s1)
    // w <= 0 carries no sampling mass: A-Res scores are undefined there
    // (w=0 → -Inf/NULL; w<0 flips ln(u)/w positive and would always
    // win the heap) — such rows must be excluded, not crowned
    val poisoned = df.unionAll(Seq(("g", 2001L, 0.0), ("g", 2002L, -5.0),
      ("g", 2003L, -1e9)).toDF("g", "id", "w"))
    assert(sample(poisoned) == s1)
  }

  test("Profile.summarize: one-pass stats correct; approx within HLL tolerance") {
    import graft.operators.Profile
    val df = Seq((1L, Some("a"), 10), (2L, None, 20), (3L, Some("b"), 10),
        (4L, Some("a"), 30))
      .toDF("id", "tag", "v")
    val got = Profile.summarize(df, Seq("id", "tag", "v"), exact = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got("id") == (4L, 0L, 4L, "1", "4"))
    assert(got("tag") == (4L, 1L, 2L, "a", "b"))
    assert(got("v") == (4L, 0L, 3L, "10", "30"))
    val approx = Profile.summarize(df, Seq("id"), exact = false)
      .collect().head.getLong(3)
    assert(math.abs(approx - 4L) <= 1)
  }

  test("compact: many small files become few, rows identical; fileStats manifest tight") {
    import graft.operators.Layout
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir) // 40 tiny files
    def files = spark.read.parquet(dir).select(input_file_name()).distinct().count()
    val before = files
    assert(before >= 30, s"expected many files, got $before")
    val rowsBefore = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    Layout.compact(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(files <= 2, s"still ${files} files after compaction")
    val rowsAfter = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter == rowsBefore)
    // manifest: per-file row counts sum to the table, min <= max
    val stats = Layout.fileStats(spark.read.parquet(dir), Seq("id")).collect()
    assert(stats.map(_.getLong(1)).sum == 2000L)
    assert(stats.forall(r => r.getLong(2) <= r.getLong(3)))
  }

  test("corpusClean: planted dup, junk, und-language and clean docs flagged correctly") {
    import graft.operators.TextAnalysis
    val clean = "the quick brown fox jumps over the lazy dog and that is it for now"
    val docs = Seq(
      (1L, clean),                                    // keep
      (2L, clean),                                    // exact dup of 1 → not canonical
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam"), // repetition
      (4L, "zz qq ww"),                               // und + too short
      (5L, "der hund und die katze sind nicht zu haus und das ist gut so ja")  // de, keep
    ).toDF("doc_id", "text")
    val got = TextAnalysis.corpusClean(docs, "doc_id", "text")
      .select("doc_id", "lang", "q_ok", "rep_ok", "is_canonical", "keep")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5))).toMap
    assert(got(1L) == ("en", true, true, true, true))
    assert(got(2L)._4 == false && got(2L)._5 == false) // dup: non-canonical
    assert(got(3L)._3 == false && got(3L)._5 == false) // repetition fails
    assert(got(4L)._1 == "und" && got(4L)._5 == false)
    assert(got(5L) == ("de", true, true, true, true))
  }

  test("packing: distributed prefix-scan equals global window; slots are exact") {
    import graft.operators.Packing
    val docs = (1L to 100L).map(i => (i, (i * 7 % 13 + 1).toInt))
      .toDF("id", "toks")
    val naive = Packing.pack(docs, "id", "toks", 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // partition count chosen to force several non-trivial range splits
    val scaled = Packing.packScalable(docs, "id", "toks", 20, partitions = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(naive.sameElements(scaled))
    // slot arithmetic: doc i's start == cumulative tokens before it,
    // bins advance by budget
    val starts = naive.scanLeft(0L) { case (acc, (_, t, _, _)) => acc + t }
    naive.zip(starts).foreach { case ((_, _, bin, off), start) =>
      assert(bin == start / 20 && off == start % 20)
    }
    // and partitioning of the input must not change the assignment
    val reparted = Packing.packScalable(docs.repartition(13), "id", "toks",
        20, partitions = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(naive.sameElements(reparted))
  }

  test("lengthBuckets: equal-frequency, length-sorted, deterministic ties") {
    import graft.operators.Packing
    // lengths 5,5,1,9,3,7 — ties (id 1, 2 at 5 tokens) break by id
    val docs = Seq((1L, 5), (2L, 5), (3L, 1), (4L, 9), (5L, 3), (6L, 7))
      .toDF("id", "toks")
    val got = Packing.lengthBuckets(docs, "id", "toks", 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // sort order: (3,1) (5,3) | (1,5) (2,5) | (6,7) (4,9)
    assert(got == Map(3L -> 1, 5L -> 1, 1L -> 2, 2L -> 2, 6L -> 3, 4L -> 3))
    // a batch pads to its bucket max: max spread within any bucket is
    // bounded, total padding strictly below corpus-max padding
    val withB = Packing.lengthBuckets(docs, "id", "toks", 3)
    val waste = withB.groupBy("bucket")
      .agg((max(col("toks")) * count(lit(1)) - sum(col("toks"))).as("pad"))
      .collect().map(_.getLong(1)).sum
    val corpusPad = 9L * 6 - docs.collect().map(_.getInt(1)).sum
    assert(waste < corpusPad)
  }

  test("lengthBucketsScalable: bit-identical to the ntile spec, ties and all") {
    import graft.operators.Packing
    // heavy ties (every token count repeats ~10x) force the rank-based
    // tie-breaking to matter; 7 partitions force non-trivial range
    // splits straddling tied runs
    val docs = (1L to 97L).map(i => (i, (i % 10).toInt)).toDF("id", "toks")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val naive = collect(Packing.lengthBuckets(docs, "id", "toks", 8))
    val scaled = collect(
      Packing.lengthBucketsScalable(docs, "id", "toks", 8, partitions = 7))
    assert(naive.sameElements(scaled))
    // input partitioning must not change the assignment
    val reparted = collect(
      Packing.lengthBucketsScalable(docs.repartition(13), "id", "toks", 8,
        partitions = 5))
    assert(naive.sameElements(reparted))
    // n < buckets: every row its own bucket, no division blow-up
    val tiny = Seq((1L, 4), (2L, 2), (3L, 9)).toDF("id", "toks")
    val t = collect(Packing.lengthBucketsScalable(tiny, "id", "toks", 8))
    assert(t.sameElements(collect(Packing.lengthBuckets(tiny, "id", "toks", 8))))
    // n not divisible by buckets: first (n mod b) buckets get the extra
    val sizes = scaled.groupBy(_._3).map { case (b, rs) => b -> rs.length }
    assert(sizes.values.toSet == Set(12, 13) && (1 to 8).forall(sizes.contains))
    assert((1 to 1).forall(b => sizes(b) == 13)) // 97 = 8*12 + 1
  }

  test("decontaminate: trigram overlap with the benchmark set flags exactly") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // contains benchmark trigrams
      (2L, "alpha beta x gamma delta"),       // bigram overlap only — clean
      (3L, "zeta eta theta iota"),            // disjoint — clean
      (4L, "alpha beta"),                     // < 3 tokens — clean by definition
      (5L, "x y alpha beta gamma")            // one shared trigram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // bench doc "alpha beta gamma delta" has trigrams {abg, bgd}
    assert(got(1L) == (2L, true))  // both trigrams present
    assert(got(2L) == (0L, false))
    assert(got(3L) == (0L, false))
    assert(got(4L) == (0L, false))
    assert(got(5L) == (1L, true))  // shares "alpha beta gamma" only
  }

  test("redactPii: emails and phones removed, counts match, clean text untouched") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "mail me at jane.doe+x@corp.example.com or call +82(10)1025-7049 now"),
      (2L, "no pii here, just words and the number 42"),
      (3L, "two mails a@b.co c@d.org one phone 010-1234-5678")
    ).toDF("id", "text")
    val (ne, np) = TextAnalysis.piiCounts(col("text"))
    val got = df.select(col("id"),
        TextAnalysis.redactPii(col("text")).as("red"),
        ne.as("ne"), np.as("np"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(got(1L)._1 == "mail me at [EMAIL] or call [PHONE] now")
    assert(got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(2L) == ("no pii here, just words and the number 42", 0, 0))
    assert(got(3L)._1 == "two mails [EMAIL] [EMAIL] one phone [PHONE]")
    assert(got(3L)._2 == 2 && got(3L)._3 == 1)
    // nothing pattern-shaped survives redaction
    val residue = df.select(TextAnalysis.redactPii(col("text")).as("r"))
      .filter(col("r").rlike(functions.GraftFunctions.EmailPattern) ||
        col("r").rlike(TextAnalysis.RedactPhonePattern))
    assert(residue.isEmpty)
  }

  test("mixtureSample: quota rates, cap at 1, unweighted groups dropped") {
    import graft.operators.Sampling
    val rows = (1L to 100L).map(i => ("a", i)) ++
      (101L to 110L).map(i => ("b", i)) ++
      (111L to 130L).map(i => ("c", i))
    val df = rows.toDF("g", "id")
    val got = Sampling.mixtureSample(df, "g", "id",
        Seq("a" -> 0.5, "b" -> 0.5), 40L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // b's quota (0.5*40=20) exceeds its 10 rows → rate caps at 1, all kept
    assert(got.count(_._1 == "b") == 10)
    // c has no declared weight → dropped entirely
    assert(!got.exists(_._1 == "c"))
    // a thins at rate 0.5*40/100 = 0.2 — exactly hashSample membership
    val expectA = Sampling.hashSample(
        df.filter(col("g") === "a"), "id", 0.2)
      .collect().map(r => r.getLong(1)).toSet
    assert(got.filter(_._1 == "a").map(_._2).toSet == expectA)
    // deterministic under input repartitioning
    val again = Sampling.mixtureSample(df.repartition(17), "g", "id",
        Seq("a" -> 0.5, "b" -> 0.5), 40L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == got.toSet)
  }

  test("salted count equals plain groupBy count (hot key included)") {
    val df = (Seq.fill(5000)(("hot", 1)) ++ (1 to 500).map(i => (s"k$i", i)))
      .toDF("key", "v")
    val plain = df.groupBy("key").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("key"), col("v"), 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("bloomPrunedSemiJoin equals plain semi join, even with a saturated filter") {
    val large = (1 to 5000).map(i => (i.toLong % 700, s"p$i")).toDF("k", "payload")
    val small = (1 to 100).map(i => (i * 7L, i)).toDF("sk", "v")
    val plain = large.join(small.select(col("sk").as("k")).distinct(),
        Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val pruned = Skew.bloomPrunedSemiJoin(large, "k", small, "sk")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == plain && plain.nonEmpty)
    // 64-bit filter for 100 keys: saturated, FP rate near 1 — the
    // closing semi join must still make the result exact
    val tiny = Skew.bloomPrunedSemiJoin(large, "k", small, "sk",
        expectedItems = 100, numBits = 64)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tiny == plain)
  }

  test("salted join equals plain join") {
    val left = (Seq.fill(2000)((7L, "hot")) ++ (1 to 100).map(i => (i.toLong, s"v$i")))
      .toDF("k", "lv")
    val right = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, "k").groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedInnerJoin(left, right, "k", col("lv"), 8)
      .groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("kmv: exact below capacity, tolerant above, set ops match exact overlap, mergeable") {
    import graft.operators.Sketches
    // below capacity: the sketch holds every hash → exact count
    val small = (1 to 40).map(i => s"u$i").toDF("uid")
    val es = Sketches.kmvEstimate(small, "uid", 64).collect().head
    assert((es.getLong(0), es.getLong(1)) == (40L, 40L))
    // above capacity: 10k distinct at k=256 (rse ≈ 1/√254 ≈ 6%)
    val big = (1 to 10000).map(i => s"user-$i").toDF("uid")
    val eb = Sketches.kmvEstimate(big, "uid", 256).collect().head
    assert(eb.getLong(0) == 256L)
    assert(math.abs(eb.getLong(1) - 10000L) <= 2000L, s"est=${eb.getLong(1)}")
    // overlap: |A∩B| = 2000, |A∪B| = 10000, J = 0.2
    val a = (1 to 6000).map(i => s"user-$i").toDF("uid")
    val b = (4001 to 10000).map(i => s"user-$i").toDF("uid")
    val r = Sketches.kmvIntersectEstimate(a, "uid", b, "uid", 256)
      .collect().head
    assert(math.abs(r.getAs[Long]("est_union") - 10000L) <= 2000L)
    assert(math.abs(r.getAs[Long]("est_intersect") - 2000L) <= 1200L)
    // both below capacity: set ops are exact
    val a2 = (1 to 30).map(i => s"x$i").toDF("uid")
    val b2 = (21 to 50).map(i => s"x$i").toDF("uid")
    val r2 = Sketches.kmvIntersectEstimate(a2, "uid", b2, "uid", 64)
      .collect().head
    assert(r2.getAs[Long]("est_intersect") == 10L)
    assert(r2.getAs[Long]("est_union") == 50L)
    assert(r2.getAs[Long]("jaccard_micros") == 200000L)
    // mergeability: bottom-k of the two sketches' union == one-pass
    // sketch of the concatenated input
    val onePass = Sketches.kmvSketch(a.unionByName(b), "uid", 256)
      .collect().map(_.getLong(0)).toSeq
    val merged = Sketches.kmvSketch(a, "uid", 256)
      .unionByName(Sketches.kmvSketch(b, "uid", 256))
      .distinct().orderBy(col("hv")).limit(256)
      .collect().map(_.getLong(0)).toSeq
    assert(merged == onePass)
  }

  test("quantileBins equals the single-window formula; bins are equal-frequency") {
    import graft.operators.Features
    val rnd = new scala.util.Random(13)
    val rows = (1L to 1000L).map(id => (id, rnd.nextInt(100).toLong))
    val df = rows.toDF("id", "v").repartition(8)
    val got = Features.quantileBins(df, "v", "id", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // reference: one global sort on the driver, same formula
    val ranked = rows.sortBy { case (id, v) => (v, id) }.zipWithIndex
    val want = ranked.map { case ((id, _), r) => id -> (10L * r / 1000L) }
      .toMap
    assert(got == want)
    // equal frequency: every bin holds exactly n/nBins rows here
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.values.toSet == Set(100))
  }
}
