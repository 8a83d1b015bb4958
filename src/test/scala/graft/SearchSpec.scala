package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Search

/** TF-IDF search semantics (SURVEY §2.G, §7.3): boost dominance,
  * non-scoring owner filter, is_alive guard, input validation.
  */
class SearchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  val docs = Seq(
    ("d1", "edy", 1, "Edy Kim", "aws", "Solutions Architect", "Seoul"),
    ("d2", "poby", 1, "Poby Kim", "aws", "Manager Kim", "Busan"),
    ("d3", "poby", 1, "Harry Jang", "kim industries", "Engineer", "Seoul"),
    ("d4", "edy", 0, "Kim Deleted", "aws", "Architect", "Seoul")
  ).toDF("doc_id", "owner", "is_alive", "name", "company", "job_title", "addr")

  val Fields = Seq("name" -> 3.0, "company" -> 1.0, "job_title" -> 1.0, "addr" -> 1.0)

  test("name boost dominates: a name hit outranks a company/title hit") {
    val hits = Search.search(docs, "doc_id", Fields, "kim", 10,
      aliveCol = Some("is_alive")).collect()
    val order = hits.map(_.getAs[String]("doc_id")).toSeq
    // d2 matches name(1) + job_title(1); d1 matches name only; d3 company only
    assert(order.head == "d2")
    assert(order.indexOf("d1") < order.indexOf("d3"), "name hit beats company hit")
  }

  test("soft-deleted docs (is_alive=0) are never returned") {
    val hits = Search.search(docs, "doc_id", Fields, "kim", 10,
      aliveCol = Some("is_alive")).collect()
    assert(!hits.map(_.getAs[String]("doc_id")).contains("d4"))
  }

  test("owner term filter is exact and non-scoring") {
    val hits = Search.search(docs, "doc_id", Fields, "kim", 10,
      ownerFilter = Some("owner" -> "poby"), aliveCol = Some("is_alive"))
      .collect().map(_.getAs[String]("doc_id")).toSet
    assert(hits == Set("d2", "d3"))
  }

  test("owner-only query (no text) returns the filter set") {
    val hits = Search.search(docs, "doc_id", Fields, "", 10,
      ownerFilter = Some("owner" -> "edy")).collect()
    assert(hits.map(_.getAs[String]("doc_id")).toSet == Set("d1", "d4"))
  }

  test("empty query AND no filter is rejected (es_search_bizcard.py:75)") {
    intercept[IllegalArgumentException] {
      Search.search(docs, "doc_id", Fields, "  ", 10)
    }
  }

  test("limit produces top-k by score desc with id tiebreak") {
    val hits = Search.search(docs, "doc_id", Fields, "kim", 2,
      aliveCol = Some("is_alive")).collect()
    assert(hits.length == 2)
    assert(hits.head.getAs[String]("doc_id") == "d2")
  }

  test("bm25: tf saturates and length normalizes (vs linear tf-idf)") {
    val corpus = Seq(
      ("a", "kim kim kim kim kim kim kim kim kim kim"), // tf=10, dl=10
      ("b", "kim foo foo foo foo foo foo foo foo foo"), // tf=1,  dl=10
      ("c", "kim foo"),                                 // tf=1,  dl=2
      ("d", "bar baz")
    ).toDF("doc_id", "text")
    val scores = Search.bm25(corpus, "doc_id", "text", Seq("kim"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores.keySet == Set("a", "b", "c")) // d never matches
    // saturation: 10x the tf buys far less than 10x the score
    assert(scores("a") < 10 * scores("b") && scores("a") > scores("b"))
    // length normalization: same tf, shorter doc wins
    assert(scores("c") > scores("b"))
  }

  test("bm25 ranks by the same idf as the tf-idf path on single-hit docs") {
    // one term, every matching doc has tf=1 and equal length -> bm25
    // order must agree with scoreField order
    val corpus = Seq(
      ("a", "kim lee"), ("b", "kim lee"), ("c", "lee park")
    ).toDF("doc_id", "text")
    val bm = Search.bm25(corpus, "doc_id", "text", Seq("kim"))
      .collect().map(_.getString(0)).toSet
    val tfidf = Search.scoreField(corpus, "doc_id", "text", Seq("kim"))
      .collect().map(_.getString(0)).toSet
    assert(bm == tfidf && bm == Set("a", "b"))
  }

  test("bm25 survives degenerate corpora (empty / all-empty-text)") {
    val empty = Seq.empty[(String, String)].toDF("doc_id", "text")
    assert(Search.bm25(empty, "doc_id", "text", Seq("kim")).count() == 0)
    val blank = Seq(("a", ""), ("b", " ")).toDF("doc_id", "text")
    assert(Search.bm25(blank, "doc_id", "text", Seq("kim")).count() == 0)
  }

  test("multi-field bm25: name boost dominates under the serving scorer") {
    val hits = Search.search(docs, "doc_id", Fields, "kim", 10,
      aliveCol = Some("is_alive"), scorer = "bm25").collect()
    val order = hits.map(_.getAs[String]("doc_id")).toSeq
    assert(order.head == "d2")
    assert(order.indexOf("d1") < order.indexOf("d3"),
      "3x-boosted name hit outranks the company-only hit under bm25 too")
  }

  test("best_fields: a concentrated hit outranks a spread hit that sum would favor") {
    // q = "kim lee": `spread` matches one term in each field, `conc`
    // matches both terms in ONE field. "lee" is common in f1 (low idf
    // where conc matches it) but rare in f2 (high idf where spread
    // matches it): sum-combine adds spread's two mid-size field scores
    // (.875 + 1.204 > conc's 1.414); best_fields takes the max single
    // field (spread's best 1.204 < conc's 1.414) — the ES multi_match
    // default flips the ranking, exactly the semantics gap qG8 gates.
    val corpus = Seq(
      ("spread", "kim", "lee"),
      ("conc", "kim lee", "choi"),
      ("n1", "lee", "x"),
      ("n2", "lee", "x"),
      ("n3", "park", "x")
    ).toDF("doc_id", "f1", "f2")
    val flds = Seq("f1" -> 1.0, "f2" -> 1.0)
    def top(combine: String): String =
      Search.search(corpus, "doc_id", flds, "kim lee", 1, combine = combine)
        .collect().head.getAs[String]("doc_id")
    assert(top("sum") == "spread", "sum semantics would invert the ranking")
    assert(top("max") == "conc", "best_fields picks the concentrated hit")
  }

  test("tie_breaker interpolates between best_fields and most_fields") {
    def scores(combine: String, tb: Double = 0.0): Map[String, Double] =
      Search.search(docs, "doc_id", Fields, "kim", 10,
        aliveCol = Some("is_alive"), combine = combine, tieBreaker = tb)
        .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("_score"))
        .toMap
    val (mx, sm, tb) = (scores("max"), scores("sum"), scores("max", 0.3))
    // d2 matches kim in name AND job_title -> max < tb < sum strictly
    assert(mx("d2") < tb("d2") && tb("d2") < sm("d2"))
    // exact ES formula: best + 0.3 * (sum of the others)
    for (d <- Seq("d1", "d2", "d3"))
      assert(math.abs(tb(d) - (mx(d) + 0.3 * (sm(d) - mx(d)))) < 1e-9, d)
    // endpoint degenerates to the sum form (approximately: best +
    // (sum − best) re-associates the IEEE sum)
    val full = scores("max", 1.0)
    for (d <- Seq("d1", "d2", "d3"))
      assert(math.abs(full(d) - sm(d)) < 1e-9, d)
  }

  test("serving path shape: bm25+max equals tfidf ranking on single-field hits") {
    // every hit is confined to one field -> max == sum; bm25 with equal
    // dl and tf=1 preserves idf order -> ranking matches the tfidf path
    val hits = Search.search(docs, "doc_id", Fields, "seoul", 10,
      aliveCol = Some("is_alive"), scorer = "bm25", combine = "max")
      .collect().map(_.getAs[String]("doc_id")).toSet
    val base = Search.search(docs, "doc_id", Fields, "seoul", 10,
      aliveCol = Some("is_alive")).collect()
      .map(_.getAs[String]("doc_id")).toSet
    assert(hits == base && hits == Set("d1", "d3"))
  }

  test("fuzzy search: edit-distance expansion with Lucene fade-out boost") {
    import graft.operators.SearchIndex
    import spark.implicits._
    val docs = Seq((1L, "table"), (2L, "tabel"), (3L, "label"),
      (4L, "cable"), (5L, "zzz")).toDF("doc_id", "text")
    def run(maxEdits: Int): Map[Long, Double] =
      SearchIndex.fuzzySearch(docs, "doc_id", "text", "tabel", maxEdits, 10)
        .collect()
        .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e4) / 1e4).toMap
    // n=5, every term df=1 → idf = ln 4; boosts: exact 1, label 0.8
    // (dist 1), table 0.6 (dist 2 — transposition = 2 substitutions),
    // cable dist 3 — out at every tested fuzziness
    assert(run(0) == Map(2L -> 1.3863))
    assert(run(1) == Map(2L -> 1.3863, 3L -> 1.109))
    assert(run(2) == Map(2L -> 1.3863, 3L -> 1.109, 1L -> 0.8318))
    intercept[IllegalArgumentException] {
      SearchIndex.fuzzySearch(docs, "doc_id", "text", "two words", 1, 10)
    }
  }

  test("phrase search: consecutive-token matches, repeated terms, stored probe") {
    import graft.operators.SearchIndex
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat the dog"),              // one "the cat the" at 0
      (2L, "the cat the cat the"),          // two, at 0 and 2 (overlapping)
      (3L, "cat the"),                      // terms present, order wrong
      (4L, "the dog cat")                   // all terms, never consecutive
    ).toDF("doc_id", "text")
    val got = SearchIndex.phraseSearch(docs, "doc_id", "text", "the cat the", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
    // case-insensitive analyzer, same as the term path
    val ci = SearchIndex.phraseSearch(docs, "doc_id", "text", "The CAT the", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ci == got)
    intercept[IllegalArgumentException] {
      SearchIndex.phraseSearch(docs, "doc_id", "text", "   ", 10)
    }

    // stored bucket-pruned probe == in-memory, on the real corpus
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val mem = SearchIndex.phraseSearch(corpus, "doc_id", "text", "table hash", 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("posidx").toString
    SearchIndex.writePositional(
      SearchIndex.buildPositional(corpus, "doc_id", "text"), dir)
    val stored = SearchIndex.phraseSearchStored(spark, dir, "table hash", 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == mem && mem.nonEmpty)
  }

  test("dirichletQL: tf wins, absent terms still smoothed, OOV query drops") {
    import graft.operators.SearchIndex
    import spark.implicits._
    val docs = Seq((1L, "table table chair"), (2L, "chair chair chair"))
      .toDF("doc_id", "text")
    val got = SearchIndex.dirichletQL(docs, "doc_id", "text",
        Seq("table"), mu = 1.0, limit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // d1 (tf=2) outranks d2 (tf=0, pure smoothing); both get a score
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got.forall(_._2 < 0L)) // log-likelihoods are negative
    // d1: ln((2 + 1·2/6)/4), d2: ln((0 + 2/6)/4) — exact micro values
    assert(got(0)._2 == math.round(1e6 * math.log((2.0 + 2.0 / 6.0) / 4.0)))
    assert(got(1)._2 == math.round(1e6 * math.log((2.0 / 6.0) / 4.0)))
    // a query term absent from the corpus has no likelihood: drops
    assert(SearchIndex.dirichletQL(docs, "doc_id", "text",
      Seq("zzz"), mu = 1.0, limit = 10).isEmpty)
  }

  test("native tokenize gives the lambda form's array on every input") {
    val inputs = Seq(null, "", " ", "\t\n", "  lead", "trail  ", "a  b\t\tc\nd",
      "MiXeD Case", " \t Both  Ends \n", "one")
    val got = inputs.toDF("x")
      .select(col("x"), graft.functions.GraftFunctions.tokenize(col("x")).as("n"),
        seedTokenize(col("x")).as("h"))
    assert(got.filter(not(col("n") <=> col("h"))).isEmpty)
    assert(got.filter(col("x").isNull && col("n").isNull).count() == 1)
    assert(got.filter(col("x") === " \t Both  Ends \n").head().getSeq[String](1) ==
      Seq("both", "ends"))
  }

  /** [[docs]] read back from parquet: a scan the optimizer cannot fold
    * into a local relation, so the kernels run in generated code. */
  private lazy val storedDocs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("search_docs").toString + "/docs"
    docs.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def servingSearch(q: String): DataFrame =
    Search.search(storedDocs, "doc_id", Fields, q, 10, aliveCol = Some("is_alive"),
      scorer = "bm25", combine = "max")

  test("queries that differ only in their statistics share one compiled scoring stage") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(q: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      servingSearch(q).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles("kim")
    // "seoul" has another df, so other idf and score constants
    assert(compiles("seoul") == 0)
    // nor do the term count or the terms change the generated code
    for (q <- Seq("aws", "kim seoul architect", "kim lee seoul aws busan engineer"))
      assert(compiles(q) == 0, q)
  }

  test("the scoring plan does not grow with the query's terms") {
    def nodes(q: String): Int = servingSearch(q).queryExecution.optimizedPlan
      .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(nodes("kim") == nodes("kim lee seoul aws busan engineer"))
  }

  test("the kernels' interpreted eval equals their generated code") {
    val queries = Seq("kim", "Kim Seoul aws", "architect zzz kim")
    val configs = for (scorer <- Seq("tfidf", "bm25"); combine <- Seq("sum", "max");
                       tb <- Seq(0.0, 0.3)) yield (scorer, combine, tb)
    def run(): Seq[Seq[org.apache.spark.sql.Row]] =
      for (q <- queries; owner <- Seq(None, Some("poby")); (scorer, combine, tb) <- configs)
        yield Search.search(storedDocs, "doc_id", Fields, q, 10,
          ownerFilter = owner.map("owner" -> _), aliveCol = Some("is_alive"),
          scorer = scorer, combine = combine, tieBreaker = tb).collect().toSeq
    val generated = run()
    assert(generated.exists(_.nonEmpty))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == generated)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("search_features gives tokenize's dl and tf on adversarial text") {
    import graft.functions.GraftFunctions.tokenize
    import graft.functions.expr.SearchExprs.search_features
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(400)((adversarialText(rnd), adversarialText(rnd))) ++
      Seq((null, ""), ("", null), (" \t\n\u000B\f\r", "\u00A0"))
    val texts = frame(rows).toDF("s", "u")
    val seen = texts.select(explode(tokenize(col("s")))).distinct().as[String].collect().sorted
    assert(seen.length > 12, seen.toSeq)
    val terms = rnd.shuffle(seen.toSeq).take(12) :+ "zzz"
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val fields = Seq("s", "u")
        val want = fields.map(f => size(tokenize(col(f)))) ++ fields.flatMap(f =>
          terms.map(t => when(col(f).isNotNull,
            size(tokenize(col(f))) - size(array_remove(tokenize(col(f)), t)))))
        val got = texts.select(search_features(fields.map(col), terms).as("k"),
          array(want: _*).as("w"))
        val diff = got.filter(not(col("k") <=> col("w")))
        assert(diff.isEmpty, s"ansi=$ansi: ${diff.take(3).toSeq}")
        // the null field's dl follows `size`: null, or -1 under legacy size-of-null
        assert(got.filter(element_at(col("k"), 1) === -1).isEmpty == (ansi == "true"))
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("two-scan kernel equals the explode/join search on random corpora") {
    kernelEqualsSeed()
  }

  test("two-scan kernel equals the explode/join search under legacy size-of-null") {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try kernelEqualsSeed()
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  /** Words, case variants, the six `\s` separators, Unicode spaces that
    * are not separators, `İ`, final and medial `Σ`, multi-byte tokens. */
  private val Pieces = Seq("kim", "KIM", "Lee", "park", "AWS", "seoul", "", " ", "\t", "\n",
    "\u000B", "\f", "\r", "\u00A0", "\u2003", "\u3000", "\u0130", "\u0130van",
    "\u039F\u0394\u039F\u03A3", "\u03A3\u0391\u03A3", "\u0391\u03A3\u0391",
    "\uC11C\uC6B8", "\u6771\u4EAC", "\uD83D\uDE00", "kim\u00A0lee")

  private def adversarialText(rnd: scala.util.Random): String =
    if (rnd.nextInt(12) == 0) null
    else Seq.fill(rnd.nextInt(8))(Pieces(rnd.nextInt(Pieces.size)))
      .mkString(Seq("", " ", "\t ")(rnd.nextInt(3)))

  /** `rows` as a frame the optimizer cannot fold into a local relation,
    * so its plans run generated code. */
  private def frame[T <: Product : org.apache.spark.sql.Encoder : scala.reflect.ClassTag](
      rows: Seq[T]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF()

  private def kernelEqualsSeed(): Unit = {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("kim", "lee", "park", "choi", "aws", "seoul")
    val blanks = Seq(null, "", " ", "\t\n")
    def text(): String =
      if (rnd.nextInt(5) == 0) blanks(rnd.nextInt(blanks.size))
      else if (rnd.nextInt(4) == 0) adversarialText(rnd)
      else Seq.fill(1 + rnd.nextInt(4)) {
        val w = vocab(rnd.nextInt(vocab.size))
        if (rnd.nextBoolean()) w.toUpperCase else w
      }.mkString(Seq(" ", "  ", "\t")(rnd.nextInt(3)), " ", Seq("", " ", "\n")(rnd.nextInt(3)))
    def corpus(n: Int) = {
      val texts = Seq.fill(n)((text(), text(), text()))
      frame(texts.indices.map { i =>
        // every fourth doc copies an earlier one's text: tied scores
        val (a, b, c) = texts(if (i % 4 == 3) i - 3 else i)
        (f"d$i%03d", Seq("o1", "o2", null)(rnd.nextInt(3)),
          if (rnd.nextInt(6) == 0) 0 else 1, a, b, c) // 1 in 6 soft-deleted
      }).toDF("doc_id", "owner", "is_alive", "f1", "f2", "f3")
    }
    val flds = Seq("f1" -> 3.0, "f2" -> 1.0, "f3" -> 1.0)
    val configs = for (scorer <- Seq("tfidf", "bm25"); combine <- Seq("sum", "max");
                       tb <- Seq(0.0, 0.3, 1.0)) yield (scorer, combine, tb)
    val blank = frame(Seq[(String, String, Int, String, String, String)](
        ("a", "o1", 1, "", " ", null), ("b", "o1", 1, "\t", "", "  ")))
      .toDF("doc_id", "owner", "is_alive", "f1", "f2", "f3")
    val empty = blank.limit(0)
    val cases = Seq(
      (corpus(40), "kim lee kim", None, 7),      // repeated query term
      (corpus(40), "Park AWS zzz", Some("o1"), 5), // owner filter, absent term
      (corpus(24), "seoul", Some("o2"), 3),
      (corpus(40), "\u03BF\u03B4\u03BF\u03C2 kim \uC11C\uC6B8", None, 6), // multi-byte terms
      (blank, "kim", None, 5),                   // all-blank: avgdl guard
      (empty, "kim lee", None, 5))
    for ((docs, q, owner, limit) <- cases;
         nAlive = docs.filter(col("is_alive") === 1).count();
         (scorer, combine, tb) <- configs) {
      val ctx = s"q=$q owner=$owner $scorer/$combine/$tb"
      val got = Search.search(docs, "doc_id", flds, q, limit,
        ownerFilter = owner.map("owner" -> _), aliveCol = Some("is_alive"),
        scorer = scorer, combine = combine, tieBreaker = tb).collect()
      val want = seedSearch(docs, "doc_id", flds, q, limit,
        ownerFilter = owner.map("owner" -> _), aliveCol = Some("is_alive"),
        numDocs = Some(nAlive), scorer = scorer, combine = combine,
        tieBreaker = tb).collect()
      assert(got.headOption.map(_.schema) == want.headOption.map(_.schema), ctx)
      assert(got.map(_.getAs[String]("doc_id")).toSeq ==
        want.map(_.getAs[String]("doc_id")).toSeq, ctx)
      for ((g, w) <- got.zip(want)) {
        val (a, b) = (g.getAs[Double]("_score"), w.getAs[Double]("_score"))
        assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)), s"$ctx: $a vs $b")
        assert(BigDecimal(a).setScale(4, BigDecimal.RoundingMode.HALF_UP) ==
          BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP), ctx)
        assert(g.toSeq.init == w.toSeq.init, ctx)
      }
    }
    assert(Search.search(corpus(40), "doc_id", flds, "kim", 40).count() > 7,
      "the random corpora hit more docs than the limits keep")
  }

  /** `GraftFunctions.tokenize` in its earlier `filter`-lambda form. */
  private def seedTokenize(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= lit(""))

  /** `Search.search` as it was before the two-scan kernel: stack the
    * fields, explode the postings, aggregate tf, df and avgdl, join the
    * statistics back, combine per doc, join the scores back to the
    * rows. The reference the kernel is checked against. */
  private def seedSearch(docs: DataFrame, idCol: String, fields: Seq[(String, Double)],
                         query: String, limit: Int,
                         ownerFilter: Option[(String, String)] = None,
                         aliveCol: Option[String] = None,
                         numDocs: Option[Long] = None,
                         scorer: String = "tfidf",
                         combine: String = "sum",
                         k1: Double = 1.2, b: Double = 0.75,
                         tieBreaker: Double = 0.0): DataFrame = {
    val queryTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val filtered0 = ownerFilter.fold(docs) { case (c, v) => docs.filter(col(c) === v) }
    val filtered = aliveCol.fold(filtered0)(c => filtered0.filter(col(c) === 1))
    val n = numDocs.getOrElse(filtered.count())
    val stacked = array(fields.map { case (f, bst) =>
      struct(lit(f).as("field"), lit(bst).as("boost"), seedTokenize(col(f)).as("toks"))
    }: _*)
    val fieldRows = filtered
      .select(col(idCol).as("_doc"), explode(stacked).as("ft"))
      .select(col("_doc"), col("ft.field").as("field"),
        col("ft.boost").as("boost"), col("ft.toks").as("toks"))
    val posts = fieldRows
      .select(col("_doc"), col("field"), col("boost"),
        size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = posts.groupBy("field", "boost", "term", "_doc")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val idfs = broadcast(
      tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
        .select(col("field"), col("term"),
          log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            .as("idf")))
    val termScored = scorer match {
      case "tfidf" =>
        tf.join(idfs, Seq("field", "term"))
          .withColumn("tscore", col("tf") * col("idf"))
      case "bm25" =>
        val avgdls = broadcast(
          fieldRows.groupBy("field")
            .agg(sum(size(col("toks"))).as("s"), count(lit(1)).as("c"))
            .select(col("field"),
              when(col("s") === 0 || col("c") === 0, lit(1.0))
                .otherwise(col("s").cast("double") / col("c")).as("avgdl")))
        tf.join(idfs, Seq("field", "term")).join(avgdls, Seq("field"))
          .withColumn("tscore",
            col("idf") * (col("tf") * lit(k1 + 1.0)) /
              (col("tf") + lit(k1) *
                (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    }
    val perField = termScored
      .groupBy("_doc", "field", "boost")
      .agg(sum(col("tscore")).as("fsum"))
      .withColumn("wscore", col("boost") * col("fsum"))
    val combined = combine match {
      case "sum" => perField.groupBy("_doc").agg(sum(col("wscore")).as("_score"))
      case "max" if tieBreaker == 0.0 =>
        perField.groupBy("_doc").agg(max(col("wscore")).as("_score"))
      case "max" =>
        perField.groupBy("_doc")
          .agg(max(col("wscore")).as("_best"), sum(col("wscore")).as("_sum"))
          .select(col("_doc"),
            (col("_best") + lit(tieBreaker) * (col("_sum") - col("_best")))
              .as("_score"))
    }
    filtered.join(combined, filtered(idCol) === combined("_doc"))
      .drop("_doc")
      .orderBy(round(col("_score"), 4).desc, col(idCol).asc)
      .limit(limit)
  }
}
