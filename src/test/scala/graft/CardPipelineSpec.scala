package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Schemas
import graft.operators.{GraphBuild, Pymk}

/** Golden end-to-end test over the reference's own 11-record corpus
  * (upsert_bizcard_to_graph_db.py:165-179, stored verbatim as
  * card_events.jsonl): expected graph topology 6 vertices / 8 directed
  * edges, and PYMK("Poby Kim") = {crong, harry} with path-count 3 each
  * (trace in SURVEY §5).
  */
class CardPipelineSpec extends AnyFunSuite with SparkSpec {

  lazy val cards = spark.read.schema(Schemas.cardEvent)
    .json(fixturePath("card_events.jsonl"))
    .select(col("s3_bucket"), col("s3_key"), col("owner"), col("data.*"))

  lazy val (vertices, edges) = GraphBuild.buildGraph(cards)

  val Ids = Map(
    "edy" -> "f75f761c", "crong" -> "1ee4a9f1", "harry" -> "3b87c97d",
    "poby" -> "6f371694", "pororo" -> "a8f9f7c7", "rody" -> "0679a6d8")

  test("vertex ids match the reference's Python md5-8 exactly") {
    val got = vertices.select("id", "email").collect()
      .map(r => r.getString(1).split("@")(0) -> r.getString(0)).toMap
    assert(got == Ids)
  }

  test("graph has 6 person vertices with last-write-wins props") {
    assert(vertices.count() == 6)
    assert(vertices.filter(col("label") === "person").count() == 6)
    val poby = vertices.filter(col("id") === Ids("poby")).collect().head
    assert(poby.getAs[String]("name") == "Poby Kim")
    assert(poby.getAs[String]("_name") == "poby kim")
    assert(poby.getAs[String]("job_title") == "Solutions Architect")
  }

  test("graph has exactly the 8 expected directed knows edges") {
    val got = edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Set(
      "edy" -> "crong", "edy" -> "harry", "edy" -> "poby",
      "poby" -> "edy", "poby" -> "pororo", "poby" -> "rody",
      "pororo" -> "crong", "pororo" -> "harry")
      .map { case (a, b) => (Ids(a), Ids(b)) }
    assert(got == expected)
    // self-loops (edy→edy etc.) must have been dropped, weight constant
    assert(edges.filter(col("src") === col("dst")).count() == 0)
    assert(edges.filter(col("weight") =!= 1.0).count() == 0)
  }

  test("golden PYMK for Poby Kim: crong & harry, path-count 3 each") {
    val anchor = Pymk.anchorByName(vertices, "Poby Kim").collect().head.getString(0)
    assert(anchor == Ids("poby"))
    val got = Pymk.recommend(edges, lit(anchor), 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // reciprocal poby<->edy pair makes both() yield edy twice: 2 paths
    // via edy + 1 via pororo for each of crong/harry (SURVEY §5).
    assert(got.toSet == Set(Ids("crong") -> 3L, Ids("harry") -> 3L))
    // deterministic tiebreak: asc(id) on equal score
    assert(got.map(_._1).toSeq == Seq(Ids("crong"), Ids("harry")).sorted)
  }

  test("anchorByName: a name two people share resolves to the smallest id") {
    import spark.implicits._
    // one partition, the larger id first: an unordered limit(1) takes it
    val namesakes = Seq(("ffffffff", "Kim Lee"), ("12345678", "Ann Park"),
      ("00000001", "kim lee")).toDF("id", "name").coalesce(1)
    assert(Pymk.anchorByName(namesakes, "KIM LEE").collect().map(_.getString(0)).toSeq ==
      Seq("00000001"))
    assert(Pymk.anchorByName(namesakes, "nobody").isEmpty)
  }

  test("anchorByName finds the anchor under a Turkish default locale") {
    import spark.implicits._
    val people = Seq(("0000000a", "Irene Adler"), ("0000000b", "Ivan Ilyin"))
      .toDF("id", "name")
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // "IRENE".toLowerCase is "ırene" here; Spark lowers ASCII to "irene"
      assert("IRENE ADLER".toLowerCase != "irene adler")
      assert(Pymk.anchorByName(people, "IRENE ADLER").collect().map(_.getString(0))
        .toSeq == Seq("0000000a"))
      assert(graft.functions.GraftFunctions.lowerText("IRENE ADLER") == "irene adler")
    } finally java.util.Locale.setDefault(default)
  }

  test("PYMK never recommends self or a direct friend (all users)") {
    val adj = edges.select("src", "dst").collect()
      .flatMap(r => Seq(r.getString(0) -> r.getString(1), r.getString(1) -> r.getString(0)))
    for (user <- Seq("edy", "poby", "pororo")) {
      val anchor = Ids(user)
      val friends = adj.filter(_._1 == anchor).map(_._2).toSet
      val recs = Pymk.recommend(edges, lit(anchor), 100).collect().map(_.getString(0))
      assert(!recs.contains(anchor), s"$user recommended to self")
      assert(recs.toSet.intersect(friends).isEmpty, s"$user recommended a friend")
      // score equals brute-force path count
      val brute = adj.filter(_._1 == anchor).map(_._2) // friend bag
        .flatMap(f => adj.filter(_._1 == f).map(_._2))
        .filter(c => c != anchor && !friends.contains(c))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val got = Pymk.recommend(edges, lit(anchor), 100).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == brute, s"path counts for $user")
    }
  }

  test("replay idempotence: merging the same delta twice is a no-op") {
    val (v2, e2) = GraphBuild.mergeGraph(vertices, edges, vertices, edges)
    assert(v2.count() == vertices.count())
    assert(e2.count() == edges.count())
  }

  test("enriched doc ids match the reference derivations") {
    import graft.functions.GraftFunctions._
    val enriched = operators.Parse.enrich(cards)
    val row = enriched.filter(col("s3_key") === "bizcard-raw-img/edy_bizcard_0046.jpg")
      .select("image_id", "doc_id", "owner", "content_id").collect().head
    assert(row.getString(0) == "edy_bizcard_0046.jpg")
    assert(row.getString(1) == "e0f74d5a") // md5('edy_bizcard_0046.jpg')[:8]
    assert(row.getString(2) == "edy")
    assert(row.getString(3) == "c473dff2") // md5('edy kim:edy@amazon.com:(+82 10) 1025 7049')[:8]
  }
}
