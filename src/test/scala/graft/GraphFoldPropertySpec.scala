package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions.personId
import graft.model.KnowsEdge
import graft.operators.GraphBuild
import graft.streaming.CardStream

/** Property test for the graph fold: [[CardStream.graphFold]] (one LWW
  * window per table over the raw vertex and edge rows) leaves the same
  * tables as [[GraphBuild.buildGraph]]'s dedup, joined with the batch's
  * max(created_at) per id and merged by [[CardStream.mergeLww]] — the
  * fold it replaced — over random batch sequences.
  */
class GraphFoldPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The fold before graphFold: batch dedup, a max(created_at) join,
    * then the LWW merges, edges ordered by a constant `_ord`. */
  private def dedupFold(cards: DataFrame, vPath: String, ePath: String): Unit = {
    val (v, e) = GraphBuild.buildGraph(cards)
    val vOrd = cards.withColumn("id", personId(col("email")))
      .groupBy("id").agg(max("created_at").as("created_at"))
    CardStream.mergeLww(spark, v.join(vOrd, "id"), vPath, Seq("id"), "created_at")
    CardStream.mergeLww(spark, e.withColumn("_ord", lit(0)), ePath,
      Seq("src", "dst"), "_ord")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  /** A random batch. Persons p0..p5 (p6 has no e-mail), owners p0..p2,
    * so an owner's own card is a self-loop; p3's e-mail domain varies,
    * so two e-mails share one id; few versions and name spellings, so
    * cards of one id often tie on (created_at, name) and differ only in
    * the columns after them. */
  private def batch(rnd: scala.util.Random, n: Int): DataFrame = {
    def pick(xs: String*): String = xs(rnd.nextInt(xs.size))
    Seq.fill(n) {
      val p = rnd.nextInt(7)
      val email =
        if (p == 6) null
        else if (p == 3) pick("p3@d0.com", "p3@d1.com")
        else s"p$p@x.com"
      (s"p${rnd.nextInt(3)}", s"Name$p-${rnd.nextInt(2)}", email,
        pick(null, "ph0", "ph1"), pick("co0", "co1", null), pick("job0", "job1"),
        s"2020-01-0${1 + rnd.nextInt(3)}T00:00:00Z")
    }.toDF("owner", "name", "email", "phone_number", "company", "job_title",
      "created_at")
  }

  test("graphFold equals buildGraph + max(created_at) + mergeLww over random batch sequences") {
    val rnd = new scala.util.Random(17)
    val knows = Encoders.product[KnowsEdge].schema.fieldNames.toSeq
    var nullIds, selfLoops, idTies = 0
    for (trial <- 1 to 3) {
      val wh = Files.createTempDirectory("graft_graphfold").toString
      val fresh = Seq.fill(4)(batch(rnd, 5 + rnd.nextInt(20)))
      // the last batch replays the first
      for ((b, i) <- (fresh :+ fresh.head).zipWithIndex) {
        nullIds += b.filter(col("email").isNull).count().toInt
        selfLoops += b.filter(personId(col("email")) === md5(col("owner")).substr(1, 8))
          .count().toInt
        idTies += b.groupBy(personId(col("email")), col("created_at"), col("name")).count()
          .filter(col("count") > 1).count().toInt
        dedupFold(b, s"$wh/v_ref", s"$wh/e_ref")
        val (foldV, foldE) = CardStream.graphFold(spark, b, s"$wh/v", s"$wh/e")
        foldV()
        foldE()
        val what = s"trial $trial batch $i"
        val (v, vRef) = (spark.read.parquet(s"$wh/v"), spark.read.parquet(s"$wh/v_ref"))
        assert(v.schema == vRef.schema, what)
        assert(rows(v) == rows(vRef), what)
        val (e, eRef) = (spark.read.parquet(s"$wh/e"), spark.read.parquet(s"$wh/e_ref"))
        assert(e.columns.toSeq == knows, what)
        assert(rows(e) == rows(eRef.drop("_ord")), what)
        assert(v.filter(col("id").isNull).isEmpty, what)
      }
    }
    // the generator reached the cases the fold has to get right
    assert(nullIds > 0 && selfLoops > 0 && idTies > 0, (nullIds, selfLoops, idTies))
  }
}
