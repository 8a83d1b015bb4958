package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pymk

/** Property tests for PYMK semantics on random directed graphs
  * (SURVEY §5.2): score == brute-force undirected path count; never
  * recommends self or a direct friend; reciprocal edges double-count.
  */
class PymkPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)], anchor: Long): Map[Long, Long] = {
    val adj = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
    val friendBag = adj.filter(_._1 == anchor).map(_._2)
    val friendSet = friendBag.toSet
    friendBag
      .flatMap(f => adj.filter(_._1 == f).map(_._2))
      .filter(c => c != anchor && !friendSet.contains(c))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
  }

  test("random graphs: PYMK equals brute-force bag path counting") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 12
      val edges = (1 to 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.toDF("src", "dst")
      for (anchor <- 0L to 2L) {
        val got = Pymk.recommend(df, lit(anchor), 1000).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == brute(edges, anchor), s"trial $trial anchor $anchor")
      }
    }
  }

  test("recommendWithProps (the anchor gather) equals recommend left-joined to the vertices") {
    val rnd = new scala.util.Random(5)
    val n = 14
    // the friend bag collapsed to a set: the answer a multiplicity-1
    // gather would give. Some trial must tell it from the bag answer.
    def setCollapsed(edges: Seq[(Long, Long)], anchor: Long): Map[Long, Long] = {
      val adj = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      val friends = adj.filter(_._1 == anchor).map(_._2).toSet
      friends.toSeq.flatMap(f => adj.filter(_._1 == f).map(_._2))
        .filter(c => c != anchor && !friends.contains(c))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    }
    var bagMatters, tiesAtLimit, withoutRow = 0
    for (trial <- 1 to 6) {
      val random = (1 to 36).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // planted: reciprocal pairs, self-loops (at the anchor and at a
      // friend), and two friends of anchor 0 who know each other
      val planted = Seq((0L, 1L), (1L, 0L), (0L, 0L), (1L, 1L), (0L, 2L), (1L, 2L),
        (2L, 3L), (3L, 2L))
      val edges = (planted ++ random).distinct
      // vertex rows for some ids only, one with a null property
      val vertices = (0L until n.toLong).filter(_ % 3 != 2)
        .map(i => (i, if (i == 4L) null else s"name$i", s"co${i % 4}"))
        .toDF("id", "name", "company")
      val edgeDf = edges.toDF("src", "dst")
      // anchor n + 1 has no edges
      for (anchor <- Seq(0L, 1L, rnd.nextInt(n).toLong, n + 1L); limit <- Seq(1, 3, 1000)) {
        val scores = brute(edges, anchor).values.toSeq.sorted.reverse
        if (limit == 1000 && setCollapsed(edges, anchor) != brute(edges, anchor)) bagMatters += 1
        if (scores.size > limit && scores(limit - 1) == scores(limit)) tiesAtLimit += 1
        for ((e, v, a) <- Seq((edgeDf, vertices, lit(anchor)),
            (edgeDf.select(col("src").cast("string").as("src"),
              col("dst").cast("string").as("dst")),
              vertices.withColumn("id", col("id").cast("string")), lit(anchor.toString)))) {
          val want = Pymk.recommend(e, a, limit).join(v, Seq("id"), "left")
            .orderBy(desc("score"), asc("id"))
          val got = Pymk.recommendWithProps(v, e, a, limit)
          val what = s"trial $trial anchor $anchor limit $limit ${e.schema("src").dataType}"
          assert(got.schema == want.schema, what)
          val rows = got.collect().toSeq
          assert(rows == want.collect().toSeq, what)
          withoutRow += rows.count(_.isNullAt(3))
        }
      }
    }
    assert(bagMatters > 0, "no graph tells the friend bag from the friend set")
    assert(tiesAtLimit > 0 && withoutRow > 0)
  }

  test("capped all-pairs PYMK: cap >= max degree is exact; hub output bounded") {
    // random graphs: cap above any degree ⇒ the sampled wedge bag IS
    // the full bag, so the capped twin must equal recommendAll row for
    // row (the cap≡exact contract, same as the linkpred family's)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 12
      val edges = (1 to 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.toDF("src", "dst")
      val exact = Pymk.recommendAll(df, 1000).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val capped = Pymk.recommendAllCapped(df, 1000, maxDegree = 64).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(capped == exact, s"trial $trial")
    }
    // planted hub: star with 40 leaves. Exact: every leaf pair scores 1
    // (40*39 recommendation rows). Capped at 8: only the 8 sampled
    // leaves can see each other — 8*7 rows, score 1, deterministic.
    val hub = (1L to 40L).map(i => (0L, i)).toDF("src", "dst")
    val capped = Pymk.recommendAllCapped(hub, 1000, maxDegree = 8).collect()
    assert(capped.length == 8 * 7)
    assert(capped.forall(_.getLong(2) == 1L))
    val again = Pymk.recommendAllCapped(hub, 1000, maxDegree = 8).collect()
    assert(capped.map(_.toSeq).toSet == again.map(_.toSeq).toSet,
      "hash-spread sample must be rerun-stable")
    // weighted twin: cap >= max degree is exact against the weighted
    // flagship (distinct weights exercise the (hash, t, w) tie-break)
    val wrnd = new scala.util.Random(11)
    val wEdges = (1 to 30)
      .map(_ => (wrnd.nextInt(10).toLong, wrnd.nextInt(10).toLong))
      .filter { case (a, b) => a != b }.distinct
      .zipWithIndex
      .map { case ((a, b), i) => (a, b, 1000000L + i * 250000L) }
      .toDF("src", "dst", "w_micros")
    val wExact = Pymk.recommendAllWeighted(wEdges, 1000).collect()
      .map(_.toSeq).toSet
    val wCapped = Pymk.recommendAllWeightedCapped(wEdges, 1000,
      maxDegree = 64).collect().map(_.toSeq).toSet
    assert(wCapped == wExact, "weighted cap >= max degree must be exact")
  }

  test("reciprocal edge pair double-counts the shared friend's paths") {
    // a<->b reciprocal, b-c: both(a) yields b twice → c scores 2
    val df = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val got = Pymk.recommend(df, lit(1L), 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 2L))
  }

  test("results ranked by score desc then id asc") {
    val df = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (2L, 5L))
      .toDF("src", "dst")
    val rows = Pymk.recommend(df, lit(1L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((4L, 2L), (5L, 1L)))
  }

  test("recommendWithReasons: same scores as the flagship, mutuals ascending, capped") {
    // anchor 1 knows 2,3,5,6,7; candidate 4 reachable via ALL five
    // mutuals — the reasons string keeps only the 3 smallest
    val df = Seq((1L, 2L), (1L, 3L), (1L, 5L), (1L, 6L), (1L, 7L),
      (2L, 4L), (3L, 4L), (5L, 4L), (6L, 4L), (7L, 4L), (2L, 8L))
      .toDF("src", "dst")
    val got = Pymk.recommendWithReasons(df, lit(1L), 10, nReasons = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val scores = Pymk.recommend(df, lit(1L), 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(x => x._1 -> x._2).toMap == scores)
    assert(got.find(_._1 == 4L).get._3 == "2,3,5")
    assert(got.find(_._1 == 8L).get._3 == "2")
  }
}
