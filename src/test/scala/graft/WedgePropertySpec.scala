package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphAnalytics, Pymk}

/** The all-pairs 2-hop operators against driver-side formulas on
  * random graphs: the weighted PYMK path sum, Adamic-Adar and the four
  * link-prediction indices, each exact and hub-capped. Every graph
  * plants a reciprocal pair, a duplicate edge, a vertex whose only edge
  * is a self-loop and a hub above the cap; small limits cut through
  * score ties.
  */
class WedgePropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Cap = 6

  /** (src, dst, w_micros) edges; weights from a small set, so sums tie. */
  private def graph(seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val w = Seq(500000L, 1000000L, 2000000L, 3500000L)
    def edge(a: Long, b: Long) = (a, b, w(rnd.nextInt(w.size)))
    val random = Seq.fill(30)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }.map { case (a, b) => edge(a, b) }
    val hub = (0L until 12L).filter(_ => rnd.nextBoolean()).map(edge(30L, _)) ++
      (31L to 36L).map(edge(_, 30L))
    random ++ Seq(edge(0L, 1L), edge(1L, 0L), edge(2L, 3L), edge(2L, 3L),
      edge(40L, 40L)) ++ hub
  }

  /** `Sampling.md5Bucket` on the driver. */
  private def md5Bucket(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  /** 2-hop paths a —z— c (a ≠ c, c not adjacent to a) over symmetric
    * adjacency rows (from, to, w), each middle z enumerating only its
    * `cap` rows of lowest (md5Bucket("z:to"), to, w): (a, z, c, w₁, w₂). */
  private def paths(rows: Seq[(Long, Long, Long)],
                    cap: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val direct = rows.map(r => (r._1, r._2)).toSet
    rows.groupBy(_._1).toSeq.flatMap { case (z, list) =>
      val kept = list.sortBy(r => (md5Bucket(s"$z:${r._2}"), r._2, r._3)).take(cap)
      for (p <- kept; q <- kept if p._2 != q._2 && !direct((p._2, q._2)))
        yield (p._2, z, q._2, p._3, q._3)
    }
  }

  private def bag(g: Seq[(Long, Long, Long)]) =
    g.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
  private def set(g: Seq[(Long, Long, Long)]) =
    bag(g).map { case (s, d, _) => (s, d, 0L) }.distinct

  /** Rows (a, c, score) ranked per anchor by (score desc, c asc), cut to
    * `limit`, as (anchor, rank, id, score). */
  private def top[S](scores: Map[(Long, Long), S], limit: Int)
                    (implicit o: Ordering[S]): Seq[(Long, Int, Long, S)] =
    scores.toSeq.groupBy(_._1._1).toSeq.flatMap { case (a, cs) =>
      cs.sortBy { case ((_, c), s) => (s, -c) }(Ordering.Tuple2(o, Ordering.Long))
        .reverse.take(limit).zipWithIndex
        .map { case (((_, c), s), i) => (a, i + 1, c, s) }
    }

  private def halfUp(x: Double, scale: Int): BigDecimal =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)

  private def degrees(rows: Seq[(Long, Long, Long)]): Map[Long, Long] =
    rows.groupBy(_._1).map { case (v, l) => v -> l.size.toLong }

  private def pymkCount(g: Seq[(Long, Long, Long)], cap: Int) =
    paths(bag(g).map(r => r.copy(_3 = 0L)), cap)
      .groupBy(p => (p._1, p._3)).map { case (k, ps) => k -> ps.size.toLong }

  private def pymkWeighted(g: Seq[(Long, Long, Long)], cap: Int) =
    paths(bag(g), cap).groupBy(p => (p._1, p._3)).map { case (k, ps) =>
      k -> ps.map(p => math.floor((p._4 * p._5).toDouble / 1e6).toLong).sum }

  private def adamicAdar(g: Seq[(Long, Long, Long)], cap: Int) = {
    val deg = degrees(set(g))
    paths(set(g), cap).groupBy(p => (p._1, p._3)).map { case (k, ps) =>
      val micros = ps.map(p =>
        halfUp(1e6 / StrictMath.log(deg(p._2).toDouble), 0).toLong).sum
      k -> halfUp(micros.toDouble / 1e6, 4).toDouble }
  }

  private def linkPredict(g: Seq[(Long, Long, Long)], cap: Int) = {
    val deg = degrees(set(g))
    paths(set(g), cap).groupBy(p => (p._1, p._3)).toSeq.map { case ((a, c), ps) =>
      val cn = ps.size.toLong
      val ra = ps.map(p => halfUp(1e6 / deg(p._2), 0).toLong).sum
      val jac = halfUp(1e6 * cn / (deg(a) + deg(c) - cn), 0).toLong
      Seq[Any](a, c, cn, ra, jac, deg(a) * deg(c))
    }.toSet
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
  private def topRows[S](t: Seq[(Long, Int, Long, S)]): Set[Seq[Any]] =
    t.map { case (a, _, c, s) => Seq[Any](a, c, s) }.toSet

  private val seeds = Seq(3, 8, 21)

  test("exact all-pairs operators equal the driver-side formulas") {
    var tiesAtLimit = 0
    for (seed <- seeds; limit <- Seq(2, 1000)) {
      val g = graph(seed)
      val e = g.map(x => (x._1, x._2)).toDF("src", "dst")
      val we = g.toDF("src", "dst", "w_micros")
      val what = s"seed $seed limit $limit"
      val counts = pymkCount(g, Int.MaxValue)
      tiesAtLimit += counts.groupBy(_._1._1).count { case (_, cs) =>
        val s = cs.values.toSeq.sorted.reverse
        s.size > limit && s(limit - 1) == s(limit) }
      assert(rows(Pymk.recommendAll(e, limit)) == topRows(top(counts, limit)), what)
      // the weighted flagship is ordered: (anchor, score desc, id)
      val want = top(pymkWeighted(g, Int.MaxValue), limit)
        .sortBy { case (a, _, c, s) => (a, -s, c) }
        .map { case (a, _, c, s) => Seq[Any](a, c, s) }
      assert(Pymk.recommendAllWeighted(we, limit).collect().map(_.toSeq).toSeq == want,
        what)
      assert(rows(GraphAnalytics.adamicAdar(e, limit)) ==
        top(adamicAdar(g, Int.MaxValue), limit).map { case (a, r, c, s) =>
          Seq[Any](a, r, c, s) }.toSet, what)
      if (limit == 1000)
        assert(rows(GraphAnalytics.linkPredictScores(e)) ==
          linkPredict(g, Int.MaxValue), what)
    }
    assert(tiesAtLimit > 0, "no anchor has a score tie at the limit")
  }

  test("capped operators: the md5 hub sample below the cap, exact at cap >= max degree") {
    var hubCut = 0
    for (seed <- seeds) {
      val g = graph(seed)
      val e = g.map(x => (x._1, x._2)).toDF("src", "dst")
      val we = g.toDF("src", "dst", "w_micros")
      val maxDeg = degrees(bag(g)).values.max.toInt
      assert(maxDeg > Cap, s"seed $seed: the hub must exceed the cap")
      if (pymkCount(g, Cap) != pymkCount(g, Int.MaxValue)) hubCut += 1
      val what = s"seed $seed"
      for (limit <- Seq(2, 1000)) {
        assert(rows(Pymk.recommendAllCapped(e, limit, Cap)) ==
          topRows(top(pymkCount(g, Cap), limit)), what)
        assert(rows(Pymk.recommendAllWeightedCapped(we, limit, Cap)) ==
          topRows(top(pymkWeighted(g, Cap), limit)), what)
        assert(rows(GraphAnalytics.adamicAdar(e, limit, Cap)) ==
          top(adamicAdar(g, Cap), limit).map { case (a, r, c, s) =>
            Seq[Any](a, r, c, s) }.toSet, what)
      }
      assert(rows(GraphAnalytics.linkPredictScores(e, Cap)) == linkPredict(g, Cap), what)
      // cap >= max degree: the sample is every list, the exact form
      assert(rows(Pymk.recommendAllCapped(e, 1000, maxDeg)) ==
        rows(Pymk.recommendAll(e, 1000)), what)
      assert(rows(Pymk.recommendAllWeightedCapped(we, 1000, maxDeg)) ==
        rows(Pymk.recommendAllWeighted(we, 1000)), what)
      assert(rows(GraphAnalytics.adamicAdar(e, 1000, maxDeg)) ==
        rows(GraphAnalytics.adamicAdar(e, 1000)), what)
      assert(rows(GraphAnalytics.linkPredictScores(e, maxDeg)) ==
        rows(GraphAnalytics.linkPredictScores(e)), what)
    }
    assert(hubCut > 0, "no graph's hub sample changes a score")
  }
}
