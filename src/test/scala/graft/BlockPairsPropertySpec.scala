package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions.tokenize
import graft.functions.expr.TextExprs.minhash_sig
import graft.operators.{Dedup, EntityResolution, Pymk, Similarity}
import graft.streaming.CardStream

/** The blocked-pair operators against driver-side enumerations on
  * random corpora: every pair of rows that share a block key, scored by
  * the driver-side formula (Jaccard, containment, Hamming, the
  * Fellegi–Sunter sum, Levenshtein, cosine, co-occurrence cosine
  * micros). The block keys are the operator's own, collected from
  * Spark (shingles, LSH band keys, sign-LSH buckets, k-means cells) or
  * sliced by its pigeonhole chunking; the pairing, the hub rule and the
  * scoring are the driver's. Every corpus
  * plants near-duplicates, a hot block above the cap, rows under the
  * n-gram width, null block keys and scores tied at the threshold.
  */
class BlockPairsPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val seeds = Seq(5, 17, 29)

  private def halfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Every id pair (a < b) whose key sets intersect. */
  private def blocked[K](keys: Map[Long, Set[K]]): Seq[(Long, Long)] = {
    val byKey = keys.toSeq.flatMap { case (i, ks) => ks.map(_ -> i) }.groupBy(_._1)
    byKey.values.flatMap { is =>
      val ids = is.map(_._2).distinct.sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSeq.distinct
  }

  // ------------------------------------------------------------ text

  private val vocab = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")

  /** (id, text) docs: random docs, one-token edits and quotes of them,
    * a hot shingle "zz top" in 13 docs, docs under two tokens, a null
    * text, and a pair tied at Jaccard 1/3 and containment 1/2. */
  private def corpus(seed: Int): Seq[(Long, Option[String])] = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val base = (1L to 20L).map(i => i -> words(3 + rnd.nextInt(6)))
    val edits = base.take(6).map { case (i, w) =>
      (100L + i, w.updated(rnd.nextInt(w.size), "yak")) }
    val quotes = base.slice(6, 9).map { case (i, w) =>
      (200L + i, words(4) ++ w ++ words(3)) }
    val hot = (300L until 312L).map(i => i -> (Seq("zz", "top") ++ words(2 + rnd.nextInt(3)))) :+
      (320L -> Seq("zz", "top")) // contained in every hot doc, by the hot shingle only
    val short = Seq(400L -> Seq("solo"), 401L -> Seq.empty[String], 402L -> Seq("solo"))
    val ties = Seq(500L -> Seq("p", "q", "r"), 501L -> Seq("p", "q", "s"))
    (base ++ edits ++ quotes ++ hot ++ short ++ ties)
      .map { case (i, w) => (i, Option(w.mkString(" "))) } :+ (600L -> None)
  }

  private def docs(seed: Int) = corpus(seed).toDF("id", "text")

  /** The operator's shingle sets: (id → (token count, shingles)). */
  private def shingleSets(d: DataFrame, n: Int): Map[Long, (Int, Set[String])] =
    d.select(col("id"), size(tokenize(col("text"))), Dedup.shingles(col("text"), n))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)),
         Option(r.getSeq[String](2)).map(_.toSet).getOrElse(Set.empty[String])))
      .toMap

  /** Scored pairs over docs with >= n tokens sharing a shingle. */
  private def overlap(sets: Map[Long, (Int, Set[String])], n: Int,
                      ratio: (Int, Int, Int) => Double, min: Double,
                      pairs: Map[Long, Set[String]] => Seq[(Long, Long)] = blocked[String])
      : Set[Seq[Any]] = {
    val kept = sets.collect { case (i, (t, sh)) if t >= n => i -> sh }
    pairs(kept).flatMap { case (a, b) =>
      val i = (kept(a) & kept(b)).size
      val s = halfUp(ratio(i, kept(a).size, kept(b).size), 4)
      if (s >= min) Some(Seq[Any](a, b, s)) else None
    }.toSet
  }

  private val jaccard = (i: Int, a: Int, b: Int) => i.toDouble / (a + b - i)
  private val containment = (i: Int, a: Int, b: Int) => i.toDouble / math.min(a, b)

  test("shingle overlap pairs: Jaccard, containment and the df-capped twin") {
    var ties = 0
    for (seed <- seeds) {
      val d = docs(seed)
      val sets = shingleSets(d, 2)
      val what = s"seed $seed"
      val jac = overlap(sets, 2, jaccard, 0.3333)
      ties += jac.count(_(2) == 0.3333)
      assert(rows(Dedup.ngramJaccardPairs(d, "text", "id", 2, 0.3333)) == jac, what)
      val con = overlap(sets, 2, containment, 0.5)
      ties += con.count(_(2) == 0.5)
      assert(rows(Dedup.containmentPairs(d, "text", "id", 2, 0.5)) == con, what)
      // banded: candidates share a shingle of df <= maxDf, scored exactly
      val maxDf = 8
      val rare = (kept: Map[Long, Set[String]]) => {
        val df = kept.values.toSeq.flatten.groupBy(identity).map { case (s, l) => s -> l.size }
        assert(df("zz top") > maxDf, s"$what: the hot shingle must exceed maxDf")
        blocked(kept.map { case (i, sh) => i -> sh.filter(df(_) <= maxDf) })
      }
      val banded = overlap(sets, 2, containment, 0.5, rare)
      assert(rows(Dedup.containmentPairsBanded(d, "text", "id", 2, 0.5, maxDf)) == banded,
        what)
      assert(banded.size < con.size, s"$what: the cap must drop some pair")
    }
    assert(ties > 0, "no pair scores exactly at a threshold")
  }

  test("MinHash LSH pairs and the in-batch near-dup fold share band keys, then verify") {
    val (n, k, bands) = (2, 32, 16)
    for (seed <- seeds) {
      val d = docs(seed)
      val sets = shingleSets(d, n)
      // the operator's band keys, for every doc with a shingle
      val keys = d.select(col("id"),
          Dedup.lshBands(minhash_sig(Dedup.shingles(col("text"), n), k), k, bands))
        .filter(size(Dedup.shingles(col("text"), n)) > 0)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Row](1).map(b => (b.getInt(0), b.getLong(1))).toSet).toMap
      val scored = blocked(keys).map { case (a, b) =>
        val (x, y) = (sets(a)._2, sets(b)._2)
        (a, b, halfUp(jaccard((x & y).size, x.size, y.size), 4))
      }
      val what = s"seed $seed"
      assert(rows(Dedup.minhashLshPairs(d, "text", "id", n, k, bands, 0.5)) ==
        scored.filter(_._3 >= 0.5).map { case (a, b, s) => Seq[Any](a, b, s) }.toSet, what)
      // the fold on an empty store: a doc goes when a smaller-id doc of
      // the batch shares a band key at Jaccard >= min
      val dropped = scored.filter(_._3 >= 0.5).map(_._2).toSet
      val dir = Files.createTempDirectory("blockprop").toString + "/nd"
      val batch = d.select(col("id").as("doc_id"), col("text"))
      val kept = CardStream.nearDupSuppress(spark, batch, dir, "text", "doc_id",
        n = n, k = k, bands = bands, minJaccard = 0.5, batchId = 0L)
      assert(dropped.nonEmpty, s"$what: no planted near-dup was found")
      assert(CardStream.nearDupSurvivors(spark, dir).select("doc_id")
        .as[Long].collect().toSet == sets.keySet -- dropped, what)
      assert(kept == sets.size - dropped.size, what)
    }
  }

  // ---------------------------------------------------------- hashes

  /** (id, 64-bit hash): random hashes, copies with 1–5 flipped bits
    * and a hot chunk: 10 hashes sharing their low 16 bits. */
  private def hashes(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = (1L to 30L).map(i => i -> rnd.nextLong())
    def flip(h: Long, bits: Int) =
      rnd.shuffle((0 until 64).toList).take(bits).foldLeft(h)((x, b) => x ^ (1L << b))
    val near = base.take(10).map { case (i, h) => (100L + i, flip(h, 1 + (i % 5).toInt)) }
    val hot = (200L until 210L).map(i => i -> ((rnd.nextLong() << 16) | 0xbeefL))
    base ++ near ++ hot
  }

  test("Hamming band pairs and frame-aligned pairs equal the all-pairs distance") {
    for (seed <- seeds; maxDist <- Seq(3, 6)) {
      val hs = hashes(seed)
      val what = s"seed $seed maxDist $maxDist"
      // pigeonhole chunk keys: the operator's chunking, sliced here
      val (chunks, width) = Dedup.pigeonholeChunks(maxDist)
      val keys = hs.map { case (i, h) => i -> (0 until chunks)
        .map(c => (c, (h >>> (c * width)) & ((1L << width) - 1))).toSet }.toMap
      val h = hs.toMap
      val want = blocked(keys).map { case (a, b) =>
          Seq[Any](a, b, java.lang.Long.bitCount(h(a) ^ h(b))) }
        .filter(_(2).asInstanceOf[Int] <= maxDist).toSet
      assert(maxDist == 6 || want.exists(_(2) == 3), s"$what: no pair at the bound")
      assert(rows(Dedup.hammingBandPairs(hs.toDF("x", "y"), maxDist)) == want, what)

      // clips: (id, frame_no, hash), each clip 2–5 frames, ids 1..8
      // re-using the hash pool so aligned frames collide
      val rnd = new scala.util.Random(seed * 7 + maxDist)
      val pool = hs.map(_._2).toVector
      val frames = (1L to 8L).flatMap(c => (0 until 2 + rnd.nextInt(4))
        .map(f => (c, f, pool(rnd.nextInt(12)))))
      val nf = frames.groupBy(_._1).map { case (c, l) => c -> l.size }
      val matched = frames.groupBy(_._2).values.flatMap { fs =>
        for (a <- fs; b <- fs if a._1 < b._1 &&
          java.lang.Long.bitCount(a._3 ^ b._3) <= maxDist) yield (a._1, b._1, a._2)
      }.toSeq.distinct.groupBy(p => (p._1, p._2))
      val wantF = matched.map { case ((a, b), fs) =>
        Seq[Any](a, b, fs.size.toLong,
          halfUp(fs.size.toDouble / math.min(nf(a), nf(b)), 4)) }
        .filter(_(3).asInstanceOf[Double] >= 0.5).toSet
      assert(rows(Dedup.frameHammingPairs(frames.toDF("c", "f", "h"), maxDist, 0.5)) ==
        wantF, what)
    }
  }

  // ------------------------------------------------ entity resolution

  /** (id, blk, name, bal, s): small domains so fields tie, null blocks,
    * null names and balances. */
  private def records(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    def opt[T](x: => T) = if (rnd.nextInt(6) == 0) None else Some(x)
    (1L to 60L).map(i => (i, opt(s"b${rnd.nextInt(3)}"), opt(s"n${rnd.nextInt(4)}"),
      opt(rnd.nextInt(3).toLong), opt(Seq.fill(2 + rnd.nextInt(4))(
        "abc"(rnd.nextInt(3))).mkString)))
  }

  test("Fellegi–Sunter scorers and edit-distance pairs equal the blocked all-pairs scan") {
    for (seed <- seeds) {
      val recs = records(seed)
      val df = recs.toDF("id", "blk", "name", "bal", "s")
      val pairs = for (a <- recs; b <- recs if a._1 < b._1 &&
        a._2.isDefined && a._2 == b._2) yield (a, b)
      val what = s"seed $seed"
      // thresholds where both, one, or neither field joins the key
      for (thr <- Seq(7000000L, 3000000L, -5000000L)) {
        val want = pairs.map { case (a, b) =>
          (a._1, b._1, (if (a._3 == b._3) 4000000L else -2000000L) +
            (if (a._4 == b._4) 6000000L else -3000000L)) }
          .filter(_._3 >= thr).sortBy(p => (p._1, p._2)).map(p => Seq[Any](p._1, p._2, p._3))
        val got = EntityResolution.scorePairs(df, "id", "blk",
          Seq(("name", 4000000L, -2000000L), ("bal", 6000000L, -3000000L)), thr)
        assert(got.collect().map(_.toSeq).toSeq == want, s"$what threshold $thr")
      }
      // fuzzy: names agree on their first character; NULL disagrees
      val first = (x: Option[String], y: Option[String]) =>
        x.isDefined && y.isDefined && x.get.head == y.get.head
      val wantFuzzy = pairs.map { case (a, b) =>
          (a._1, b._1, (if (first(a._5, b._5)) 5L else -1L) +
            (if (first(a._3, b._3)) 2L else -2L)) }
        .filter(_._3 >= 3L).sortBy(p => (p._1, p._2)).map(p => Seq[Any](p._1, p._2, p._3))
      val firstCol = (x: Column, y: Column) => substring(x, 1, 1) === substring(y, 1, 1)
      assert(EntityResolution.scorePairsFuzzy(df, "id", "blk",
          Seq(("s", firstCol, 5L, -1L), ("name", firstCol, 2L, -2L)), 3L)
        .collect().map(_.toSeq).toSeq == wantFuzzy, what)
      for (maxDist <- Seq(1, 2)) {
        val wantLev = pairs.collect { case (a, b) if a._5.isDefined && b._5.isDefined =>
            (a._1, b._1, levenshtein(a._5.get, b._5.get).toLong) }
          .filter(_._3 <= maxDist).sortBy(p => (p._1, p._2)).map(p => Seq[Any](p._1, p._2, p._3))
        assert(EntityResolution.editDistancePairs(df, "id", "blk", "s", maxDist)
          .collect().map(_.toSeq).toSeq == wantLev, s"$what maxDist $maxDist")
      }
    }
  }

  private def levenshtein(a: String, b: String): Int = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = Seq(prev(j) + 1, cur(j - 1) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      prev = cur
    }
    prev(b.length)
  }

  // --------------------------------------------------------- vectors

  /** `VectorExprUtil.cosineOrNull` on the driver, same fold order. */
  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    for ((x, y) <- a.map(_.toDouble).zip(b.map(_.toDouble))) {
      dot += x * y; sa += x * x; sb += y * y
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** (id, vec): small-integer 4-d vectors (never zero) and scaled or
    * nudged copies of the first eight. */
  private def vectors(seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    def v() = {
      val x = Seq.fill(4)((rnd.nextInt(5) - 2).toFloat)
      if (x.forall(_ == 0f)) Seq(1f, 0f, 0f, 0f) else x
    }
    val base = (1L to 24L).map(i => i -> v())
    base ++ base.take(8).map { case (i, x) =>
      (100L + i, if (i % 2 == 0) x.map(_ * 2f) else x.updated(0, x.head + 0.25f)) }
  }

  test("embedding LSH pairs, SemDeDup and intra-list diversity equal the driver cosine") {
    for (seed <- seeds) {
      val vs = vectors(seed)
      val v = vs.toMap
      val df = vs.toDF("id", "vec")
      val what = s"seed $seed"
      val buckets = df.select(col("id"), Similarity.randomHyperplaneLsh(col("vec"), 4))
        .collect().map(r => r.getLong(0) -> Set(r.getLong(1))).toMap
      val want = blocked(buckets).map { case (a, b) => Seq[Any](a, b, halfUp(cos(v(a), v(b)), 4)) }
        .filter(_(2).asInstanceOf[Double] >= 0.9).toSet
      assert(want.nonEmpty, what)
      assert(rows(Dedup.embedLshPairs(df, "id", "vec", 0.9, m = 4)) == want, what)

      // SemDeDup: the k-means cells are the blocks
      val cells = Similarity.kmeansFit(df, "id", "vec", 3, 2)._1
        .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val dropped = blocked(cells.map { case (i, c) => i -> Set(c) })
        .filter { case (a, b) => halfUp(cos(v(a), v(b)), 4) >= 0.95 }.map(_._2).toSet
      val survivors = Similarity.semDeDup(df, "id", "vec", 3, 0.95, iters = 2)._1
      assert(rows(survivors) == (cells -- dropped).map { case (i, c) => Seq[Any](i, c) }.toSet,
        what)

      // ILD: lists of 1–5 ids, some without an embedding
      val rnd = new scala.util.Random(seed)
      val recs = (1L to 6L).flatMap(q => rnd.shuffle(vs.map(_._1) ++ Seq(900L, 901L))
        .take(1 + rnd.nextInt(5)).map(q -> _))
      val wantIld = recs.groupBy(_._1).toSeq.flatMap { case (q, l) =>
        val ids = l.map(_._2).filter(v.contains)
        val ds = for (a <- ids; b <- ids if a < b) yield
          BigDecimal(1e6 * (1.0 - halfUp(cos(v(a), v(b)), 4)))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        if (ds.isEmpty) None
        else Some(Seq[Any](q, ds.size.toLong, math.floor(ds.sum.toDouble / ds.size).toLong))
      }.sortBy(_.head.asInstanceOf[Long])
      assert(Similarity.intraListDiversity(recs.toDF("q", "i"), df, "q", "i", "id", "vec")
        .collect().map(_.toSeq).toSeq == wantIld, what)
    }
  }

  // --------------------------------------------------- co-occurrence

  test("item-item co-occurrence top-k equals the driver count, power users dropped") {
    val (k, userCap) = (3, 6)
    var capped = 0
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      // users 0..9 with 1–5 items, a power user above the cap, a null
      // user, duplicate interactions
      val ui = (0L until 10L).flatMap(u => Seq.fill(1 + rnd.nextInt(5))(
          (Option(u), rnd.nextInt(10).toLong))) ++
        (0L until 9L).map(i => (Option(99L), i)) ++
        Seq((None, 1L), (None, 2L), (Option(0L), 3L), (Option(0L), 3L))
      val byUser = ui.distinct.groupBy(_._1).map { case (u, l) => u -> l.map(_._2).toSet }
      val kept = byUser.filter(_._2.size <= userCap)
      if (kept.size < byUser.size) capped += 1
      // the null user counts toward item degrees but pairs with nobody
      val deg = kept.values.toSeq.flatten.groupBy(identity).map { case (i, l) => i -> l.size.toLong }
      val co = kept.collect { case (Some(_), items) => items }.toSeq.flatMap { items =>
          for (i <- items; j <- items if i != j) yield (i, j) }
        .groupBy(identity).map { case (p, l) => p -> l.size.toLong }
      val want = co.toSeq.map { case ((i, j), c) =>
          (i, j, c, math.floor(1e6 * (c.toDouble / math.sqrt((deg(i) * deg(j)).toDouble))).toLong) }
        .groupBy(_._1).toSeq.flatMap { case (_, l) => l.sortBy(r => (-r._4, r._2)).take(k) }
        .sortBy(r => (r._1, -r._4, r._2)).map(r => Seq[Any](r._1, r._2, r._3, r._4))
      val got = Pymk.itemItemTopK(ui.toDF("user", "item"), "user", "item", k, userCap)
      assert(got.collect().map(_.toSeq).toSeq == want, s"seed $seed")
    }
    assert(capped == seeds.size, "the power user must exceed the cap")
  }
}
