package graft

import graft.operators.{Fixpoint, GraphAnalytics, Pymk}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The iteration kernel ([[Fixpoint]]) and the graph operators ported
  * onto it, and the operators on the wedge kernel: cadence, exit,
  * release of superseded checkpoints, and the per-operator job budget. */
class FixpointSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // the sf0.001 fixture tables (TESTDATA.md)
  private val sfDir = java.nio.file.Paths.get(sys.props("user.home"),
    "testdata", "sf0.001").toString

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs `f` leaves behind that were not there before. */
  private def pinnedBy(f: => Unit): Set[Int] = {
    val before = persisted
    f
    persisted -- before
  }

  /** Spark jobs launched while `f` runs (the listener bus is drained
    * with a marker job before counting). */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains(marker)) drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      val drain = new Thread(() => {
        sc.setJobGroup(marker, "listener drain")
        spark.range(1).count()
      })
      drain.start()
      drain.join()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("rounds: n steps chained lazily; only the returned cut stays pinned") {
    val init = spark.range(5).toDF("id")
    var out: DataFrame = null
    val pinned = pinnedBy {
      out = Fixpoint.rounds(init, 7, 3)((s, _) => s.select((col("id") + 1).as("id")))
      assert(ids(out) == (7L to 11L))
    }
    // cuts at rounds 3, 6 and 7; the first two are released
    assert(pinned.size == 1, pinned)
    assert(Fixpoint.rounds(init, 0, 3)((s, _) => s.limit(0)) eq init)
  }

  test("converge: caller's exit test, round count, init never released") {
    val (init, n) = Fixpoint.observed(spark.range(10).toDF("id"), count(lit(1)))
    assert(n == 10L)
    val keepSmallAndEven = (s: DataFrame, _: Fixpoint.Round) =>
      s.filter(col("id") < 3 || col("id") % 2 === 0)
    var res: (DataFrame, Boolean, Int) = null
    val pinned = pinnedBy {
      res = Fixpoint.converge(init, n, count(lit(1)), 10)(keepSmallAndEven)(_ == _)
    }
    val (state, converged, rounds) = res
    // round 1 removes 3, 5, 7, 9; round 2 removes nothing
    assert(converged && rounds == 2)
    assert(ids(state) == Seq(0L, 1L, 2L, 4L, 6L, 8L))
    assert(pinned.size == 1, pinned) // round 1's state was released
    assert(init.count() == 10L)
    val (_, stopped, ran) =
      Fixpoint.converge(init, n, count(lit(1)), 1)(keepSmallAndEven)(_ == _)
    assert(!stopped && ran == 1)
    // the round index reaches the step; an "empty" exit stops at once
    val (_, emptied, r) = Fixpoint.converge(init, n, count(lit(1)), 10) {
      (s, r) => s.filter(col("id") >= r.index * 4) } ((_, left) => left == 0L)
    assert(emptied && r == 3) // 4..9, 8..9, none
  }

  test("kCore(rounds) equals kCoreConverged(maxRounds = rounds) on random graphs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 8) {
      // a random core plus a pendant path, so some budgets stop
      // mid-cascade; duplicates and self-loops included
      val n = 6 + rnd.nextInt(6)
      val core = Seq.fill(n + rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val tail = (0 until rnd.nextInt(6)).map(i => ((n + i - 1).toLong, (n + i).toLong))
      val edges = (core ++ tail).toDF("src", "dst")
      val k = 2 + rnd.nextInt(2)
      val rounds = 1 + rnd.nextInt(6)
      val fixed = GraphAnalytics.kCore(edges, k, rounds)
        .orderBy("id").collect().toSeq
      val conv = GraphAnalytics.kCoreConverged(edges, k, maxRounds = rounds)._1
        .orderBy("id").collect().toSeq
      assert(fixed == conv, s"trial $trial: k=$k rounds=$rounds")
    }
  }

  test("iterative operators release superseded checkpoints") {
    // a 48-vertex path plus a triangle: deep enough that every operator
    // passes several cadence steps
    val path = (0L until 47L).map(i => (i, i + 1))
    val edges = (path ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("src", "dst")
    val weighted = edges.withColumn("w_micros", col("src") * 1000L + 1000000L)
    // each bound is the operator's fixed inputs + the returned state
    val cases = Seq[(String, Int, () => DataFrame)](
      // contribs, verts + ranks
      ("pageRankDF", 3, () => GraphAnalytics.pageRankDF(edges, iters = 30)),
      // adj, initial labels + labels
      ("labelPropagationDF", 3,
        () => GraphAnalytics.labelPropagationDF(edges, rounds = 20)),
      // adj, initial scores + scores
      ("katzMicros", 3, () => GraphAnalytics.katzMicros(edges, rounds = 12)),
      // adj, vertex set + survivors (24 peel rounds)
      ("kCoreConverged", 3, () => GraphAnalytics.kCoreConverged(edges, k = 2)._1),
      // adj + labels (the initial labels are lazy)
      ("connectedComponentsDF", 2,
        () => GraphAnalytics.connectedComponentsDF(edges)),
      // edge list, vertex set + tagged hub/authority state
      ("hits", 3, () => GraphAnalytics.hits(edges, iters = 3)),
      ("salsa", 3, () => GraphAnalytics.salsa(edges, iters = 3)),
      // hubs, authorities, bipartite edges + state
      ("salsaPersonalized", 4,
        () => GraphAnalytics.salsaPersonalized(edges, lit(5L))),
      // adj, degrees + communities
      ("louvainSync", 3, () => GraphAnalytics.louvainSync(edges, rounds = 2)),
      // adj, vertex set + active set, and one winner set per round (≤ 3)
      ("maximalIndependentSet", 6,
        () => GraphAnalytics.maximalIndependentSet(edges, rounds = 3)),
      // adj, vertex set + scores
      ("eigenvectorCentrality", 3,
        () => GraphAnalytics.eigenvectorCentrality(edges, iters = 3)),
      // vertex set + the last edge set
      ("ccTwoStar", 2, () => GraphAnalytics.ccTwoStar(edges)),
      // the wedge kernel's adjacency (the hub sample stays lazy)
      ("recommendAll", 1, () => Pymk.recommendAll(edges, 3)),
      ("recommendAllCapped", 1, () => Pymk.recommendAllCapped(edges, 3, 2)),
      ("recommendAllWeighted", 1, () => Pymk.recommendAllWeighted(weighted, 3)),
      ("recommendAllWeightedCapped", 1,
        () => Pymk.recommendAllWeightedCapped(weighted, 3, 2)),
      ("adamicAdar", 1, () => GraphAnalytics.adamicAdar(edges, 3)),
      ("linkPredictScores", 1, () => GraphAnalytics.linkPredictScores(edges)))
    val over = cases.flatMap { case (name, bound, op) =>
      val pinned = pinnedBy(assert(op().collect().nonEmpty)).size
      if (pinned > bound) Some(s"$name pinned $pinned RDDs, bound $bound")
      else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("kernel cuts bound the state's size estimate") {
    // each round joins the state twice, and a join multiplies its
    // children's estimates: a cut that kept its plan's estimate would
    // square it every round (24,428 digits after these 12 rounds)
    val adj = (0L until 40L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("from", "to").localCheckpoint(true)
    val (verts, n) = Fixpoint.observed(adj.select(col("from").as("id")).distinct(),
      count(lit(1)))
    val twoJoins = (s: DataFrame, _: Fixpoint.Round) =>
      adj.join(s.select(col("id").as("from")), "from")
        .join(s.select(col("id").as("to")), "to")
        .groupBy(col("from").as("id")).agg(count(lit(1)).as("d"))
        .select("id")
    val (conv, _, r) =
      Fixpoint.converge(verts, n, count(lit(1)), 12)(twoJoins)((_, _) => false)
    assert(r == 12)
    val cap = BigInt(Long.MaxValue) // spark.sql.defaultSizeInBytes, unset
    for (state <- Seq(conv, Fixpoint.rounds(verts, 12, 1)(twoJoins))) {
      val size = state.queryExecution.optimizedPlan.stats.sizeInBytes
      val bounded = size <= cap
      assert(bounded, s"estimate has ${size.toString.length} digits")
    }
  }

  test("ported operators run no more jobs than before the kernel") {
    val events = Tables.load(spark, sfDir, "events")
    val edges = graft.queries.GraphQueries.derivedEdges(events)
      .localCheckpoint(true)
    val weighted = edges.select(col("src"), col("dst"),
      ((col("src") + col("dst")) % 5 * 250000L + 500000L).as("w_micros"))
    // each operator's job count (result collected included) before it
    // moved onto its kernel, on this suite's session (local[4], 4
    // shuffle partitions)
    val budget = Seq[(String, Int, () => DataFrame)](
      ("pageRankDF", 35, () => GraphAnalytics.pageRankDF(edges, iters = 10)),
      ("kCore", 15, () => GraphAnalytics.kCore(edges, k = 25, rounds = 8)),
      ("corenessHIndex", 19, () => GraphAnalytics.corenessHIndex(edges, rounds = 4)),
      ("kTruss", 32, () => GraphAnalytics.kTruss(edges, k = 3, rounds = 3)),
      ("maximalIndependentSet", 34,
        () => GraphAnalytics.maximalIndependentSet(edges, rounds = 4)),
      ("connectedComponentsDF", 24,
        () => GraphAnalytics.connectedComponentsDF(edges)),
      ("hits", 64, () => GraphAnalytics.hits(edges, iters = 3)),
      ("salsa", 62, () => GraphAnalytics.salsa(edges, iters = 3)),
      ("salsaPersonalized", 90,
        () => GraphAnalytics.salsaPersonalized(edges, lit(1L), iters = 3, topK = 10)),
      // 48 to 50 jobs before the kernel, varying with AQE stage timing
      ("louvainSync", 50, () => GraphAnalytics.louvainSync(edges, rounds = 2)),
      ("eigenvectorCentrality", 34,
        () => GraphAnalytics.eigenvectorCentrality(edges, iters = 3)),
      // the wedge kernel
      ("recommendAll", 11, () => Pymk.recommendAll(edges, 3)),
      ("recommendAllCapped", 13, () => Pymk.recommendAllCapped(edges, 3, 16)),
      ("recommendAllWeighted", 13, () => Pymk.recommendAllWeighted(weighted, 5)),
      ("recommendAllWeightedCapped", 15,
        () => Pymk.recommendAllWeightedCapped(weighted, 5, 16)),
      ("adamicAdar", 12, () => GraphAnalytics.adamicAdar(edges, 5)),
      ("linkPredictScores", 12, () => GraphAnalytics.linkPredictScores(edges)),
      ("c4CountSampled", 12, () => GraphAnalytics.c4CountSampled(edges, 16)))
    // AQE's job count moves with stage timing (a job or two more now
    // and then), so the least of three runs meets the budget
    for ((name, before, op) <- budget) {
      val jobs = (1 to 3).map(_ => jobsOf(op().collect())).min
      assert(jobs <= before, s"$name ran $jobs jobs, $before before the kernel")
    }
  }
}
