package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer: `runMain graft.QTime qName [qName2 ...]`
  * — same session config as [[Bench]], warmup + 2 timed passes per
  * query. For iterating on one operator without paying the full bench.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Routing.cpus
    // At the synthetic big-SF dirs (1B+ rows) 32 shuffle partitions
    // put ~35M rows in each reducer and the measurement drowns in
    // sort-spill — the opposite of how a real cluster would size the
    // shuffle. Override to size partitions to the data (the 100 TB
    // rule: partitions that fit in executor memory); AQE coalesces
    // the small stages back down, so small-SF plans are unchanged.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // static conf, default 100: the suite has 377 gates x ~5-10 codegen
      // stages each, so the stock cache thrashes and EVERY timed pass
      // recompiles every stage (janino ~10-40 ms per compile — pure
      // driver-side floor). A resident engine serving repeated queries
      // would hold its compiled classes; size the cache to the suite.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      // mirror Bench's main-session split sizing (narrow stages over
      // the single-file sf0.1 tables parallelize) so QTime numbers
      // predict bench numbers
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
          else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_QTIME_PASSES=1 skips the warmup too — for the big
    // synthetic SF dirs where a pass runs minutes and JIT noise is
    // negligible against the measurement
    val passes = sys.env.getOrElse("SPARK_GRAFT_QTIME_PASSES", "2").toInt
    require(passes >= 1, s"SPARK_GRAFT_QTIME_PASSES must be >= 1, got $passes")
    // clearCache() alone leaves eager localCheckpoint blocks pinned
    // (same leak Verify plugs); at the big SF dirs one query's
    // checkpoint blocks are gigabytes, so free them between passes
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Bench's small-session routing (Routing.routesSmall over the
    // artifact Bench reads) so QTime numbers predict bench numbers;
    // SPARK_GRAFT_SMALL=0|1 forces a side for A/B timing
    val prior = Routing.Prior.of(try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", "bench_queries.json"))),
        java.nio.charset.StandardCharsets.UTF_8)
      org.json4s.jackson.JsonMethods.parse(txt)
    } catch { case _: Throwable => org.json4s.JNothing })
    val smallSession = Routing.smallSession(spark)
    def sessionFor(name: String) = sys.env.get("SPARK_GRAFT_SMALL") match {
      case Some("1") => smallSession
      case Some("0") => spark
      // an explicit SPARK_GRAFT_SHUFFLE_PARTITIONS is the big-SF
      // sizing knob — it must NEVER be silently overridden by the
      // tiny-gate routing (a 4-partition wedge stage at sf1000 is the
      // exact OOM the 512 override exists to prevent)
      case _ if sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS") => spark
      case _ => if (Routing.routesSmall(name, prior, sfDir)) smallSession else spark
    }
    // SPARK_GRAFT_PROFILE=1: count jobs/stages/tasks + summed task time
    // per timed pass — the tiny-gate floor is scheduler overhead, and
    // this decomposition (N jobs x M stages of sub-ms tasks) is the
    // direct evidence of where a sub-0.1s-oracle gate's 0.5s goes.
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    val prof = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      // per-stage wall + task time, keyed by the stage's callsite name —
      // SPARK_GRAFT_PROFILE_STAGES=1 prints the top entries so a deep
      // serial chain can be attributed to operators, not guessed at
      val byStage = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Int)]()
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val wall = (for { a <- s.stageInfo.completionTime
                          b <- s.stageInfo.submissionTime } yield a - b)
          .getOrElse(0L)
        byStage.merge(s.stageInfo.name.takeWhile(_ != '\n'),
          (wall, 0L, s.stageInfo.numTasks),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      def reset(): Unit = {
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); byStage.clear()
      }
      def report(): String =
        s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskTime=${taskMs.get}ms"
      def stageReport(n: Int): String = {
        import scala.jdk.CollectionConverters._
        byStage.asScala.toSeq.sortBy(-_._2._1).take(n).map {
          case (name, (wall, _, nt)) => f"$name wall=${wall}ms tasks=$nt"
        }.mkString("\n  ", "\n  ", "")
      }
    }
    if (profile) spark.sparkContext.addSparkListener(prof)
    for (name <- args) {
      val s = sessionFor(name)
      if (passes > 1) {
        SparkEntry.queries(name)(s, sfDir).count() // warmup
        release()
      }
      val dts = (1 to passes).map { _ =>
        if (profile) { Thread.sleep(200); prof.reset() } // let the bus drain
        val st0 = StealMeter.snapshot()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(s, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val steal = StealMeter.fraction(st0, StealMeter.snapshot())
        if (profile) {
          Thread.sleep(200)
          println(f"QPROF $name%-28s ${dt}%7.3fs ${prof.report()} steal=${steal}%.2f")
          if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
            println(s"QSTAGES $name${prof.stageReport(18)}")
        }
        release()
        (dt, n, steal)
      }
      println(f"QTIME $name%-28s min=${dts.map(_._1).min}%8.3fs passes=${dts.map(t => f"${t._1}%.3f").mkString(",")} steal=${dts.map(t => f"${t._3}%.2f").mkString(",")} rows=${dts.head._2}")
      if (dts.head._2 <= 5) // tiny results: show values (recall contracts)
        SparkEntry.queries(name)(spark, sfDir).collect()
          .foreach(r => println(s"QROW  $name $r"))
    }
    spark.stop()
  }
}
