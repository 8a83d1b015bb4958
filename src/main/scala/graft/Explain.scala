package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool.
  *
  *   - `runMain graft.Explain <queryName> [sfDir]` prints the formatted
  *     physical plan — the iterate-until-it's-the-plan-you-want loop for
  *     every operator.
  *   - `runMain graft.Explain --out <dir> --suffix <sfx> [--sf <sfDir>]
  *     <q1> <q2> …` writes `<dir>/<q>_<sfx>.txt` per query in ONE JVM —
  *     how the committed `plans/r<N>/<query>_{before,after}.txt`
  *     artifacts are produced without paying a session launch per query.
  *
  * Session confs mirror Bench's main session (shuffle partitions = cores,
  * AQE on, 16 MB splits) so the dumped plan is the plan the bench runs —
  * except the UI/tmpfs knobs that don't affect plan shape.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    var outDir: Option[String] = None
    var suffix = "plan"
    var sfDir = "/root/testdata/sf0.001"
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--out"    => outDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--sf"     => sfDir = args(i + 1); i += 2
        case other      => names += other; i += 1
      }
    }
    // positional legacy form: <queryName> [sfDir]
    if (outDir.isEmpty && names.length == 2 &&
        new java.io.File(names(1)).isDirectory) {
      sfDir = names.remove(1)
    }
    if (names.isEmpty) names += "q1_agg"
    val cpus = Routing.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
          else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val plan = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // queryExecution.explainString == df.explain("formatted") output,
        // captured instead of printed
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch {
        case e: Throwable => s"EXPLAIN FAILED for $name: ${e}"
      }
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"${name}_$suffix.txt"), plan)
          println(s"[explain] wrote $d/${name}_$suffix.txt")
        case None =>
          println(s"== $name ==")
          println(plan)
      }
      // a gate function may pin blocks (eager localCheckpoint) while
      // building its frame; release between dumps
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
