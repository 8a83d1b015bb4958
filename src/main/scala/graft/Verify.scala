package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes — builder-side
    // fast iteration on a few queries; the driver always passes 2 args
    val (sfDir, outDir) = (args(0), args(1))
    val onlyPrefixes: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val cpus = Routing.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // coalesce tiny reduce stages to data size (see Bench.scala) —
      // Verify is not timed, but its wall budget is part of the
      // driver-run contract and the sf0.01 stages are all tiny
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS) — see Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle/spill to tmpfs: the bench box has 128 GiB RAM and a
      // throttled virtual disk — shuffle I/O wait otherwise dominates
      // and adds 2-5x run-to-run variance
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
          else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query failure must surface in the artifact, not just stderr: a
    // result dir that simply never appears reads as "all passing" to a
    // driver that iterates emitted dirs (round 8 lost 5 broken queries
    // this way). Emit an _ERROR marker dir per failure plus a _FAILED
    // summary so both the driver and tools/oracle_check.py see it.
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) =>
        onlyPrefixes.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
      }
      // release what the query pinned: cached frames AND eager
      // localCheckpoint blocks (clearCache() alone does not free those;
      // ~280 queries of leaked blocks in one JVM squeeze late queries)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def q(s: String): String = JsonUtil.quote(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => onlyPrefixes.forall(_.exists(k.startsWith)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_FAILED.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} FAILED queries: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
