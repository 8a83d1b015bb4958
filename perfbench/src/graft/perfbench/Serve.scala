package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftEngine
import graft.functions.GraftFunctions
import graft.operators.{GraphBuild, Pymk, Search}
import graft.streaming.CardStream

/** A workload: the closed-loop cycle one client repeats. Every cycle
  * folds one batch, then issues its requests; each request is issued
  * once cold and then `WarmRepeats` more times in a row.
  *
  * @param ownerPymk  PYMK for the fold's first owner, whose graph just
  *                   changed
  * @param zipfPairs  pairs of (search, PYMK) requests drawn Zipf(0.8)
  *                   from the distinct request keys */
final case class Workload(name: String, ownerPymk: Boolean, zipfPairs: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("ingest_fold", ownerPymk = true, zipfPairs = 0),
    Workload("mixed_rw", ownerPymk = false, zipfPairs = 1))
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}

/** One benchmark run: set-up, then `seconds` of the workload's stream
  * against one `GraftEngine`, every answer checked against [[Expect]].
  * With a [[Trace]] the folds and cold requests are replayed through
  * the layers' public functions inside spans (see [[tracedFold]]). */
final class Serve(spark: SparkSession, work: String, gen: Gen, wl: Workload,
                  trace: Option[Trace], log: String => Unit) {
  import Serve._

  val Limit = 10
  val WarmupCycles = 1
  val WarmRepeats = 3

  private var engine: GraftEngine = _
  private[perfbench] val expect = new Expect
  private var nextFold = 0
  private var nextRequest = 0L

  // request history since the last write: the warm/cold class and the
  // cold answer a warm answer must equal
  private val coldAnswer = mutable.HashMap.empty[String, Seq[String]]
  private var liveDocs: Option[Long] = None

  val samples: Map[String, mutable.ArrayBuffer[Double]] = Seq("fold", "fold_traced",
    "card_visible", "search_cold", "pymk_cold", "warm", "request").map(
    _ -> mutable.ArrayBuffer.empty[Double]).toMap
  val layer: Map[String, mutable.ArrayBuffer[Double]] = LayerSeries.map(
    _ -> mutable.ArrayBuffer.empty[Double]).toMap
  var attempted = 0L
  var failed = 0L
  private var hits, repeats, evictedMisses = 0L
  private var peakPinned = (0, 0.0)

  private def cardsDf(batch: Seq[Card]): DataFrame = spark.createDataFrame(batch)

  private def fail(what: String): Unit = {
    failed += 1
    if (failed <= 20) log(s"[perfbench] FAILED: $what")
  }

  /** Run `f` as one attempted operation. It fails, once, if it throws or
    * reports any problem. */
  private def op(what: => String)(f: => Seq[String]): Unit = {
    attempted += 1
    val problems = try f catch {
      case e: Exception => Seq(s"$what threw ${String.valueOf(e.getMessage).take(300)}")
    }
    if (problems.nonEmpty) fail(problems.mkString("; "))
    trace.foreach { t =>
      val p = t.pinned()
      if (p._2 >= peakPinned._2) peakPinned = p
    }
  }

  // ------------------------------------------------------------ set-up

  /** Build the warehouse: bulk preload, then `WarmupCycles` of the
    * workload's cycle, so the JIT and Spark's code cache are warm before
    * timing starts. Returns its seconds. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    engine = new GraftEngine(spark, s"$work/warehouse")
    op("preload") { engine.ingest(cardsDf(gen.preload)); Nil }
    expect.add(gen.preload)
    (1 to WarmupCycles).foreach(_ => cycle())
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------- workload

  /** Repeat the workload's cycle until `seconds` have passed. Only what
    * happens here is recorded. */
  def runWorkload(seconds: Int): Unit = {
    (samples.values ++ layer.values).foreach(_.clear())
    hits = 0; repeats = 0; evictedMisses = 0; peakPinned = (0, 0.0)
    // at least two cycles: a traced run alternates traced and plain folds
    val deadline = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (System.nanoTime() < deadline || n < 2) { cycle(); n += 1 }
  }

  private def cycle(): Unit = {
    val batch = gen.fold(nextFold)
    val k = nextFold
    nextFold += 1
    val t0 = System.nanoTime()
    op(s"fold $k") {
      val df = cardsDf(batch)
      if (trace.isDefined && k % 2 == 0) tracedFold(df, batch)
      else {
        val s = System.nanoTime()
        engine.ingest(df)
        samples("fold") += (System.nanoTime() - s) / 1e6
      }
      Nil
    }
    expect.add(batch)
    coldAnswer.clear(); liveDocs = None
    val (probe, card) = gen.probe(batch)
    val docId = Expect.md5_8(Expect.imageId(card.s3_key))
    if (request(probe, mustFind = Some(docId)))
      samples("card_visible") += (System.nanoTime() - t0) / 1e6
    (1 to WarmRepeats).foreach(_ => request(probe))
    val reads =
      (if (wl.ownerPymk) Seq(PymkReq(gen.persons.find(_.user == card.owner).get.name.toLowerCase))
       else Nil) ++
      (1 to wl.zipfPairs).flatMap { _ =>
        val i = nextRequest; nextRequest += 1
        Seq(gen.zipfSearch(i), gen.zipfPymk(i))
      }
    reads.foreach(r => (0 to WarmRepeats).foreach(_ => request(r)))
  }

  /** `GraftEngine.ingest`'s steps, in its order, through the layers'
    * public functions, each inside a span. Folds alternate between this
    * and the plain `ingest` so the run measures its own overhead. */
  private def tracedFold(df: DataFrame, batch: Seq[Card]): Unit = {
    val t = trace.get
    val (parts, whole) = t.span("fold") {
      val (enriched, sv) = t.span("validate")(CardStream.validated(df))
      val (_, ss) = t.span("merge_search")(CardStream.mergeLww(spark, enriched,
        engine.searchPath, Seq("doc_id"), "created_at"))
      val (_, sg) = t.span("merge_graph") {
        val (v, e) = GraphBuild.buildGraph(enriched)
        val vOrd = enriched
          .withColumn("id", GraftFunctions.personId(col("email")))
          .groupBy("id").agg(max("created_at").as("created_at"))
        CardStream.mergeLww(spark, v.join(vOrd, "id"), engine.vertexPath, Seq("id"),
          "created_at")
        CardStream.mergeLww(spark, e.withColumn("_ord", lit(0)), engine.edgePath,
          Seq("src", "dst"), "_ord")
      }
      val (_, sa) = t.span("album") {
        val albumNew = enriched.select("owner", "image_id", "doc_id", "s3_bucket", "s3_key")
        CardStream.recoverSwap(spark, engine.albumPath)
        val album = CardStream.tableOrEmpty(spark, engine.albumPath, albumNew)
          .unionByName(albumNew).dropDuplicates("owner", "image_id")
        CardStream.swapInto(spark, album, engine.albumPath, partitionCols = Seq("owner"))
      }
      engine.refresh()
      Seq(sv, ss, sg, sa)
    }
    Seq("CardStream.validate_ms", "CardStream.merge_search_ms", "GraphBuild.merge_graph_ms",
      "CardStream.album_ms").zip(parts).foreach { case (n, s) => layer(n) += s.ms }
    layer("fold_unaccounted") += (whole.ms - parts.map(_.ms).sum) / whole.ms
    import Trace.Counter._
    samples("fold_traced") += whole.ms
    layer("CardStream.jobs_per_fold") += whole(jobs).toDouble
    layer("CardStream.tasks_per_fold") += whole(tasks).toDouble
    layer("CardStream.files_written_per_fold") += whole(filesWritten).toDouble
    layer("CardStream.bytes_written_per_fold") += whole(bytesWritten).toDouble
    layer("CardStream.shuffle_bytes_per_fold") += whole(shuffleBytes).toDouble
    layer("CardStream.write_amp") += whole(bytesWritten).toDouble / inputBytes(batch)
  }

  // ----------------------------------------------------------- requests

  /** Issue one request through the engine, time it, classify it by
    * request history and check the answer (a read-your-write probe must
    * also find `mustFind`). Returns whether it passed. */
  private[perfbench] def request(req: Request, mustFind: Option[String] = None): Boolean = {
    val warm = coldAnswer.contains(req.key)
    val before = failed
    op(req.toString) {
      val t0 = System.nanoTime()
      val (rows, engineSpan) = trace match {
        case Some(t) => val (r, s) = t.span("engine")(call(req)); (r, Some(s))
        case None => (call(req), None)
      }
      val ms = engineSpan.map(_.ms).getOrElse((System.nanoTime() - t0) / 1e6)
      samples("request") += ms
      samples(if (warm) "warm" else req match {
        case _: SearchReq => "search_cold"
        case _: PymkReq => "pymk_cold"
      }) += ms
      val norm = rows.toSeq.map(normalize)
      val wrongWarm = warm && coldAnswer(req.key) != norm
      if (!warm) coldAnswer(req.key) = norm
      check(req, rows) ++
        mustFind.filterNot(id => rows.exists(_.getAs[String]("doc_id") == id))
          .map(id => s"$req: read-your-write probe did not find doc $id") ++
        (if (wrongWarm) Seq(s"$req: warm answer differs from cold") else Nil) ++
        engineSpan.toSeq.flatMap(s => traceRequest(req, norm, rows.length, s, warm))
    }
    failed == before
  }

  private def call(req: Request): Array[Row] = req match {
    case SearchReq(q, o) => engine.search(q, o, Limit).collect()
    case PymkReq(n) => engine.pymk(n, Limit).collect()
  }

  /** Per-layer attribution of one traced request: memo hit or miss, and
    * for a miss, the operator called directly with the engine's
    * arguments (its answer must equal the engine's). */
  private def traceRequest(req: Request, norm: Seq[String], nRows: Int,
                           s: Span, warm: Boolean): Seq[String] = {
    import Trace.Counter._
    val t = trace.get
    val hit = s(jobs) == 1 && s(shuffleBytes) == 0 && s(fileScans) == 0
    if (hit) hits += 1
    if (warm) { repeats += 1; if (!hit) evictedMisses += 1 }
    if (warm) return Nil
    val (direct, opNorm) = req match {
      case SearchReq(q, o) =>
        val n = liveDocs.getOrElse {
          val c = engine.searchTable.filter(col("is_alive") === 1).count()
          liveDocs = Some(c); c
        }
        val (opRows, so) = t.span("Search.search")(Search.search(engine.searchTable,
          "doc_id", engine.SearchFields, q, Limit, ownerFilter = o.map("owner" -> _),
          aliveCol = Some("is_alive"), numDocs = Some(n), scorer = "bm25",
          combine = "max").collect())
        layer("Search.op_ms") += so.ms
        layer("Search.jobs") += so(jobs).toDouble
        layer("Search.tasks") += so(tasks).toDouble
        layer("Search.shuffle_bytes") += so(shuffleBytes).toDouble
        layer("Search.rows_read_per_result") += so(inputRows).toDouble / math.max(1, nRows)
        (Seq(so), opRows.toSeq.map(normalize))
      case PymkReq(name) =>
        val (anchors, sa) = t.span("Pymk.anchorByName")(
          Pymk.anchorByName(engine.vertices, name).collect())
        val (opRows, sr) = t.span("Pymk.recommendWithProps") {
          if (anchors.isEmpty) Array.empty[Row]
          else Pymk.recommendWithProps(engine.vertices, engine.edges,
            lit(anchors.head.getString(0)), Limit).select(
            array(col("name")).as("name"), array(col("email")).as("email"),
            array(col("phone_number")).as("phone_number"),
            array(col("company")).as("company"), array(col("job_title")).as("job_title"),
            col("score").cast("double").as("score")).collect()
        }
        layer("Pymk.anchor_ms") += sa.ms
        layer("Pymk.recommend_ms") += sr.ms
        layer("Pymk.jobs") += (sa(jobs) + sr(jobs)).toDouble
        layer("Pymk.rows_read_per_result") +=
          (sa(inputRows) + sr(inputRows)).toDouble / math.max(1, nRows)
        (Seq(sa, sr), opRows.toSeq.map(normalize))
    }
    layer("GraftEngine.miss_overhead_ms") += s.ms - direct.map(_.ms).sum
    if (opNorm != norm) Seq(s"$req: the operator's answer differs from the engine's") else Nil
  }

  /** Every way the answer to `req` can be wrong; empty when right. */
  def check(req: Request, rows: Array[Row]): Seq[String] = req match {
    case r: SearchReq =>
      val matches = expect.searchMatches(r)
      val terms = Expect.queryTerms(r.query).toSet
      val ids = rows.map(_.getAs[String]("doc_id"))
      val scores = rows.map(x => math.round(x.getAs[Double]("_score") * 1e4))
      val bad = rows.toSeq.flatMap { x =>
        val id = x.getAs[String]("doc_id")
        val fields = Expect.SearchFields.map(f => x.getAs[String](f))
        Seq(
          (x.getAs[Int]("is_alive") != 1) -> s"doc $id not alive",
          !r.owner.forall(_ == x.getAs[String]("owner")) -> s"doc $id fails the owner filter",
          !fields.exists(f => Expect.tokens(f).exists(terms)) ->
            s"doc $id has no query term in a boosted field",
          !matches(id) -> s"doc $id is not a match",
          !expect.doc(id).forall(c => Expect.SearchFields.map(Expect.field(c, _)) == fields) ->
            s"doc $id fields are not its newest card's"
        ).collect { case (true, m) => s"$r: $m" }
      }
      bad ++ Seq(
        (rows.length != math.min(Limit, matches.size)) ->
          s"$r: ${rows.length} hits, expected ${math.min(Limit, matches.size)}",
        (ids.distinct.length != ids.length) -> s"$r: duplicate hits",
        (scores.toSeq != scores.toSeq.sorted.reverse) -> s"$r: hits not ranked by score"
      ).collect { case (true, m) => m }
    case r: PymkReq =>
      val got = rows.toVector.map { x =>
        def s(c: String) = x.getAs[Seq[String]](c).head
        PymkRow(s("name"), s("email"), s("phone_number"), s("company"), s("job_title"),
          x.getAs[Double]("score"))
      }
      val want = expect.pymk(r.name, Limit)
      if (got == want) Nil else Seq(s"$r: got $got, expected $want")
  }

  // ------------------------------------------------------------ results

  /** End-to-end metrics (untraced run). */
  def endToEnd(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("fold_p50_ms", median(samples("fold")), "ms"),
    ("card_visible_p50_ms", median(samples("card_visible")), "ms"),
    ("search_cold_p50_ms", median(samples("search_cold")), "ms"),
    ("pymk_cold_p50_ms", median(samples("pymk_cold")), "ms"),
    ("warm_p50_ms", median(samples("warm")), "ms"),
    ("requests_per_s", samples("request").length / (samples("request").sum / 1000), "1/s"))

  /** Per-layer metrics (traced run); `phase` spans the timed phase. */
  def perLayer(phase: Span, cores: Int): Seq[(String, Double, String)] = {
    import Trace.Counter._
    val ops = math.max(1L, attempted).toDouble
    val requests = math.max(1, samples("request").length).toDouble
    def m(n: String) = median(layer(n))
    Seq(
      ("CardStream.validate_ms", m("CardStream.validate_ms"), "ms"),
      ("CardStream.merge_search_ms", m("CardStream.merge_search_ms"), "ms"),
      ("GraphBuild.merge_graph_ms", m("GraphBuild.merge_graph_ms"), "ms"),
      ("CardStream.album_ms", m("CardStream.album_ms"), "ms"),
      ("CardStream.jobs_per_fold", m("CardStream.jobs_per_fold"), "count"),
      ("CardStream.tasks_per_fold", m("CardStream.tasks_per_fold"), "count"),
      ("CardStream.files_written_per_fold", m("CardStream.files_written_per_fold"), "count"),
      ("CardStream.bytes_written_per_fold", m("CardStream.bytes_written_per_fold"), "B"),
      ("CardStream.write_amp", m("CardStream.write_amp"), "ratio"),
      ("CardStream.shuffle_bytes_per_fold", m("CardStream.shuffle_bytes_per_fold"), "B"),
      ("Search.op_ms", m("Search.op_ms"), "ms"),
      ("Search.jobs", m("Search.jobs"), "count"),
      ("Search.tasks", m("Search.tasks"), "count"),
      ("Search.shuffle_bytes", m("Search.shuffle_bytes"), "B"),
      ("Search.rows_read_per_result", m("Search.rows_read_per_result"), "rows/result"),
      ("Pymk.anchor_ms", m("Pymk.anchor_ms"), "ms"),
      ("Pymk.recommend_ms", m("Pymk.recommend_ms"), "ms"),
      ("Pymk.jobs", m("Pymk.jobs"), "count"),
      ("Pymk.rows_read_per_result", m("Pymk.rows_read_per_result"), "rows/result"),
      ("GraftEngine.memo_hit_ratio", hits / requests, "ratio"),
      ("GraftEngine.evicted_miss_ratio",
        if (repeats == 0) 0.0 else evictedMisses.toDouble / repeats, "ratio"),
      ("GraftEngine.miss_overhead_ms", m("GraftEngine.miss_overhead_ms"), "ms"),
      ("GraftEngine.pinned_rdds", peakPinned._1.toDouble, "count"),
      ("GraftEngine.pinned_mb", peakPinned._2, "MB"),
      ("spark.plan_ms", phase(planMs).toDouble / math.max(1L, phase(actions)), "ms"),
      ("spark.stages_per_op", phase(stages) / ops, "count"),
      ("spark.task_busy_ratio", phase(runMs) / (phase.ms * cores), "ratio"),
      ("spark.scheduler_delay_ms", phase(schedDelayMs).toDouble / math.max(1L, phase(tasks)),
        "ms"),
      ("spark.gc_ms", phase.gcMs / ops, "ms"),
      ("trace.fold_overhead_ms", median(samples("fold_traced")) - median(samples("fold")),
        "ms"),
      ("trace.fold_unaccounted_share", m("fold_unaccounted"), "ratio"))
  }

  /** Measured shares of the workload's properties. */
  def properties(): Seq[(String, Double)] = {
    val req = math.max(1, samples("request").length).toDouble
    Seq(
      "cold_request_share" -> (samples("search_cold").length + samples("pymk_cold").length) / req,
      "repeat_request_share" -> samples("warm").length / req,
      "distinct_owners" -> gen.shape.owners.toDouble) ++
      (if (trace.isDefined) Seq(
        "memo_hit_ratio" -> hits / req,
        "evicted_miss_share" -> (if (repeats == 0) 0.0 else evictedMisses.toDouble / repeats))
      else Nil)
  }
}

object Serve {
  val LayerSeries: Seq[String] = Seq(
    "CardStream.validate_ms", "CardStream.merge_search_ms", "GraphBuild.merge_graph_ms",
    "CardStream.album_ms", "CardStream.jobs_per_fold", "CardStream.tasks_per_fold",
    "CardStream.files_written_per_fold", "CardStream.bytes_written_per_fold",
    "CardStream.write_amp", "CardStream.shuffle_bytes_per_fold", "fold_unaccounted",
    "Search.op_ms", "Search.jobs", "Search.tasks", "Search.shuffle_bytes",
    "Search.rows_read_per_result", "Pymk.anchor_ms", "Pymk.recommend_ms", "Pymk.jobs",
    "Pymk.rows_read_per_result", "GraftEngine.miss_overhead_ms")

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else percentile(xs, 50)

  /** Linear-interpolated percentile (the numpy default). */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.length - 1) * p / 100
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
  }

  /** The highest of a fixed set of percentiles with at least ten
    * samples beyond it: (percentile, value), if any has. */
  def tail(xs: collection.Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.length * (1 - p / 100) >= 10)
      .map(p => (p, percentile(xs, p)))

  def normalize(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case d: Double => f"$d%.4f"
    case x => String.valueOf(x)
  }.mkString("|")

  def inputBytes(batch: Seq[Card]): Double =
    batch.map(_.productIterator.map(_.toString.getBytes("UTF-8").length).sum).sum.toDouble

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // graft.Bench's main session, with its environment overrides fixed
    // and every file it writes kept under `work`
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case None => "null"
    case Some(x) => json(x)
    case m: Seq[_] if m.nonEmpty && m.forall(_.isInstanceOf[(_, _)]) =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case m: Seq[_] => m.map(json).mkString("[", ",", "]")
    case x => json(x.toString)
  }

  final case class Outcome(result: String, metrics: Seq[(String, Double, String)],
                           failed: Long)

  /** Set up, run `seconds` of `wl` and summarize: the result line, and
    * the artifact written to `artifact` (if given). */
  def measure(spark: SparkSession, work: String, gen: Gen, wl: Workload, traced: Boolean,
              seconds: Int, startS: Double,
              artifact: Option[String]): Outcome = {
    val log = (s: String) => System.err.println(s)
    val trace = if (traced) Some(new Trace(spark)) else None
    val run = new Serve(spark, work, gen, wl, trace, log)
    try {
      val setupS = startS + run.setup()
      val phase0 = trace.map(_.snapshot())
      val t0 = System.nanoTime()
      run.runWorkload(seconds)
      val phase = trace.map { t =>
        val b = t.snapshot(); val p0 = phase0.get
        Span("phase", (System.nanoTime() - t0) / 1e6,
          b.counters.zip(p0.counters).map { case (x, y) => x - y }, b.gcMs - p0.gcMs)
      }
      val metrics = phase match {
        case Some(p) => run.perLayer(p, Runtime.getRuntime.availableProcessors)
        case None => run.endToEnd(setupS)
      }
      // a metric the run could not measure is a failed run, not a number
      val unmeasured = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
      if (unmeasured.nonEmpty) run.failed += 1
      val series = run.samples.toSeq.sortBy(_._1).map { case (k, xs) =>
        k -> Seq("n" -> xs.length, "p50" -> (if (xs.isEmpty) None else Some(median(xs))),
          "samples" -> xs.toSeq.map(x => math.round(x * 10) / 10.0),
          "tail" -> tail(xs).map { case (p, v) => Seq("percentile" -> p, "value" -> v) })
      }
      val art = json(Seq(
        "workload" -> wl.name, "seed" -> gen.seed, "trace" -> traced,
        "shape" -> gen.shape.toString, "jvm_to_session_s" -> startS,
        "setup_s" -> setupS, "series" -> series,
        "properties" -> run.properties(), "unmeasured" -> unmeasured,
        "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
          .filterNot(kv => kv._1.endsWith(".dir") || kv._1.endsWith(".id")),
        "cores" -> Runtime.getRuntime.availableProcessors))
      artifact.foreach(p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p), art.getBytes("UTF-8")))
      log(s"[perfbench] $art")
      Outcome(json(Seq("correct" -> (run.failed == 0), "attempted" -> run.attempted,
        "failed" -> run.failed, "metrics" -> metrics.map { case (n, v, u) =>
          n -> Seq("value" -> v, "unit" -> u) })), metrics, run.failed)
    } finally trace.foreach(_.stop())
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a("work"))
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val out = try {
      if (a.get("selftest").contains("1")) SelfTest.run(spark, a("work"))
      else measure(spark, a("work"), new Gen(a("seed").toLong, Shape.Bench),
        Workload(a("workload")), a("trace") == "1", a("seconds").toInt,
        startS, a.get("artifact")).result
    } finally spark.stop()
    println(out)
  }
}
