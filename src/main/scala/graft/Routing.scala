package graft

import org.apache.spark.sql.SparkSession
import org.json4s.{JArray, JDecimal, JDouble, JInt, JObject, JString, JValue}

/** Shared harness policy: the core count of every harness session
  * ([[Bench]], [[QTime]], [[Verify]], [[Explain]]) and the gate routing
  * of [[Bench]] and [[QTime]].
  *
  * The small 4-partition child session exists for SCHEDULING-bound
  * gates — many tiny stages, sub-0.1 s of actual work. A few gates
  * have a trivial DuckDB oracle (planted-recall contracts replay a
  * count) but HEAVY Spark-side compute (Lloyd rounds over the
  * embedding corpus, 150k-candidate exact-verify intersections): the
  * duck-time router would misread them as tiny and strand their
  * compute on 4 reduce partitions. They are listed here by name —
  * an auditable opt-out, not a second heuristic that could flap. */
private[graft] object Routing {

  /** Gates that must keep the full-parallelism session regardless of
    * their (trivial) oracle time. */
  val ComputeDense: Set[String] = Set(
    "qX_dedup_minhash_recall", // 148k-pair exact-verify intersections
    "qX_fuzzy_join_recall",    // banded cross-corpus verify, same shape
    "qX_opq",                  // rotation fit + PQ Lloyd + encode + ADC
    "qX_pq_recall",            // PQ train + full encode + ADC rerank
  )

  /** `SPARK_GRAFT_CPUS`, else the machine's core count: the local
    * thread count and shuffle partitions of every harness session. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** What the previous bench artifact recorded: each gate's DuckDB
    * oracle seconds, the gates it routed small, and its SF dir. */
  final case class Prior(duck: Map[String, Double], routedSmall: Set[String],
                         sf: Option[String]) {
    /** The duck times were measured at `sfDir` (or at an unrecorded
      * dir). Against any other dir (a big synthetic SF sweep) they say
      * nothing about Spark-side compute, and a 4-partition wedge stage
      * at sf1000 is an OOM, so a mismatch routes nothing small. */
    def matches(sfDir: String): Boolean = sf.forall(_ == sfDir)
  }

  object Prior {
    def of(artifact: JValue): Prior = Prior(
      artifact \ "duckdb" match {
        case JObject(fs) => fs.collect {
          case (k, JDouble(v))  => k -> v
          case (k, JInt(v))     => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      },
      artifact \ "routed_small" match {
        case JArray(xs) => xs.collect { case JString(s) => s }.toSet
        case _          => Set.empty
      },
      artifact \ "sf" match {
        case JString(s) => Some(s)
        case _          => None
      })
  }

  /** Whether gate `name` runs on the small session at `sfDir`.
    * Hysteresis: < 0.25 s of oracle work routes small, ≥ 0.35 s stays
    * on the full session, and the 0.25–0.35 band keeps whichever side
    * the previous run used (annotation refreshes move straddling
    * gates' duck times across any single cutoff run to run — r14 lost
    * 4+ s to one such flap). The band falls back to the old 0.3 cutoff
    * when no routing was recorded yet. Unannotated gates, the
    * [[ComputeDense]] opt-outs and an SF-dir mismatch stay on the
    * full session. */
  def routesSmall(name: String, prior: Prior, sfDir: String): Boolean =
    prior.matches(sfDir) && !ComputeDense(name) &&
      (prior.duck.get(name) match {
        case Some(d) if d < 0.25 => true
        case Some(d) if d < 0.35 =>
          if (prior.routedSmall.nonEmpty) prior.routedSmall(name) else d < 0.3
        case _ => false
      })

  /** The small child session of `spark` for routed gates: reduce
    * stages of 4 partitions (AQE-coalesced further by data size).
    * Results are partition-count-independent by construction (every
    * gate is DuckDB-hash-gated via Verify).
    *  - Coarse scans: the 16m main-session split sizing would triple a
    *    scheduling-bound gate's scan task count for nothing.
    *  - AQE OFF: on these gates every exchange materialization is its
    *    own job + a replan, and the per-job driver floor (~50-150 ms)
    *    IS the gate's cost — measured A/B at sf0.1: qX_woe 2.29→0.80 s
    *    (14→8 jobs), qX_norm_stats 1.26→0.55 s, qX_hits 3.05→1.55 s.
    *    The 4-partition fan-out these gates lose coalescing on is tiny
    *    by definition (< 0.25 s of oracle work); the full session keeps
    *    AQE, whose gates have real data where coalescing and
    *    skew-splitting pay.
    * `SPARK_GRAFT_SMALL_CONF=k=v;…` overrides for A/B runs. */
  def smallSession(spark: SparkSession): SparkSession = {
    val small = spark.newSession()
    small.conf.set("spark.sql.shuffle.partitions", "4")
    small.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    small.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    small.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    small.conf.set("spark.sql.adaptive.enabled", "false")
    sys.env.get("SPARK_GRAFT_SMALL_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split("=", 2); small.conf.set(k, v)
    })
    small
  }
}
