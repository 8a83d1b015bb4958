package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters, fed by a `SparkListener` and a
  * `QueryExecutionListener` registered from the benchmark's code. A
  * span snapshots them before and after the call it wraps, once the
  * listener bus has drained, so the difference is the work that call
  * caused. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val c = Array.fill(Counter.values.size)(new AtomicLong)
  private def add(k: Counter.Value, v: Long): Unit = c(k.id).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Counter.jobs, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Counter.stages, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val i = e.taskInfo
        add(Counter.tasks, 1)
        add(Counter.runMs, m.executorRunTime)
        add(Counter.schedDelayMs, math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
        add(Counter.shuffleBytes, m.shuffleWriteMetrics.bytesWritten)
        add(Counter.inputRows, m.inputMetrics.recordsRead)
        add(Counter.bytesWritten, m.outputMetrics.bytesWritten)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add(Counter.actions, 1)
      add(Counter.planMs, qe.tracker.phases.values.map(_.durationMs).sum)
      val nodes = planNodes(qe.executedPlan)
      add(Counter.filesWritten, nodes.collect { case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").fold(0L)(_.value) }.sum)
      add(Counter.fileScans, nodes.count(isFileScan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def snapshot(): Snap = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Snap(c.map(_.get).toVector, gcMs())
  }

  /** Run `f`, returning its value and the span it made. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val a = snapshot()
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    val b = snapshot()
    (r, Span(name, (t1 - t0) / 1e6, b.counters.zip(a.counters).map { case (x, y) => x - y },
      b.gcMs - a.gcMs))
  }

  /** Storage held by persisted / checkpointed RDDs: (count, MB). */
  def pinned(): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    (sc.getPersistentRDDs.size, mb)
  }
}

final case class Snap(counters: Vector[Long], gcMs: Long)

final case class Span(name: String, ms: Double, d: Vector[Long], gcMs: Long) {
  def apply(k: Trace.Counter.Value): Long = d(k.id)
}

object Trace {
  object Counter extends Enumeration {
    val jobs, stages, tasks, runMs, schedDelayMs, shuffleBytes, inputRows,
      bytesWritten, filesWritten, fileScans, planMs, actions = Value
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Every node of a physical plan, through adaptive, query-stage and
    * command wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val wrapped = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    p +: (p.children ++ wrapped ++ p.subqueries).flatMap(planNodes)
  }

  def isFileScan(p: SparkPlan): Boolean = p.isInstanceOf[FileSourceScanExec]
}
