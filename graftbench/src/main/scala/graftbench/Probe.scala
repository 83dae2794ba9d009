package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one window (an iteration or a trace span). */
final class Totals {
  var jobs, tasks, failedTasks, runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputBytes, outputRecords = 0L
  /** Query actions by name (`head`, `count`, `save` …). */
  val actions = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Executed scans of the workload's primary input. */
  var primaryScans = 0L

  def add(o: Totals): Totals = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    o.actions.foreach { case (k, v) => actions(k) += v }
    primaryScans += o.primaryScans
    this
  }
}

/** The benchmark's own listener: task metrics and query actions,
  * attributed to the window named by `open`. The calling thread drains
  * the listener bus before switching windows, so every event lands in
  * the window that caused it.
  */
final class Probe(spark: SparkSession, primaryPath: Option[String])
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile private var current = new Totals
  private val seenCaches = mutable.Set.empty[AnyRef]

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Close the current window and open a fresh one; returns the closed
    * window's totals. */
  def open(): Totals = {
    drain()
    val done = current
    current = new Totals
    done
  }

  /** Forget which cached relations were already counted (call at
    * iteration boundaries, where the benchmark releases all caches). */
  def resetCaches(): Unit = seenCaches.synchronized(seenCaches.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = current.jobs += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = current
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(funcName, qe)

  private def action(funcName: String, qe: QueryExecution): Unit = {
    val t = current
    t.actions(funcName) += 1
    primaryPath.foreach(p => t.primaryScans += scans(qe.executedPlan, p))
  }

  /** Scans of `path` this plan executes: direct file scans, plus the
    * scans inside a cached relation the first time the window meets it
    * (later reads hit the cache and re-derive nothing). Reused
    * exchanges are leaves, so a reused scan is not counted twice. */
  private def scans(plan: SparkPlan, path: String): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) => 1L
      case m: InMemoryTableScanExec
          if seenCaches.synchronized(seenCaches.add(m.relation.cacheBuilder)) =>
        scans(m.relation.cacheBuilder.cachedPlan, path)
    }.sum
}

object Probe {
  def install(spark: SparkSession, primaryPath: Option[String]): Probe = {
    val p = new Probe(spark, primaryPath)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
