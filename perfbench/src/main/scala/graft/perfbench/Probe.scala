package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters from Spark's public listener APIs, attached only in a traced
  * run: one SparkListener (jobs, stages, tasks, shuffle, spill, output) and
  * one QueryExecutionListener (Catalyst phase times and the row counts of
  * every executed plan, builder-internal actions included).
  *
  * Events arrive on the listener bus thread; the harness drains the bus
  * before it reads, and every read or write holds this object's lock.
  */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Probe._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val jobById = mutable.HashMap.empty[Int, Job]
  // per (stage, attempt): task count, max and total task duration
  private val taskDur = mutable.HashMap.empty[(Int, Int), (Int, Long, Long)]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  private def add(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  def snapshot(): Map[String, Double] = synchronized(counts.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.jobId, e.time, -1L, e.stageIds)
    jobs += j; jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val (n, mx, sum) =
        taskDur.remove((s.stageId, s.attemptNumber())).getOrElse((0, 0L, 0L))
      stages += Stage(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), n, mx, sum)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    add("spark.tasks", 1)
    if (e.reason != Success) add("task.failed", 1)
    if (info.attemptNumber > 0) add("task.retried", 1)
    val key = (e.stageId, e.stageAttemptId)
    val (n, mx, sum) = taskDur.getOrElse(key, (0, 0L, 0L))
    taskDur(key) = (n + 1, math.max(mx, info.duration), sum + info.duration)
    add("task.duration_s", info.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.disk_mb", m.diskBytesSpilled / 1048576.0)
      add("spill.mem_mb", m.memoryBytesSpilled / 1048576.0)
      add("output.write_mb", m.outputMetrics.bytesWritten / 1048576.0)
      val peak = m.peakExecutionMemory / 1048576.0
      counts("task.peak_exec_mem_mb") =
        math.max(counts.getOrElse("task.peak_exec_mem_mb", 0.0), peak)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    recordPhases(qe)
    var scanned, joined = 0L
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
      val name = p.getClass.getSimpleName
      if (name.contains("Scan")) scanned += rows(p)
      else if (name.contains("Join")) joined += rows(p)
    }
    synchronized {
      add("rows.scanned", scanned)
      add("rows.joined", joined)
    }
  }

  /** Catalyst phase times of one query execution. */
  def recordPhases(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs / 1e3)
      .getOrElse(0.0)
    synchronized {
      add("catalyst.analysis_s", phase(QueryPlanningTracker.ANALYSIS))
      add("catalyst.optimization_s", phase(QueryPlanningTracker.OPTIMIZATION))
      add("catalyst.planning_s", phase(QueryPlanningTracker.PLANNING))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Probe {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int,
                         maxTaskMs: Long, sumTaskMs: Long)

  /** Node and exchange counts of a physical plan, subqueries included. */
  def planShape(p: SparkPlan): (Int, Int) = {
    val all = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(p) { case n => n.getClass.getSimpleName }
    (all.size, all.count(_.contains("Exchange")))
  }
}
