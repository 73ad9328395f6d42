package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: `parent` is the id of the span that caused it;
  * times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Double, endMs: Double)

final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)

/** One finished QueryExecution: wall-clock span, the action's own time,
  * planning-phase times (ms), what its source scans read, and whether it
  * was a write command into a graftshard table. */
final case class Exec(startMs: Long, endMs: Long, actionMs: Long, analysis: Long,
    optimization: Long, planning: Long, scanBytes: Long, scanRows: Long,
    graftWrite: Boolean)

/** Everything the traced run records, from outside the program: a
  * SparkListener for jobs, stages and tasks and a QueryExecutionListener for
  * planning phases, scan-node SQL metrics and graftshard write commands.
  * Installed only for traced passes; all state is in memory until the run
  * writes it out. Listener callbacks arrive on Spark's listener-bus threads,
  * so every method is synchronized. */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  val jobs = mutable.ArrayBuffer.empty[Job]
  val execs = mutable.ArrayBuffer.empty[Exec]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  var failedExecs = 0L
  var stages = 0L
  var tasks = 0L
  // task metrics, summed: times in ms except cpu (ns)
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, group.getOrElse(""), e.time, e.time)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    for (s <- i.submissionTime; c <- i.completionTime)
      spans += Span(s"stage-${i.stageId}.${i.attemptNumber()}",
        jobOfStage.get(i.stageId).map(j => s"job-$j").getOrElse(""), "stage",
        i.name, s.toDouble, c.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      deserMs += m.executorDeserializeTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { failedExecs += 1 }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val scans = try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec =>
        (s.metrics.get("filesSize").map(_.value).getOrElse(0L),
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case b: BatchScanExec => (0L, b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val graftWrite = qe.analyzed match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.getClass.getName.startsWith("graft.")
        case _ => false
      }
      case _ => false
    }
    // The planning phases carry wall-clock start times; the action's own
    // duration follows them.
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
      else phases.values.map(_.startTimeMs).min
    val planned = if (phases.isEmpty) start else phases.values.map(_.endTimeMs).max
    synchronized {
      execs += Exec(start, planned + durationNs / 1000000, durationNs / 1000000,
        phase(QueryPlanningTracker.ANALYSIS), phase(QueryPlanningTracker.OPTIMIZATION),
        phase(QueryPlanningTracker.PLANNING), scans.map(_._1).sum, scans.map(_._2).sum,
        graftWrite)
    }
  }
}
