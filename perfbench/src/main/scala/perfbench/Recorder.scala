package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects Spark's public listener events for the traced run.
  *
  * The runner tags every job with two local properties before it runs an
  * operation: `perfbench.op` (the operation's index) and `perfbench.phase`
  * (build, action, or an ETL step). Jobs carry those properties, stages and
  * tasks are tied to their job, so every task is attributed to the
  * operation and step that caused it. Query-planning phases arrive through
  * the QueryExecutionListener, which carries no properties; the runner
  * drains the listener bus after every operation, so `currentOp` is
  * stable while that operation's events are delivered.
  *
  * Events are appended on the listener thread and read by the runner only
  * after a drain; nothing is written out until the run ends.
  */
final class Recorder(recordScans: Boolean = false) extends SparkListener with QueryExecutionListener {
  import Recorder._

  @volatile var currentOp: Int = -1

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val plans = ArrayBuffer.empty[Plan]
  /** With `recordScans`: per query execution, the tables it scanned. */
  val scans = ArrayBuffer.empty[(Int, Set[String])]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
    val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
    val j = Job(e.jobId, op, phase, e.time, -1L)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    openJobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, jobOfStage.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        sr.localBytesRead + sr.remoteBytesRead, sr.recordsRead, sr.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      plans += Plan(currentOp, phases(qe))
      if (recordScans) scans += ((currentOp, scannedTables(qe)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans += Plan(currentOp, phases(qe)) }
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, op: Int, phase: String, start: Long, end: Long)
  final case class Stage(id: Int, job: Int, start: Long, end: Long, numTasks: Int)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, inBytes: Long, inRecords: Long, shuffleReadBytes: Long,
                        shuffleReadRecords: Long, fetchWaitMs: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, outBytes: Long)
  /** Seconds spent in each Catalyst phase of one query execution. */
  final case class Plan(op: Int, phases: Map[String, Double])

  def scannedTables(qe: QueryExecution): Set[String] =
    qe.analyzed.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
      case _ => Nil
    }.toSet

  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1e3 }
}
