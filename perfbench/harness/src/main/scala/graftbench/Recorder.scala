package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side record of what Spark did during one operation.
  *
  * Attached only in traced passes. The harness drains the listener bus at
  * the end of every operation and then calls [[take]], so everything
  * recorded between two takes belongs to the operation in between: one
  * client thread runs the operations strictly one after another. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val queries = ArrayBuffer.empty[QueryExecution]
  private val submitted = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val taskBuf = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    submitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val t = Task(e.taskInfo.launchTime, e.taskInfo.finishTime, e.reason == Success,
      m.map(_.executorCpuTime).getOrElse(0L), m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L))
    taskBuf.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += t
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val sub = submitted.remove(key).orElse(i.submissionTime).getOrElse(0L)
    stages += Stage(i.stageId, i.attemptNumber(), sub,
      i.completionTime.getOrElse(sub),
      taskBuf.remove(key).getOrElse(ArrayBuffer.empty))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { queries += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { queries += qe }

  /** Everything recorded since the previous take. */
  def take(): Snapshot = synchronized {
    val s = Snapshot(jobs.toList, stages.toList, queries.toList)
    jobs.clear(); stages.clear(); queries.clear()
    s
  }
}

object Recorder {
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitted: Long, completed: Long,
      tasks: ArrayBuffer[Task])
  final case class Task(launch: Long, finish: Long, ok: Boolean, cpuNs: Long,
      gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class Snapshot(jobs: Seq[Job], stages: Seq[Stage],
      queries: Seq[QueryExecution])
}
