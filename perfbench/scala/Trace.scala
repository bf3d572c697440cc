package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkAccess

/** Benchmark-side tracing: every traced call runs under its own job
  * group, and this listener attributes each job, task and SQL execution
  * to the call whose group it carries.  Raw task intervals and metrics
  * are kept in memory and written out with the run's result; the
  * arithmetic (interval union, per-layer sums) is done by the
  * benchmark's Python side. */
final class Trace extends SparkListener {
  import Trace._

  private val stageGroup = mutable.Map.empty[Int, String]
  private val executionGroup = mutable.Map.empty[Long, String]
  val jobs: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val scanBytes: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { g =>
      jobs(g) += 1
      e.stageIds.foreach(stageGroup(_) = g)
      props.flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .foreach(id => executionGroup(id.toLong) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val i = e.taskInfo
      tasks += TaskRec(g, i.launchTime, i.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** An execution ends after all its jobs have started, so its group is
    * known by then; one that ran no job scanned nothing. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      executionGroup.remove(end.executionId)
        .foreach(g => scanBytes(g) += SparkAccess.filesReadBytes(end))
    }
    case _ =>
  }
}

object Trace {
  /** The local properties `SparkContext.setJobGroup` and SQL executions set. */
  val JobGroupKey = "spark.jobGroup.id"
  val ExecutionIdKey = "spark.sql.execution.id"

  final case class TaskRec(group: String, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleWrite: Long)
}
