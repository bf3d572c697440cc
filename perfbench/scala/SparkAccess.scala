package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two things the traced run needs that Spark keeps package-private:
  * the listener bus, and the query execution an execution-end event
  * carries. */
object SparkAccess extends AdaptiveSparkPlanHelper {

  /** Wait until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of the files the execution's file scans selected to read
    * (each scan's "size of files read" metric), subqueries and
    * adaptive query stages included. */
  def filesReadBytes(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map { qe =>
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum
    }.getOrElse(0L)
}
