package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the Catalyst phase times of a finished SQL execution. */
object PerfbenchSql {
  def planMs(e: SparkListenerEvent): Option[(Long, Long)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      Some(end.executionId ->
        end.qe.tracker.phases.values.map(_.durationMs).sum)
    case _ => None
  }
}
