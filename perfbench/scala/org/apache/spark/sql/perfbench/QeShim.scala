package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase times (QueryPlanningTracker) of a finished SQL
  * execution, in milliseconds by phase name.
  */
object QeShim {
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)
}
