package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst planning time of a finished SQL execution, from its
  * `QueryPlanningTracker` (the event's query execution is package-private).
  */
object SqlExecution {
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
}
