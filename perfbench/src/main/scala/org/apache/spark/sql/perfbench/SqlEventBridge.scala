package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query travels on the SQL execution-end event as a
  * `private[sql]` field. Reading it from the shared listener bus sees the
  * queries of every session, including the sessions catalog entries fork,
  * which a per-session `QueryExecutionListener` would miss. */
object SqlEventBridge {
  /** Milliseconds of the phases on the executed query's planning tracker:
    * optimization and planning, plus the analysis of its final plan only.
    * The analysis of the intermediate frames a DataFrame chain builds, each
    * in a query execution of its own, is not on it. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)
}
