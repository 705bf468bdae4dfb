package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the planning phases of a finished SQL execution from its
  * listener event. The event's `QueryExecution` is package-private to
  * Spark SQL; reading it from the event (rather than registering a
  * per-session `QueryExecutionListener`) also covers the sessions a
  * query creates for itself, such as the streaming queries' own
  * sessions. */
object PerfbenchSql {
  def planMillis(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
      .getOrElse(0L)
}
