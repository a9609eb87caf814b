package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads; both are
  * package-private to Spark, hence this package. */
object SparkInternals {

  /** Waits until every posted listener event has been delivered, so
    * that a trace read right after an action includes its jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The executed plan of a finished SQL execution: the same
    * `QueryExecution` a `QueryExecutionListener` receives, here paired
    * with the execution id that the execution's jobs carry. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
