package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced run needs, which are package-private. */
object Bus {
  /** Waits until the listener bus has delivered every posted event, so
    * that each event of a pass is counted in that pass. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's plan; null when Spark did not attach it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
