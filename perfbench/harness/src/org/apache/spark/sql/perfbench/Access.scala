package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reached from inside
  * Spark's package because both are package-private.
  */
object Access {

  /** The listener bus is asynchronous: a traced op is only closed once
    * every event it posted has been delivered, or a landing write would
    * leak into the next op's spans.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The finished execution's plan, for its operator metrics. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
