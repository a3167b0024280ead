// Accessors for two Spark internals the tracer needs. Both are
// package-private to Spark, hence these packages.

package org.apache.spark {
  /** Waits until every posted listener event has been delivered, so
    * counters read after a call include all of that call's events. */
  object BenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The QueryExecution an execution-end event carries (null when the
    * event was replayed from a log). */
  object BenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
