package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** The two private[spark] hooks the benchmark's traced run needs. Kept
  * inside the benchmark so the measuring code never depends on the
  * program's own shims. */
object PerfbenchBridge {

  /** Drain the async listener bus so every task-end event of the work
    * just finished has reached the tracer before it is read. */
  def flush(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)

  def registerQueryListener(spark: SparkSession, l: QueryExecutionListener): Unit =
    spark.asInstanceOf[classic.SparkSession].listenerManager.register(l)
}
