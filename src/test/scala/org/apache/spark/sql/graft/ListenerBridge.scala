package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Waits on the `private[spark]` listener bus until every event posted so
  * far is delivered, so a `QueryExecutionListener` has seen each query
  * that already ran. */
object ListenerBridge {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
