package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Access to Spark's listener bus, which is package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
