package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners, so
    * job, stage and task metrics of a finished call are complete. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
