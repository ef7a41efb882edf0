package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark internal the harness measures through: draining the
  * listener bus, so every job of a finished operation has been counted
  * before its metrics are read. */
object Access {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
