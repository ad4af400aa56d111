package org.apache.spark.e2ebench

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every queued event, so
  * a traced op's job, stage and task records are complete before the
  * next op starts (the bus is `private[spark]`, hence this package). */
object TraceBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
