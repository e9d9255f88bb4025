package org.apache.spark.graftest

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; a job-count pin drains
  * it so every job event of the counted operation has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
