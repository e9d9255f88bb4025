package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the tracer needs to
  * wait until every event of a traced op has been delivered. */
object ListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
