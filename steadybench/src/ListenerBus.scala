package org.apache.spark.steadybench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus, so the tracer can wait for all
  * posted events instead of sleeping.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
