package org.apache.spark.sql.graftx

import org.apache.spark.SparkContext

/** Test access to Spark's private listener bus, so a test can wait for
  * every posted event instead of sleeping.
  */
object TestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
