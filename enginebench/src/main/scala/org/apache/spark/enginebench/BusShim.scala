package org.apache.spark.enginebench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus, so the
  * benchmark can read its listeners after every event has landed. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
