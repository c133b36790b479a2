package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark's package; specs that
  * count jobs through a listener drain it before reading the count.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
