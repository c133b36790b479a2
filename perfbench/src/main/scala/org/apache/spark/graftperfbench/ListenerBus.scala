package org.apache.spark.graftperfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark's package; the recorder
  * needs it so a call's counters are complete before they are read.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
