package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; traced runs drain it after
  * each operation so every job, stage and SQL metric of that operation has
  * been delivered before it is attributed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
