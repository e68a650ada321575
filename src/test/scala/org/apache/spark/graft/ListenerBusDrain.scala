package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark: specs that count jobs or
  * read SQL metrics drain it so every event of the statement they ran has
  * been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
