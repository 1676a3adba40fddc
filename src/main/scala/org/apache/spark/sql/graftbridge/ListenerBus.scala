package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously: counters read right
  * after an action can miss its last task-end and job-end events.
  * The drain call is `private[spark]`, hence this bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
