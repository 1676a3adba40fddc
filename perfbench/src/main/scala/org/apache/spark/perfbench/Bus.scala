package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; counters read right
  * after an action would miss its last task-end events. The drain call
  * is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
