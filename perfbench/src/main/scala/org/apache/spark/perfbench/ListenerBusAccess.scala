package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's bus thread after the job that
  * caused them returns. The bus's drain call is package-private to Spark,
  * hence this object's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
