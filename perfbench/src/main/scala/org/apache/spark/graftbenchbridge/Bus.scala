package org.apache.spark.graftbenchbridge

import org.apache.spark.SparkContext

/** The traced run attributes listener events to the op that caused
  * them, so it must wait until the asynchronous listener bus has
  * delivered every event posted so far. `listenerBus` is Spark-private;
  * this package is the narrowest one that can reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
