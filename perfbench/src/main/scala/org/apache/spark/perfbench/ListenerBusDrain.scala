package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The benchmark's listeners fold job and task metrics asynchronously,
  * so the report waits here before reading them. (The bus is
  * `private[spark]`, hence this package.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
