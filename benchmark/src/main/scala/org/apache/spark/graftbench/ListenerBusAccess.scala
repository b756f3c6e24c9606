package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers job and task events asynchronously. A span's
  * counters are read only after every event posted inside the span has
  * reached the listeners; `listenerBus` is package-private to Spark, hence
  * this accessor's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
