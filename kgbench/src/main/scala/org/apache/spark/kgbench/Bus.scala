package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Listener-bus drain. Task-end events reach listeners asynchronously; draining the
  * bus after a job returns makes every task of that job visible to the benchmark's
  * ledger before its totals are read. `listenerBus` is `private[spark]`, hence the
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
