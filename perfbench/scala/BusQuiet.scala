package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, so a tick's last job
  * and task events can arrive after the tick returns.  Waiting until the
  * bus has drained keeps them from being dropped or billed to the next
  * tick.  The bus is package-private, hence this package. */
object BusQuiet {
  def await(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
