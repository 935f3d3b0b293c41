package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; callers that read
  * what a listener recorded wait for the bus to drain first.  The bus is
  * package-private, hence this package. */
object BusDrain {
  def await(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
