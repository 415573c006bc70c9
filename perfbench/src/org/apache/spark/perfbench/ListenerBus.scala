package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call of the benchmark: the listener bus is
  * asynchronous, so the traced run waits for it to drain before it
  * reads what its listeners recorded.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
