package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to the `org.apache.spark` package; the
  * tracer needs it to read listener counts only after every posted event
  * has been delivered, instead of sleeping for a guessed interval. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
