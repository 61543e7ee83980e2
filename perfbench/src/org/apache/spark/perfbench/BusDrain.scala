package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * tracer's job and task records are complete before a pass is summed.
  * Lives under `org.apache.spark` because `listenerBus` is private[spark]. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
