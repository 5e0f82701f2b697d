package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's job, stage and task events are complete before the
  * benchmark reads them. The bus drain is `private[spark]`. */
object Drain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
