package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the traced run drains it after
  * each operation (outside the timed region) so every job, stage and
  * planner event of that operation is recorded before the next starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
