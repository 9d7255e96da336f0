package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: wait until every posted
  * event has been delivered, so a traced pass is fully attributed before
  * its listeners are detached. Bounded, so a wedged listener cannot hang
  * the benchmark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
