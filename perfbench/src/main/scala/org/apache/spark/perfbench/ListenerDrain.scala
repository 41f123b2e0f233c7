package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered, so counters read after an action include that action.
  * Lives under `org.apache.spark` because the bus is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
