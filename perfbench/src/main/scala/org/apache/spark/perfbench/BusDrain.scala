package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every event already posted to the
  * listener bus has been delivered, so a listener can be detached at a
  * pass boundary without losing the pass's last task events. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
