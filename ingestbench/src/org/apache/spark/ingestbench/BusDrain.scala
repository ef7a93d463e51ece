package org.apache.spark.ingestbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * traced op's job and task events are all in before it is attributed. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
