package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spec-side access to the `private[spark]` listener bus: waits until every
  * event posted so far has reached the listeners, so a job-counting
  * listener has seen all jobs of the work that just returned. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
