package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain for deterministic metric snapshots.
  *
  * Task-metric events are delivered asynchronously; a benchmark that
  * snapshots a listener right after a job returns can miss the tail of
  * its own events. `LiveListenerBus.waitUntilEmpty()` exists for exactly
  * this, but is `private[spark]` — this one-liner lives under
  * `org.apache.spark` purely to re-export it to graft.tools.Profile's
  * run loop, which graft.Bench also measures through. No other Spark
  * internals are touched.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
