package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Accessor for the `private[spark]` listener-bus drain. [[graft.QueryTrace]]
  * is SparkListener-fed and the live bus is asynchronous, so a snapshot
  * taken right after an action returns can miss events still in the queue;
  * draining first makes the per-query deltas exact. (Same mechanism Spark's own test harness uses; no Spark
  * internals are modified — this object only lives under the
  * `org.apache.spark` namespace to satisfy the access qualifier.)
  */
object ListenerBusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
