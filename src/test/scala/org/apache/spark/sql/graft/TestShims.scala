package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Tests' access to `private[spark]` scheduler surface. */
object TestShims {

  /** Block until every listener has seen every event posted so far, so
    * a test reads job events and the status tracker after the jobs it
    * ran, not while their events are still queued. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
