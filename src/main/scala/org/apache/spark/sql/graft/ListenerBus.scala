package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The SparkContext's listener bus, whose accessor is `private[spark]`. */
object ListenerBus {

  /** Block until every event posted so far has reached its listeners
    * (Spark's own 10 s bound; it throws on timeout). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
