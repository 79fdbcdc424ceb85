package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Block until every event posted so far has reached its listeners —
  * listener-based specs read what they recorded only after this (the
  * bus delivers asynchronously; `waitUntilEmpty` is Spark-internal).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
