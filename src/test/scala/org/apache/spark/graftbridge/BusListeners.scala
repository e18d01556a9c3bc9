package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only view of the listener bus: how many listeners it holds. */
object BusListeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
