package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one listener-bus hook the tracer needs and Spark keeps
  * package-private: block until every posted event has reached the
  * listeners, so span totals are complete when they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
