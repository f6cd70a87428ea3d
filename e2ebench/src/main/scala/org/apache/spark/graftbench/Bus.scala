package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the tracer
  * needs it so every task event is counted before totals are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
