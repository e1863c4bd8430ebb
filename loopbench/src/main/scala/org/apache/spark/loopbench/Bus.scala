package org.apache.spark.loopbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-internal; this bridge lives in
  * Spark's package so the benchmark can call it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
