package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is `private[spark]`; this package-local seam
  * lets the benchmark's tracer wait until every queued event has been
  * delivered before it reads its counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
