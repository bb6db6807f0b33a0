package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Counts the Spark jobs a block launches. The block runs in its own job
  * group, and the count is read after the listener bus drains: the status
  * tracker is fed asynchronously, so a count read right after the block
  * could miss its last jobs. Declared under `org.apache.spark` because
  * the bus drain is `private[spark]`. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val group = s"graft-job-count-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty(30000L)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
