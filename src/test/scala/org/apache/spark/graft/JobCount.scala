package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

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

  /** The description each job `body` launches ran under, in start order
    * (`null` for none). */
  def descriptions(sc: SparkContext)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))))
    }
    sc.addSparkListener(l)
    try { body; sc.listenerBus.waitUntilEmpty(30000L) }
    finally sc.removeSparkListener(l)
    seen.asScala.toSeq.map(_.orNull)
  }
}
