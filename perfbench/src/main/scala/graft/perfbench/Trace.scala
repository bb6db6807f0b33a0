package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval: a pass (root, `parent` = -1) or a call into a
  * layer function. Times are epoch nanoseconds so they line up with the
  * millisecond timestamps Spark puts on listener events. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object SpanMath {

  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover (children clipped to the parent's interval,
    * overlapping children counted once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Per-span counters filled from Spark listener events. */
final class SpanCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var schedDelayMs = 0L
  var criticalPathMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var outputBytes = 0L
  var taskFailures = 0L; var stageRetries = 0L
  var planningMs = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Outside-in tracer: spans around each call into a program layer, a job
  * group per span so the listener can attribute jobs, stages and tasks,
  * a [[SparkListener]] and a [[QueryExecutionListener]] registered by the
  * benchmark, and `Lifecycle` substrate counters read at span boundaries.
  * Spans stay in memory; [[write]] dumps them when the run ends.
  *
  * With `enabled = false` every method is a pass-through, so untraced
  * runs execute exactly the calls the traced run wraps. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = epochBaseNs + System.nanoTime()

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil // (id, name, startNs)
  private var nextId = 0
  private var pass = -1
  private var active = false

  val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private def ctr(id: Int): SpanCounters = counters.computeIfAbsent(id, _ => new SpanCounters)

  /** Cumulative `Lifecycle` substrate counters (the snapshot call reads
    * and zeroes, so nested spans diff a running total instead). */
  private val substrate = Array(0L, 0L, 0L, 0L) // drainMs, timeouts, writeMs, writes
  private def pollSubstrate(): Array[Long] = {
    val (d, t, w, n) = graft.operators.Lifecycle.substrateStatsSnapshot()
    substrate(0) += d; substrate(1) += t; substrate(2) += w; substrate(3) += n
    substrate.clone()
  }
  val substrateBySpan = mutable.Map.empty[Int, Array[Long]]
  val cacheMbAtEnd = mutable.Map.empty[Int, Double]
  val gcMsBySpan = mutable.Map.empty[Int, Long]

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def storageUsedMb: Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  // job -> span, stage -> span, and per-stage max task duration
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageMaxTaskMs = new ConcurrentHashMap[(Int, Int), Long]()

  // RDD blocks seen in memory during the pass, blocks that left memory
  // since, and the RDDs unpersisted: a block that left memory while its
  // RDD stayed persisted was evicted (dropped, or moved to disk)
  private val inMemory = ConcurrentHashMap.newKeySet[RDDBlockId]()
  private val leftMemory = new java.util.concurrent.ConcurrentLinkedQueue[RDDBlockId]()
  private val unpersisted = ConcurrentHashMap.newKeySet[Int]()
  val evictedByPass = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("perfbench-")).foreach { gid =>
        val id = gid.stripPrefix("perfbench-").toInt
        jobSpan.put(e.jobId, id)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
        ctr(id).synchronized { ctr(id).jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val c = ctr(id)
        c.synchronized { c.jobIntervalsMs += ((jobStartMs.get(e.jobId), e.time)) }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.attemptNumber() > 0)
        Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
          val c = ctr(id); c.synchronized { c.stageRetries += 1 }
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { id =>
        val c = ctr(id)
        val crit = Option(stageMaxTaskMs.remove((si.stageId, si.attemptNumber()))).getOrElse(0L)
        c.synchronized { c.stages += 1; c.criticalPathMs += crit }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = ctr(id)
        val info = e.taskInfo
        val m = e.taskMetrics
        stageMaxTaskMs.merge((e.stageId, e.stageAttemptId), info.duration, (a, b) => math.max(a, b))
        c.synchronized {
          c.tasks += 1
          e.reason match {
            case org.apache.spark.Success => ()
            case _ => c.taskFailures += 1
          }
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId =>
          if (e.blockUpdatedInfo.memSize > 0) inMemory.add(b)
          else if (inMemory.remove(b)) leftMemory.add(b)
        case _ => ()
      }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.add(e.rddId)
  }

  // planning phases carry their own wall-clock start, so they are
  // attributed to the innermost span open at that instant
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val startMs = phases.values.map(_.startTimeMs).min
        planning.add((startMs, phases.values.map(_.durationMs).sum))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start collecting listener events (untraced passes of a traced run
    * call [[detach]] so they pay no listener cost). Events queued before
    * the call, such as the removals of the pass isolation, are delivered
    * first, so the pass's counters see only its own events. */
  def attach(): Unit = if (enabled && !active) {
    drainBus()
    inMemory.clear(); leftMemory.clear(); unpersisted.clear()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  /** Stop collecting, once every event of the pass has been delivered,
    * and count the pass's evictions. Blocks of an RDD the pass unpersisted
    * do not count, even one evicted before the unpersist. */
  def detach(): Unit = if (active) {
    drainBus()
    evictedByPass(pass) = leftMemory.asScala.count(b => !unpersisted.contains(b.rddId)).toLong
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    active = false
  }

  /** Wait until the async listener bus has delivered every event. */
  def drainBus(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def beginPass(p: Int): Unit = pass = p

  /** Run `body` inside a span named `name`; a pass-through when tracing is
    * off or detached. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val sub0 = pollSubstrate()
      val gc0 = gcMs
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      val t0 = nowNs
      stack = (id, name, t0) :: stack
      try body
      finally {
        val t1 = nowNs
        stack = stack.tail
        val sub1 = pollSubstrate()
        substrateBySpan(id) = sub1.zip(sub0).map { case (a, b) => a - b }
        gcMsBySpan(id) = gcMs - gc0
        cacheMbAtEnd(id) = storageUsedMb
        if (parent >= 0) sc.setJobGroup(s"perfbench-$parent", stack.head._2, interruptOnCancel = false)
        else sc.clearJobGroup()
        done += Span(id, name, parent, pass, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Attribute queued planning records to the innermost span that was
    * open at each record's start. */
  def attributePlanning(): Unit = {
    val all = spans
    var rec = planning.poll()
    while (rec != null) {
      val tNs = rec._1 * 1000000L
      val hit = all.filter(s => s.startNs <= tNs + 1000000L && tNs <= s.endNs)
      if (hit.nonEmpty) {
        val s = hit.maxBy(_.startNs)
        ctr(s.id).planningMs += rec._2
      }
      rec = planning.poll()
    }
  }

  /** Spans as JSON lines (with self time), for offline inspection. */
  def write(file: java.io.File): Unit = {
    val self = SpanMath.selfNs(spans)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}""")
    } finally w.close()
  }
}
