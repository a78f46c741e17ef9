package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A closed span: `name` around one public call the benchmark made,
  * with wall-clock bounds in epoch milliseconds (for matching Spark job
  * events, which carry epoch-millisecond times) and a nanosecond
  * duration (for self time). */
final case class Span(id: Int, name: String, parent: Int, iteration: Int,
                      startMs: Long, endMs: Long, nanos: Long)

/** Spans around the benchmark's calls into the engine, kept in memory
  * and written out when the run ends. Spans nest on the calling thread;
  * when disabled, [[span]] is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var iteration: Int = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val nanos = System.nanoTime() - t0
        stack.pop()
        closed += Span(id, name, parent, iteration, startMs,
          System.currentTimeMillis(), nanos)
      }
    }

  def spans: Seq[Span] = closed.toSeq

  /** Self time per span id: its duration minus the part its direct
    * children cover (children run nested on the same thread, so they do
    * not overlap each other). */
  def selfNanos: Map[Int, Long] = {
    val childNanos = closed.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    closed.map(s => s.id -> (s.nanos - childNanos.getOrElse(s.id, 0L))).toMap
  }
}

/** One Spark job as the listener saw it, with the counts of its tasks. */
final class JobRecord(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var busyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var retries = 0
}

/** Captures job, stage and task events. Spark delivers listener events
  * asynchronously, so nothing is attributed while the run is live: the
  * records keep the events' own timestamps and are matched to spans
  * after the session has stopped (which drains the event queue). */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (j <- stageJob.get(e.stageInfo.stageId); r <- jobs.get(j)) r.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
      r.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed) r.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        r.busyMs += m.executorRunTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  def records: Seq[JobRecord] = synchronized(jobs.values.toSeq)
}

object Trace {
  /** Total JVM garbage-collection time so far, in milliseconds. In local
    * mode the executors run inside this JVM, so this covers task GC too. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** The innermost span open at `t` (epoch ms) in `spans`, if any. */
  def openAt(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => (s.endMs - s.startMs, -s.id)).headOption

  /** Milliseconds of [from, to] during which no job was running. */
  def noJobMillis(jobs: Seq[JobRecord], from: Long, to: Long): Long = {
    val iv = jobs.map(j => (j.startMs.max(from), (if (j.endMs < 0) to else j.endMs).min(to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    (to - from) - covered
  }
}
