package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the launch and finish times Spark stamps on its events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Total JVM garbage-collection time so far, in seconds. In local mode
    * the executors share the driver's JVM, so this covers both. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** The program's peak memory: the largest total, over the JVM's full
  * garbage collections, of every memory pool in use just after one (heap
  * still referenced, metaspace, code cache) plus the NIO buffer pools in
  * use then. A young collection leaves old garbage in place, so only full
  * collections count. `sample` forces one; the workloads call it at the
  * end of their timed body, outside its timing, so that a run always has a
  * sample of the data it still holds, cached tables included. It collects
  * twice, a second apart, because Spark's `ContextCleaner` frees
  * broadcasts and shuffle state only after a collection has found them
  * unreachable: one collection left the total 15 % apart between runs.
  * For that reason the listener skips forced collections.
  * The heap is fixed in size, so the process's resident set stays near
  * that size whatever the program keeps; this total moves with what it
  * keeps. */
object PeakMemory {
  @volatile private var peak = 0L

  private def buffers: Long =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum

  private def note(bytes: Long): Unit = synchronized { peak = math.max(peak, bytes) }

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC" && info.getGcCause != "System.gc()")
        note(info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum + buffers)
    }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  def sample(): Unit = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    note(ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getUsage.getUsed).sum + buffers)
  }

  def mb: Double = peak / 1048576.0
}

/** Records every job, stage and task the listener bus reports, with Spark's
  * own timestamps, so that any wall-clock window can be summarised after
  * the fact. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Task

  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stageSubmits = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSubmits.add(e.stageInfo.submissionTime.getOrElse(e.stageInfo.completionTime.getOrElse(0L)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (e.taskInfo != null && m != null)
      tasks.add(Task(e.stageId.toLong * 1000 + e.stageAttemptId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled))
  }

  /** Events reach a listener asynchronously: wait until no new one has
    * arrived for `quietMs`, or `maxMs` has passed. */
  def drain(quietMs: Long = 400, maxMs: Long = 15000): Unit = {
    def n = jobStarts.size + stageSubmits.size + tasks.size
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (n != last || System.currentTimeMillis() - stableSince < quietMs)) {
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  /** Spark activity inside [t0, t1] (epoch ms): jobs and stages by start
    * time, tasks by launch time. */
  def window(t0: Double, t1: Double, cores: Int): Map[String, Double] = {
    val in = (t: Long) => t >= t0 && t <= t1
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val wallS = math.max(t1 - t0, 1e-3) / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    // seconds of the window covered by at least one running task
    var covered = 0.0
    var end = t0
    for (t <- ts.sortBy(_.launch)) {
      val a = math.max(t.launch.toDouble, end)
      val b = math.min(t.finish.toDouble, t1)
      if (b > a) { covered += b - a; end = b }
    }
    // per stage: slowest task over the median task
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { s =>
      val d = s.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> jobStarts.asScala.count(in).toDouble,
      "stages" -> stageSubmits.asScala.count(in).toDouble,
      "tasks" -> ts.size.toDouble,
      "executor_run_s" -> runS,
      "busy_frac" -> runS / (wallS * cores),
      "no_task_s" -> (wallS - covered / 1e3),
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "max_task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

object SparkCounters {
  final case class Task(stage: Long, launch: Long, finish: Long, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Spans around the benchmark's calls into the engine: name, start, end,
  * parent. Kept in memory and summarised when the run ends. */
final class Tracer {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, Clock.ms)
    spans += s
    open = s :: open
    try body
    finally {
      s.end = Clock.ms
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the time its children cover, in seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    ((s.end - s.start) - kids.map(k => k.end - k.start).sum) / 1e3
  }

  /** Per span name: summed self seconds, and the listener counters over
    * that name's spans (shuffle_mb counts bytes written). */
  def byName(counters: SparkCounters, cores: Int): Map[String, Map[String, Double]] =
    spans.groupBy(_.name).map { case (name, ss) =>
      val windows = ss.map(s => counters.window(s.start, s.end, cores))
      val wall = ss.map(s => (s.end - s.start) / 1e3).sum
      val runS = windows.map(_("executor_run_s")).sum
      name -> Map(
        "s" -> ss.map(selfSeconds).sum,
        "jobs" -> windows.map(_("jobs")).sum,
        "no_task_s" -> windows.map(_("no_task_s")).sum,
        "busy_frac" -> (if (wall > 0) runS / (wall * cores) else 0.0),
        "shuffle_mb" -> windows.map(w => w("shuffle_write_mb")).sum)
    }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Double,
      var end: Double = Double.NaN)
}
