package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Order statistics over one metric's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile (a multiple of 10, at most 99) that has at
    * least ten samples beyond it, with its value; None under 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val ps = Seq(99, 90, 80, 70, 60).filter(p => xs.size * (100 - p) / 100.0 >= 10)
    ps.headOption.map(p => (p, quantile(xs, p / 100.0)))
  }
}

/** One metric as printed: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Int)

/** Spans kept in memory and written to one file when the run ends. A span
  * names the layer call the benchmark made, its parent span and the
  * iteration it belongs to; times are nanoseconds since the tracer began. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, iter: Int)

object Tracer {
  def epochNs(i: java.time.Instant): Long = i.getEpochSecond * 1000000000L + i.getNano
}

final class Tracer(var enabled: Boolean) {
  private val origin = System.nanoTime()
  private val originWallNs = Tracer.epochNs(java.time.Instant.now())
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var iter: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, System.nanoTime() - origin, -1, parent, iter)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - origin)
      }
    }

  /** A span reconstructed after the fact from wall-clock times (epoch ns),
    * such as a crawl round bounded by two manifest commits. */
  def derived(name: String, startWallNs: Long, endWallNs: Long): Unit =
    if (enabled)
      spans += Span(spans.size, name, startWallNs - originWallNs, endWallNs - originWallNs,
        stack.headOption.getOrElse(-1), iter)

  def write(path: java.nio.file.Path, extra: Seq[String]): Unit = {
    val lines = spans.map { s =>
      s"""{"span":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"iter":${s.iter}}"""
    } ++ extra
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Task-level record the listener keeps; times are epoch milliseconds. */
final case class TaskRec(stage: Int, launch: Long, finish: Long, failed: Boolean,
                         runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, input: Long, output: Long)

/** Records every job, stage and task of the session it is registered on;
  * aggregates are taken afterwards over a wall-clock window, so events the
  * listener bus delivers late are still counted in the right window. */
final class SparkStats extends SparkListener {
  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    tasks += (if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, i.failed,
      0, 0, 0, 0, 0, 0, 0, 0)
    else TaskRec(e.stageId, i.launchTime, i.finishTime, i.failed,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  def taskCount: Int = synchronized(tasks.size)

  /** Wait until the listener bus has delivered everything so far: the
    * task count stays unchanged for a few polls. */
  def settle(): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val n = taskCount
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  def tasksIn(fromMs: Long, toMs: Long): Seq[TaskRec] =
    synchronized(tasks.filter(t => t.launch >= fromMs && t.finish <= toMs).toSeq)

  /** `spark.*` aggregates over the given windows (epoch ms), whose wall
    * time sums to the denominator of the busy share. */
  def aggregate(windows: Seq[(Long, Long)], cores: Int): Seq[(String, Metric)] = {
    val ts = windows.flatMap { case (a, b) => tasksIn(a, b) }
    val nJobs = synchronized(windows.map { case (a, b) => jobs.count(t => t >= a && t <= b) }.sum)
    val nStages = synchronized(windows.map { case (a, b) => stages.count(t => t >= a && t <= b) }.sum)
    val wallS = windows.map { case (a, b) => (b - a) / 1e3 }.sum
    val busyS = windows.map { case (a, b) => covered(tasksIn(a, b), a, b) / 1e3 }.sum
    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }.foldLeft(1.0)(math.max)
    Seq(
      "spark.jobs" -> Metric(nJobs, "count", windows.size),
      "spark.stages" -> Metric(nStages, "count", windows.size),
      "spark.tasks" -> Metric(ts.size, "count", windows.size),
      "spark.tasks_failed" -> Metric(ts.count(_.failed), "count", windows.size),
      "spark.task_run_s" -> Metric(runS, "s", ts.size),
      "spark.task_cpu_s" -> Metric(ts.map(_.cpuNs).sum / 1e9, "s", ts.size),
      "spark.gc_s" -> Metric(ts.map(_.gcMs).sum / 1e3, "s", ts.size),
      "spark.shuffle_read_mb" -> Metric(ts.map(_.shuffleRead).sum / mb, "MB", ts.size),
      "spark.shuffle_write_mb" -> Metric(ts.map(_.shuffleWrite).sum / mb, "MB", ts.size),
      "spark.spill_mb" -> Metric(ts.map(_.spill).sum / mb, "MB", ts.size),
      "spark.input_mb" -> Metric(ts.map(_.input).sum / mb, "MB", ts.size),
      "spark.output_mb" -> Metric(ts.map(_.output).sum / mb, "MB", ts.size),
      "spark.idle_s" -> Metric(wallS - busyS, "s", windows.size),
      "spark.core_busy_share" -> Metric(runS / (wallS * cores), "share", windows.size),
      "spark.task_skew" -> Metric(skew, "ratio", ts.size))
  }

  /** Milliseconds of [a, b] during which at least one task ran. */
  private def covered(ts: Seq[TaskRec], a: Long, b: Long): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ts.map(t => (math.max(t.launch, a), math.min(t.finish, b))).sortBy(_._1).foreach { case (s, e) =>
      if (s > curB) { if (curB > curA) total += curB - curA; curA = s; curB = e }
      else if (e > curB) curB = e
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Heap occupancy after every GC, from the collectors' notifications. */
final class HeapMonitor {
  private val samples = ArrayBuffer.empty[(Long, Long)] // (epoch ms, used bytes after GC)
  private val startMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getUptime

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val it = info.getGcInfo.getMemoryUsageAfterGc.values().iterator()
        var used = 0L
        while (it.hasNext) used += it.next().getUsed
        HeapMonitor.this.synchronized { samples += ((startMs + info.getGcInfo.getEndTime, used)) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Peak after-GC occupancy (bytes) over GCs that ended inside a window. */
  def peakIn(windows: Seq[(Long, Long)]): Option[Long] = synchronized {
    val in = samples.filter { case (t, _) => windows.exists { case (a, b) => t >= a && t <= b } }
    if (in.isEmpty) None else Some(in.map(_._2).max)
  }

  def usedNow(): Long = {
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed
  }
}

/** Host health stamps: CPU steal from /proc/stat and the engine's
  * LLC/DRAM pointer-chase probe. Recorded only; nothing is dropped or
  * re-run because of them. */
object Host {
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  def memLat(): (Double, Double) = graft.Bench.memLatNs()
}
