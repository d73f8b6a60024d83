package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkBus
import org.apache.spark.scheduler._

/** Totals of Spark work since the listener was attached. */
final case class Work(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    gcMs + o.gcMs, shuffleBytes + o.shuffleBytes)
}
object Work { val Zero: Work = Work(0, 0, 0, 0, 0) }

/** Counts every Spark job and task, and keeps each finished job's
  * [start, end] interval (epoch ms) so a span can tell driver-only time
  * from time with a job running. Callbacks run on the listener-bus thread,
  * and their own run time is reported as tracing overhead. */
final class Meter extends SparkListener {
  private var work = Work.Zero
  private val started = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    work = work.copy(jobs = work.jobs + 1)
    started(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    started.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    work = if (m == null) work.copy(tasks = work.tasks + 1)
      else work + Work(0, 1, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten)
  }

  def snapshot: (Work, Int) = synchronized((work, intervals.size))
  def intervalsFrom(i: Int): Seq[(Long, Long)] = synchronized(intervals.drop(i).toSeq)
  def callbackSeconds: Double = synchronized(callbackNs / 1e9)
}

/** One traced stage call: wall time, the Spark work it caused, and the
  * part of its wall with no Spark job running. */
final case class SpanStat(wallS: Double, work: Work, driverS: Double) {
  def +(o: SpanStat): SpanStat = SpanStat(wallS + o.wallS, work + o.work, driverS + o.driverS)
}

/** Spans around calls into the program. Before and after each span the
  * listener bus is drained, so every job the span's calls started is
  * counted in that span and in no other — including jobs submitted from
  * the program's own thread pools, which carry no call site. Spans run
  * one at a time on the calling thread. */
final class Tracer(sc: SparkContext) {
  val meter = new Meter
  sc.addSparkListener(meter)
  private val stats = mutable.LinkedHashMap.empty[String, SpanStat]
  private var drainNs = 0L

  private def drained(): (Work, Int) = {
    val t0 = System.nanoTime()
    SparkBus.drain(sc)
    drainNs += System.nanoTime() - t0
    meter.snapshot
  }

  /** Total Spark work so far, after a drain. */
  def total: Work = drained()._1

  def span[A](name: String)(f: => A): A = {
    val (w0, i0) = drained()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val (w1, _) = drained()
    val busyMs = unionMs(meter.intervalsFrom(i0).map { case (s, e) =>
      (math.max(s, ms0), math.min(e, ms1)) }.filter { case (s, e) => e > s })
    val stat = SpanStat(wall, w1 - w0, math.max(0.0, wall - busyMs / 1e3))
    stats(name) = stats.get(name).fold(stat)(_ + stat)
    a
  }

  def stat(name: String): SpanStat = stats.getOrElse(name, SpanStat(0, Work.Zero, 0))
  def spanNames: Seq[String] = stats.keys.toSeq
  def drainSeconds: Double = drainNs / 1e9

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}
