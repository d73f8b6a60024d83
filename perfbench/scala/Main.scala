package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Graft
import graft.pipeline.{Job, Lakehouse}
import org.apache.spark.sql.SparkSession

/** Benchmark of the medallion job, driven only through the program's public
  * functions by one closed-loop client on `local[nproc]`.
  *
  * A cycle is a day-1 full `Job.run` followed by a day-2 incremental
  * `Job.run` on a fresh lake, fed by the synthetic API clients. Untraced
  * runs (`--trace 0`) time whole cycles back to back until `--seconds` have
  * passed (at least one); the first cycle runs in a fresh JVM, as a nightly
  * job does. The traced run (`--trace 1`) replays one cycle stage by stage
  * under a listener, then runs the same cycle through `Job.run` to check
  * that the stage job counts sum to the real job's. Every cycle's lake is
  * checked against the counts and sums the fixture implies.
  *
  * Prints a detail JSON line, then the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
object Main {

  /** Workload → (videos, countries); both backfill [[BackfillDays]]. */
  val Workloads: Map[String, (Int, Int)] = Map(
    "job_small" -> (2, 3),
    "job_wide" -> (5, 5))
  val BackfillDays = 28

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val (videos, countries) = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val spec =
      if (opts.get("self-check").contains("1")) SynthSpec(seed, 1, 1, 2)
      else SynthSpec(seed, videos, countries, BackfillDays)

    val spark = Graft.session(appName = s"perfbench-$workload")
    val bench = new Bench(spark, Cycle(spec), Paths.get(opts("work")))
    val (metrics, detail) =
      if (opts("trace") == "1") bench.traced()
      else bench.untraced(opts("seconds").toDouble, jvmStartMs)
    spark.stop()

    bench.errors.foreach(e => System.err.println(s"[perfbench] $e"))
    println(s"""{"detail":{"workload":"$workload","seed":$seed,""" +
      s""""videos":${spec.videos},"countries":${spec.countries},"days":${spec.days},""" +
      s""""errors":${bench.errors.size},"verify_s":${bench.verifyS},$detail}}""")
    val body = metrics.map { m =>
      val v = if (m.unit == "count") m.value.toLong.toString else m.value.toString
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
    }.mkString(",")
    println(s"""{"correct":${bench.errors.isEmpty},"attempted":${bench.attempted},""" +
      s""""failed":${bench.failed},"metrics":{$body}}""")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** One benchmark process: the fixture, the lakes it writes under `work`,
  * and the tally of operations, failures and output mismatches. */
final class Bench(spark: SparkSession, cycle: Cycle, work: Path) {
  private val spec = cycle.spec
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var verifyS = 0.0

  private def clients(day: Int) = (new SynthDataClient(spec, day), new SynthAnalyticsClient(spec, day))

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def freshLake(name: String): Lakehouse = {
    val dir = work.resolve(name)
    Main.deleteTree(dir)
    new Lakehouse(spark, dir.toString)
  }

  /** One `Job.run` of the cycle; a run that does not end in `success` with
    * clean checks and maintenance counts as failed. */
  private def jobRun(lake: Lakehouse, day: Int, runId: String): Unit = {
    val (data, analytics) = clients(day)
    val a = cycle.runArgs(day)
    attempted += 1
    val r = Job.run(lake, data, analytics, startDate = a.startDate, endDate = a.endDate,
      lookbackDays = cycle.Lookback, incremental = a.incremental, now = a.now, runId = runId)
    val bad = Seq(
      Option.when(r.status != "success")(s"status ${r.status}"),
      r.error.map(t => s"error $t"),
      Option.when(r.checkFailures.nonEmpty)(s"check failures ${r.checkFailures}"),
      r.maintenance.filter(_.status != "ok").map(m => s"maintenance $m")).flatten
    if (bad.nonEmpty) { failed += 1; errors ++= bad.map(b => s"$runId: $b") }
  }

  private def verify(lake: Lakehouse, what: String): Unit =
    verifyS += timed(errors ++= cycle.verify(lake).map(m => s"$what: $m"))

  /** Whole cycles until `seconds` have passed since the first timed run. */
  def untraced(seconds: Double, jvmStartMs: Long): (Seq[Metric], String) = {
    val full = mutable.ArrayBuffer.empty[Double]
    val incr = mutable.ArrayBuffer.empty[Double]
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val loopStart = System.nanoTime()
    while (full.isEmpty || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val k = full.size
      val lake = freshLake(s"lake-$k")
      full += timed(jobRun(lake, 1, s"bench-${spec.seed}-$k-d1"))
      incr += timed(jobRun(lake, 2, s"bench-${spec.seed}-$k-d2"))
      verify(lake, s"cycle $k")
      Main.deleteTree(Paths.get(lake.root))
    }
    (Seq(
      Metric("job_full_s", Main.median(full.toSeq), "s"),
      Metric("job_incr_s", Main.median(incr.toSeq), "s"),
      Metric("setup_s", setupS, "s")),
      s""""job_full_s":${full.mkString("[", ",", "]")},"job_incr_s":${incr.mkString("[", ",", "]")}""")
  }

  private val Modes = Seq(1 -> "full", 2 -> "incr")

  /** Stage-by-stage replay of one cycle, then the same cycle through
    * `Job.run` for the job-count check, all under one listener. */
  def traced(): (Seq[Metric], String) = {
    val tracer = new Tracer(spark.sparkContext)
    val lake = freshLake("lake-replay")
    val replayWall = Modes.map { case (day, mode) =>
      val (data, analytics) = clients(day)
      attempted += 1
      var status = ""
      val wall = timed {
        status = Replay.run(tracer, mode, lake, data, analytics, cycle.runArgs(day),
          cycle.Lookback, runId = s"replay-${spec.seed}-d$day")
      }
      if (status != "success") { failed += 1; errors += s"replay $mode: status $status" }
      mode -> wall
    }.toMap
    verify(lake, "replay")
    val replayWork = tracer.spanNames.map(tracer.stat(_).work).foldLeft(Work.Zero)(_ + _)

    // opening every table the cycle left: the per-table fixed cost a reader
    // pays before any query runs
    val jobsBeforeOpen = tracer.total.jobs
    val openS = timed(Seq("bronze", "silver", "gold").foreach(layer =>
      lake.tableNames(layer).foreach(lake.table(layer, _))))
    val openJobs = tracer.total.jobs - jobsBeforeOpen
    val space = LakeSpace.of(lake)

    val jobLake = freshLake("lake-job")
    val jobJobs = Modes.map { case (day, mode) =>
      val before = tracer.total.jobs
      jobRun(jobLake, day, s"job-${spec.seed}-d$day")
      mode -> (tracer.total.jobs - before)
    }.toMap
    verify(jobLake, "job")

    val perMode = Modes.map(_._2).flatMap { mode =>
      val stages = Replay.Stages.map(s => s -> tracer.stat(s"$mode.$s"))
      val staged = stages.map(_._2.work.jobs).sum
      if (staged != jobJobs(mode))
        errors += s"$mode: stage spans hold $staged Spark jobs, Job.run issued ${jobJobs(mode)}"
      val coverage = stages.map(_._2.wallS).sum / replayWall(mode)
      if (coverage < 0.95) errors += s"$mode: stage spans cover only $coverage of the replay"
      stages.flatMap { case (stage, s) => Seq(
        Metric(s"$mode.$stage.wall_s", s.wallS, "s"),
        Metric(s"$mode.$stage.spark_jobs", s.work.jobs, "count"),
        Metric(s"$mode.$stage.task_cpu_s", s.work.cpuNs / 1e9, "s"),
        Metric(s"$mode.$stage.driver_s", s.driverS, "s"))
      } ++ Seq(
        Metric(s"$mode.job.spark_jobs", jobJobs(mode), "count"),
        Metric(s"$mode.span_coverage", coverage, "ratio"))
    }
    (perMode ++ Seq(
      Metric("lakehouse.open_s", openS, "s"),
      Metric("lakehouse.open_jobs", openJobs, "count"),
      Metric("lakehouse.live_files", space.liveFiles, "count"),
      Metric("lakehouse.commits", space.commits, "count"),
      Metric("lakehouse.log_bytes_per_commit", space.logBytes.toDouble / space.commits, "bytes"),
      Metric("lakehouse.space_amp", space.totalBytes.toDouble / space.liveBytes, "ratio"),
      Metric("spark.jobs", replayWork.jobs, "count"),
      Metric("spark.tasks", replayWork.tasks, "count"),
      Metric("spark.task_cpu_s", replayWork.cpuNs / 1e9, "s"),
      Metric("spark.gc_s", replayWork.gcMs / 1e3, "s"),
      Metric("spark.shuffle_bytes", replayWork.shuffleBytes, "bytes"),
      Metric("trace.listener_s", tracer.meter.callbackSeconds, "s"),
      Metric("trace.drain_s", tracer.drainSeconds, "s")),
      s""""replay_wall_s":{"full":${replayWall("full")},"incr":${replayWall("incr")}}""")
  }
}

/** Space a lake occupies on disk: its live data files, every byte under
  * its root (superseded versions not yet vacuumed included), and the bytes
  * of everything that is not a data file (logs, manifests, cursors). */
final case class LakeSpace(liveFiles: Long, liveBytes: Long, totalBytes: Long,
    logBytes: Long, commits: Long)

object LakeSpace {
  private val Layers = Seq("bronze", "silver", "gold")

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") || n.endsWith(".parquet.crc")
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }

  def of(lake: Lakehouse): LakeSpace = {
    val all = files(Paths.get(lake.root))
    val tables = Layers.flatMap(layer => lake.tableNames(layer).map(layer -> _))
    val live = tables.flatMap { case (layer, name) =>
      val bronzeLive = if (layer == "bronze") lake.committedBronzeRelPaths(name) else None
      bronzeLive match {
        case Some(rel) => rel.toSeq.map(lake.tableDir(layer, name).resolve)
        case None => files(lake.currentDataDir(layer, name))
            .filter(_.getFileName.toString.endsWith(".parquet"))
      }
    }
    val commits = tables.map { case (layer, name) =>
      if (layer == "bronze") lake.committedBronzeVersion(name).toLong
      else lake.tableVersion(layer, name).toLong
    }.sum
    LakeSpace(live.size, live.map(Files.size).sum, all.map(Files.size).sum,
      all.filterNot(isData).map(Files.size).sum, commits)
  }
}
