package perfbench

import java.time.LocalDate

import graft.pipeline.Lakehouse
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** The arguments one `Job.run` of a cycle takes beyond the lake and clients. */
final case class RunArgs(startDate: String, endDate: String, incremental: Boolean,
    now: java.sql.Timestamp)

/** The two job runs of a cycle and the lake they must leave behind,
  * derived from the fixture alone.
  *
  * Day 1 (full) backfills `spec.days` days ending the day before `base`;
  * day 2 (incremental) looks back `Lookback` days ending on `base`. Each
  * fact has one row per (video, date[, dimension value]) over the union of
  * the windows, and latest-wins keeps the value of the newest fetch that
  * reported the date. Gold marts map 1:1 onto their facts. */
final case class Cycle(spec: SynthSpec) {
  val Lookback = 7
  /** Day-1 snapshot date; the seed moves it so seeds differ in dates too. */
  val base: LocalDate = LocalDate.of(2025, 6, 2).plusDays(Math.floorMod(spec.seed, 64L))
  val day1Dates: Seq[LocalDate] = (spec.days to 1 by -1).map(i => base.minusDays(i.toLong))
  val day2Dates: Seq[LocalDate] = (Lookback - 1 to 0 by -1).map(i => base.minusDays(i.toLong))

  /** How the cycle calls `Job.run` on `day` (1 or 2): day 1 backfills an
    * explicit window, day 2 is a rolling-lookback incremental run. */
  def runArgs(day: Int): RunArgs = {
    val now = java.sql.Timestamp.valueOf(base.plusDays(day - 1L).atTime(9, 0))
    if (day == 1) RunArgs(day1Dates.head.toString, day1Dates.last.toString, incremental = false, now)
    else RunArgs("auto", "auto", incremental = true, now)
  }

  /** (layer, table, expected rows, expected sum of `views` if checked)
    * after both runs. The day-1-only dates keep day 1's values, so the
    * final state checks the full run's output as well as the merge. */
  def expected: Seq[(String, String, Long, Option[Long])] = {
    val fetchOf: Map[LocalDate, Int] =
      day1Dates.map(_ -> 1).toMap ++ day2Dates.map(_ -> 2)
    val dates = fetchOf.keys.toSeq.sortBy(_.toEpochDay)
    val v = spec.videos.toLong
    val c = spec.countries.toLong
    val d = dates.size.toLong
    def views(parts: LocalDate => Seq[Seq[Any]]): Long =
      dates.map(dt => parts(dt).map(p => spec.metric(fetchOf(dt), p: _*)).sum).sum
    val channelViews = views(dt => Seq(Seq(dt.toString, "v")))
    val videoViews = views(dt => spec.videoIds.map(id => Seq(id, dt.toString, "v")))
    def dimViews(values: Seq[String]) =
      views(dt => for (id <- spec.videoIds; x <- values) yield Seq(dt.toString, id, x, "v"))
    val country = dimViews(spec.countryCodes)
    val device = dimViews(spec.deviceTypes)
    val traffic = dimViews(spec.trafficSources)
    Seq(
      ("silver", "silver_channels", 1L, None),
      ("silver", "silver_video_stats_snapshot", v * 2, None),
      ("silver", "silver_video_metadata_scd2", v, None),
      ("silver", "silver_videos", v, None),
      ("silver", "dim_date", d, None),
      ("silver", "dim_country", c, None),
      ("silver", "dim_device", c, None),
      ("silver", "dim_traffic_source", c, None),
      ("silver", "fact_channel_daily_metrics", d, None),
      ("silver", "fact_video_daily_metrics", v * d, None),
      ("silver", "fact_video_country_metrics", v * d * c, None),
      ("silver", "fact_video_device_metrics", v * d * c, None),
      ("silver", "fact_video_traffic_source_metrics", v * d * c, None),
      ("gold", "gold_channel_daily_summary", d, Some(channelViews)),
      ("gold", "gold_video_daily_summary", v * d, Some(videoViews)),
      ("gold", "gold_video_country_daily_summary", v * d * c, Some(country)),
      ("gold", "gold_video_device_daily_summary", v * d * c, Some(device)),
      ("gold", "gold_video_traffic_source_daily_summary", v * d * c, Some(traffic)))
  }

  /** Mismatches between the lake and [[expected]]; empty when correct.
    * One union query reads every table, so the check adds one batch of
    * concurrent Spark stages rather than a job chain per table. */
  def verify(lake: Lakehouse): Seq[String] = {
    val (present, missing) = expected.partition { case (l, t, _, _) => lake.exists(l, t) }
    val got: Map[String, (Long, Long)] =
      if (present.isEmpty) Map.empty
      else present.map { case (layer, table, _, viewSum) =>
        lake.table(layer, table).agg(
          count(lit(1)).as("n"),
          viewSum.fold(lit(0L))(_ => coalesce(sum(col("views")), lit(0L))).as("views"))
          .select(lit(s"$layer.$table").as("t"), col("n"), col("views"))
      }.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    missing.map { case (l, t, _, _) => s"$l.$t missing" } ++
      present.flatMap { case (layer, table, rows, viewSum) =>
        val (gotRows, gotViews) = got(s"$layer.$table")
        (if (gotRows != rows) Seq(s"$layer.$table rows $gotRows != $rows") else Nil) ++
          viewSum.filter(_ != gotViews).map(e => s"$layer.$table views $gotViews != $e")
      }
  }
}
