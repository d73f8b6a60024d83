package perfbench

import java.sql.{Date, Timestamp}
import java.util.UUID

import graft.pipeline._
import org.apache.spark.sql.functions.{col, max}

/** `Job.run`'s stage order (snapshot and incremental modes; no change-feed
  * refresh, no gates) replayed through the public stage functions, with
  * one tracer span around each stage so every Spark job lands in exactly
  * one stage. The run-log start, the ingest and the run-log finalize all go
  * through `Bronze`, so they count as the `bronze` stage; the mode's
  * previous-snapshot lookup reads the bronze run log and counts there too.
  * Keep in step with `Job.run`: the traced run checks that the stage job
  * counts sum to the job count of a real `Job.run` in the same mode. */
object Replay {

  val Stages: Seq[String] = Seq("bronze", "silver", "gold", "checks", "maintenance")

  def run(tracer: Tracer, mode: String, lake: Lakehouse,
      dataClient: DataApiIngest.DataApiClient,
      analyticsClient: AnalyticsIngest.AnalyticsApiClient,
      args: RunArgs, lookbackDays: Int, runId: String): String = {
    val RunArgs(startDate, endDate, incremental, now) = args
    val today = now.toLocalDateTime.toLocalDate
    val snapshot = Date.valueOf(today)
    val ctx = Bronze.RunContext(runId, UUID.randomUUID().toString, snapshot, now)
    def span[A](stage: String)(f: => A): A = tracer.span(s"$mode.$stage")(f)

    val prevSnapshot: Option[Date] = span("bronze") {
      val prev =
        if (!incremental || !lake.exists("bronze", "run_context_log")
            || !Silver.incrementalModels.forall(lake.exists("silver", _))) None
        else lake.table("bronze", "run_context_log")
          .filter(col("run_id") =!= runId && col("run_status") === "success")
          .agg(max(col("snapshot_date"))).collect()
          .headOption.flatMap(r => Option(r.getDate(0)))
      Job.liveFeedCursors(lake)
      Bronze.logRunStart(lake, ctx,
        s"""{"mode":"job","start_date":"$startDate","end_date":"$endDate","lookback_days":$lookbackDays}""")
      val (start, end, windowMode) =
        AnalyticsIngest.resolveWindow(startDate, endDate, lookbackDays, today)
      Bronze.ingest(lake, ctx, new DataApiIngest.DataApiPayloadSource(dataClient))
      val videoIds = DataApiIngest.latestVideoIds(lake)
      Bronze.ingest(lake, ctx, new AnalyticsIngest.AnalyticsPayloadSource(
        analyticsClient, start, end, windowMode, lookbackDays, videoIds))
      prev
    }

    span("silver") {
      prevSnapshot match {
        case Some(since) =>
          Silver.latestWinsSpecs.keySet.foreach(n => Silver.refreshIncremental(lake, n, since))
          Seq("silver_video_metadata_scd2", "silver_videos", "fact_channel_daily_metrics",
              "dim_traffic_source", "dim_device", "dim_country", "dim_date")
            .foreach(n => Silver.refreshIncremental(lake, n, since))
          Silver.refreshParallel(lake,
            Some(Silver.models.map(_.name).toSet -- Silver.incrementalModels))
        case None =>
          Silver.refreshParallel(lake, Some(Silver.models.map(_.name).toSet))
      }
    }
    span("gold")(Gold.refresh(lake))
    val failures = span("checks")(Checks.run(lake, snapshot))
      .filter { case (_, sev, n) => sev == "error" && n > 0 }
    val status = if (failures.isEmpty) "success" else "failed"
    span("bronze")(Bronze.finalizeRun(lake, runId, status, new Timestamp(System.currentTimeMillis())))
    span("maintenance")(Maintenance.run(lake))
    status
  }
}
