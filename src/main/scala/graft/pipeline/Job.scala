package graft.pipeline

import java.sql.{Date, Timestamp}
import java.util.UUID

/** The orchestrated run — Scala counterpart of the reference's job task DAG
  * (`databricks.yml:34-155`, SURVEY §3.1):
  *
  * ```
  * init_run_context → ingest_data_api → ingest_analytics_api
  *   → silver refresh → gold → checks → finalize_run_log (run_if: ALL_DONE)
  * ```
  *
  * Semantics preserved from the reference:
  *   - one run context (run_id/request_id/snapshot_date/ingest_ts) shared by
  *     every stage (`init_run_context.py:75-101` + task values);
  *   - the analytics stage reads video ids back from the just-landed
  *     `videos_raw` (the one cluster→driver boundary,
  *     `ingest_analytics_api_to_bronze.py:469-492`);
  *   - finalize ALWAYS runs — success or failure — and records the outcome
  *     in `run_context_log` (`run_if: ALL_DONE`, `databricks.yml:150-155`;
  *     status update `finalize_run_log.py:191-202`).
  */
object Job {

  final case class RunReport(
      runId: String,
      status: String,
      checkFailures: Seq[(String, String, Long)],
      error: Option[Throwable],
      maintenance: Option[Maintenance.Report] = None,
      warnings: Seq[String] = Nil)

  /** Execute one full run. `now` is injectable for deterministic tests.
    *
    * `incremental = true` refreshes the latest-wins silver models, the
    * SCD2 metadata model, silver_videos, the channel fact and the four
    * dims by MERGING only bronze partitions at or after the previous
    * successful run's snapshot (partition-pruned scan — refresh cost
    * scales with new data, the reference's `CREATE OR REFRESH` promise);
    * the static ISO dim recomputes. The merges run LEVEL-PARALLEL through
    * the same scheduler as the full refresh ([[Silver.refreshParallel]]
    * with `since`): each level's models run concurrently, the levels
    * follow [[Silver.Model.deps]] (SCD2 → silver_videos, silver_channels →
    * channel fact, facts → dim_date, ISO reference → dim_country), and a
    * level settles fully before the next starts. Falls back to a full
    * refresh on the first run.
    *
    * `cdfRefresh = true` upgrades EVERY silver model from snapshot-driven
    * refresh to CHANGE-FEED consumption (the Lakeflow-"Enzyme" analog):
    * the six latest-wins models ([[Silver.refreshFromChangeFeed]]), the
    * SCD2 pair + silver_videos (one composite cursor,
    * [[Silver.refreshVideoModelsFromChangeFeed]]), the channel fact
    * ([[Silver.refreshChannelFactFromChangeFeed]]), the three
    * observed-value dims ([[Silver.refreshDimFromChangeFeed]]), and the
    * calendar dim ([[Silver.dimDateFeedTick]] + assemble). Each consumer
    * keeps a durable cursor under `<root>/_silver_cursors/…`, a run's
    * refresh cost tracks the rows changed since the last drain (not whole
    * snapshot partitions), and bronze DELETEs fold as retractions instead
    * of being invisible until a full refresh. First drains bootstrap from
    * the source SNAPSHOT (works on a mature lake whose early manifests
    * are pruned); safe to mix with `incremental` runs (latest-wins makes
    * a re-folded overlap idempotent). On an unchanged lake the whole
    * silver stage costs cursor reads only — no model rewrites. NOTE: the
    * cursors HOLD log + vacuum retention on their bronze sources from the
    * moment they register — a deployment that abandons cdfRefresh must
    * call [[decommissionFeedCursors]] or the held versions accumulate
    * forever. */
  def run(
      lake: Lakehouse,
      dataClient: DataApiIngest.DataApiClient,
      analyticsClient: AnalyticsIngest.AnalyticsApiClient,
      startDate: String = "auto",
      endDate: String = "auto",
      lookbackDays: Int = 7,
      incremental: Boolean = false,
      cdfRefresh: Boolean = false,
      optimize: Boolean = true,
      gates: Seq[Maintenance.GateDirs] = Seq.empty,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      runId: String = UUID.randomUUID().toString): RunReport = {

    val today = now.toLocalDateTime.toLocalDate
    val snapshot = Date.valueOf(today)
    val ctx = Bronze.RunContext(runId, UUID.randomUUID().toString, snapshot, now)

    // Previous SUCCESSFUL run's snapshot (for incremental pruning), read
    // BEFORE this run logs. Failed runs don't advance the merge frontier:
    // they may have landed bronze without ever refreshing silver, and
    // skipping past them would lose that data forever. The merge itself is
    // INCLUSIVE of this snapshot (>=), so a same-day re-run or data landed
    // alongside the last success is re-merged — latest-wins makes the
    // overlap idempotent. Incremental additionally requires every
    // latest-wins silver table to exist (else fall back to full).
    val prevSnapshot: Option[Date] =
      if (!incremental || !lake.exists("bronze", "run_context_log")
          || !Silver.incrementalModels.forall(lake.exists("silver", _))) None
      else {
        import org.apache.spark.sql.functions.{col, max}
        lake.table("bronze", "run_context_log")
          .filter(col("run_id") =!= runId && col("run_status") === "success")
          .agg(max(col("snapshot_date"))).collect()
          .headOption.flatMap(r => Option(r.getDate(0)))
      }

    // ABANDONED-CONSUMER guard: a run that leaves cdfRefresh OFF while
    // live feed cursors exist lets every one of them pin log + vacuum
    // retention on its bronze source FOREVER (nothing will ever drain
    // them) — the documented failure mode decommissionFeedCursors guards.
    // Warn loudly and surface it in the report; the operator either
    // re-enables cdfRefresh or decommissions.
    // best-effort: a filesystem hiccup scanning cursor trees must not kill
    // the run before it even logs (this is advisory, not a stage)
    val warnings: Seq[String] =
      if (cdfRefresh) Nil
      else {
        val live = scala.util.Try(liveFeedCursors(lake)).getOrElse(Seq.empty)
        if (live.isEmpty) Nil
        else {
          val w = s"cdfRefresh = false but ${live.size} live feed cursor(s) " +
            s"hold log+vacuum retention on their bronze sources " +
            s"(e.g. ${live.take(3).mkString(", ")}) — re-enable cdfRefresh to " +
            "keep draining them, or call Job.decommissionFeedCursors(lake) " +
            "to release the held versions"
          System.err.println(s"[job] WARNING: $w")
          Seq(w)
        }
      }

    // init_run_context: log the run before any ingest so a crashed run still
    // leaves a row for finalize to mark failed
    Bronze.logRunStart(lake, ctx,
      s"""{"mode":"job","start_date":"$startDate","end_date":"$endDate","lookback_days":$lookbackDays}""")

    var status = "success"
    var failure: Option[Throwable] = None
    var checkFailures: Seq[(String, String, Long)] = Seq.empty
    var lease: Option[java.nio.file.Path] = None
    try {
      val (start, end, mode) =
        AnalyticsIngest.resolveWindow(startDate, endDate, lookbackDays, today)

      // stage: Data API → bronze (channels, playlist pages, chunked videos)
      Bronze.ingest(lake, ctx, new DataApiIngest.DataApiPayloadSource(dataClient))

      // stage: Analytics API → bronze, fed by the landed video ids
      val videoIds = DataApiIngest.latestVideoIds(lake)
      Bronze.ingest(lake, ctx,
        new AnalyticsIngest.AnalyticsPayloadSource(
          analyticsClient, start, end, mode, lookbackDays, videoIds))

      // stage: silver MV refresh (level-order parallel — the reference runs
      // dbt with 4 threads; identity with sequential refresh is spec-pinned)
      // then gold marts. Incremental mode runs the same levels, merging
      // only new bronze partitions into the incremental models and
      // recomputing the rest.
      // change-feed mode covers EVERY silver model — no snapshot path runs:
      //   level 0: the six latest-wins models drain their bronze change
      //            feeds through durable cursors (cost ∝ changed rows,
      //            deletes fold as retractions) + the static ISO dim;
      //   level 1: the SCD2 pair + silver_videos (ONE composite cursor on
      //            videos_raw — Silver.refreshVideoModelsFromChangeFeed),
      //            the channel fact (reads level-0 silver_channels), and
      //            the three observed-value dims;
      //   level 2: the calendar dim folds per-source date counts from the
      //            five fact feeds and re-assembles only when one ticked.
      // Each level's drains run parallel like refreshParallel (disjoint
      // sources/targets — serializing would sum the straggler chains), and
      // every drain SETTLES before anything proceeds (Silver.settle).
      // SINGLE-DRIVER REFRESH LEASE: two concurrent cdfRefresh runs share
      // one cursor tree, and the ticks are NOT safe to interleave — a fold
      // pins its rebuild reads at ITS drained frontier, so an older-range
      // fold landing after a newer one would regress retraction-hit grains
      // to the older pinned state, and the losing cursor commit trips the
      // rewind guard. The lease serializes whole refresh phases: the
      // second run waits for the first, then drains whatever remains
      // (usually nothing — the first run consumed both ingests). Concurrent
      // INGEST needs no lease (bronze appends/merges are writer-safe).
      lease = if (cdfRefresh) Some(acquireRefreshLease(lake, runId)) else None
      val feedModels: Set[String] =
        if (!cdfRefresh) Set.empty
        else {
          Silver.settle(
            Silver.latestWinsSpecs.keys.toSeq.map(n => () =>
              Silver.refreshFromChangeFeed(lake, n, feedCursorDir(lake, n))) :+
            (() => if (!lake.exists("silver", "dim_country_reference"))
              lake.materialize("silver", "dim_country_reference",
                Silver.dimCountryReference.build(lake))))
          // the channel-identity check compares the STANDING fact against
          // the CURRENT top-1 channel — it must run AFTER level 0 (so
          // silver_channels has drained this run's ingest and the new
          // identity is visible) but BEFORE level 1 (whose channel-fact
          // drain re-stamps the fact, erasing the evidence).
          val chChanged = Silver.channelIdentityChanged(lake)
          if (chChanged) {
            // both resets happen AT DETECTION TIME: the evidence (the stale
            // fact) is erased by the level-1 re-stamp, so a crash anywhere
            // between that drain and a deferred reset would hide the
            // identity change from every later run — the standing old-id
            // mart rows would pass the feed anti-joins untouched forever.
            // Both are idempotent, and a missing mart wholesale-rebuilds.
            Silver.resetDimDateChannelCounts(lake, feedCursorDir(lake, "dim_date"))
            Gold.resetChannelSummaryFeed(lake)
          }
          Silver.settle(Seq(
            () => Silver.refreshVideoModelsFromChangeFeed(
              lake, feedCursorDir(lake, "video_models")),
            () => Silver.refreshChannelFactFromChangeFeed(
              lake, feedCursorDir(lake, "fact_channel_daily_metrics")),
            () => Silver.refreshDimFromChangeFeed(
              lake, "dim_traffic_source", feedCursorDir(lake, "dim_traffic_source")),
            () => Silver.refreshDimFromChangeFeed(
              lake, "dim_device", feedCursorDir(lake, "dim_device")),
            () => Silver.refreshDimFromChangeFeed(
              lake, "dim_country", feedCursorDir(lake, "dim_country"))))
          val dimDateTicked =
            Silver.dimDateFeedTick(lake, feedCursorDir(lake, "dim_date"))
          if (dimDateTicked || !lake.exists("silver", "dim_date"))
            Silver.assembleDimDate(lake)
          Silver.models.map(_.name).toSet
        }
      // Some(all-names) when feedModels is empty ≡ None — one path;
      // full-coverage change-feed mode leaves this set EMPTY
      Silver.refreshParallel(lake,
        Some(Silver.models.map(_.name).toSet -- feedModels), since = prevSnapshot)
      // stage: gold marts. Change-feed mode rebuilds only the grains the
      // bronze feeds name (Gold.refreshFromChangeFeeds), each dep capped at
      // the version its SILVER consumer folded this run — gold never
      // outruns silver. A channel-identity change already reset the channel
      // summary's feed state at detection time (before the level-1 re-stamp
      // could erase the evidence).
      if (cdfRefresh) Gold.refreshFromChangeFeeds(lake, silverFeedFrontier(lake, _))
      else Gold.refresh(lake)

      // stage: the full check suite; any error-severity offender fails the run
      val results = Checks.run(lake, snapshot)
      checkFailures = results.filter { case (_, sev, n) => sev == "error" && n > 0 }
      if (checkFailures.nonEmpty) status = "failed"
    } catch {
      case t: Throwable =>
        status = "failed"
        failure = Some(t)
    }
    // release the refresh lease whatever happened — a crash that skips this
    // leaves a stale lease the next acquirer steals after `staleMillis`.
    // OWNERSHIP check first: a run that outlived the stale window had its
    // lease stolen — the file at this path now belongs to the stealer, and
    // a blind delete would strip the live holder's protection
    lease.foreach(p => scala.util.Try {
      val mine = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8) == runId
      if (mine) java.nio.file.Files.deleteIfExists(p)
      ()
    })

    // finalize_run_log: ALL_DONE — records the terminal status even when a
    // stage threw
    Bronze.finalizeRun(lake, runId, status, new Timestamp(System.currentTimeMillis()))

    // OPTIMIZE pass, every run — the reference's optimize_tables task
    // (`job_tasks/ops/optimize_tables.py:116-132`). AFTER finalize so a
    // fatal error here can never leave the run log dangling; non-strict
    // like the reference's default — per-table failures land in the
    // report, never change the run's recorded outcome.
    val maint = if (optimize)
        Some(Maintenance.run(lake, gates = gates))
      else None
    RunReport(runId, status, checkFailures, failure, maint, warnings)
  }

  /** Feed-consumer cursor dirs currently live under this lake (silver AND
    * gold trees) — every one holds log + vacuum retention on its bronze
    * source from the moment it registered. A dir counts as a live cursor
    * when it contains at least one committed `_cursor_v*` marker (a
    * registered-but-never-committed consumer holds retention too, but only
    * through the `_stream_state` registry — its empty dir carries no
    * frontier to report and it vanishes with the registry entry). */
  def liveFeedCursors(lake: Lakehouse): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Seq("_silver_cursors", "_gold_cursors").flatMap { tree =>
      val root = java.nio.file.Paths.get(s"${lake.root}/$tree")
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p)
            && p.getFileName.toString.startsWith("_cursor_v"))
          .map(_.getParent.toString).toSeq.distinct.sorted
        finally s.close()
      }
    }
  }

  /** The durable cursor dir a `cdfRefresh` run uses for `model`. */
  def feedCursorDir(lake: Lakehouse, model: String): String =
    s"${lake.root}/_silver_cursors/$model"

  /** The lease file serializing cdfRefresh runs against one lake. */
  private[pipeline] def refreshLeasePath(lake: Lakehouse): java.nio.file.Path =
    java.nio.file.Paths.get(s"${lake.root}/_refresh.lease")

  /** Acquire the SINGLE-DRIVER refresh lease: put-if-absent file create; a
    * contender polls until the holder releases (bounded by `waitMillis`);
    * a lease older than `staleMillis` is presumed crashed and stolen. The
    * steal renames the stale file to a graveyard name WITHOUT replace, so
    * exactly one of several stealers wins the rename — the losers loop
    * back to contend for the fresh create. The low-level tick functions
    * (`Silver.refreshFromChangeFeed`, `Gold.starFeedTick`, …) do NOT take
    * this lease themselves: their documented contract is one driver per
    * cursor dir, and [[run]] is that driver. */
  private[pipeline] def acquireRefreshLease(lake: Lakehouse, runId: String,
      staleMillis: Long = 30L * 60 * 1000,
      waitMillis: Long = 15L * 60 * 1000): java.nio.file.Path = {
    import java.nio.file.Files
    val lock = refreshLeasePath(lake)
    Files.createDirectories(lock.getParent)
    val deadline = System.currentTimeMillis() + waitMillis
    while (true) {
      try {
        Files.createFile(lock) // put-if-absent: the acquisition point
        Files.write(lock, runId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        return lock
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
            catch { case _: java.io.IOException => 0L } // vanished — retry create
          if (age > staleMillis) {
            val grave = lock.resolveSibling(
              s"_refresh.lease.stale_${java.util.UUID.randomUUID.toString.take(8)}")
            try {
              Files.move(lock, grave) // no REPLACE_EXISTING: one stealer wins
              // TOCTOU guard: between the age read and the move, ANOTHER
              // stealer may have consumed the stale lease and created a
              // FRESH one — which is what we just moved. Re-check on the
              // moved file: genuinely stale → consumed; fresh → hand it
              // back (put-if-absent, so a contender that claimed the slot
              // meanwhile wins and we keep waiting)
              val movedAge =
                try System.currentTimeMillis() - Files.getLastModifiedTime(grave).toMillis
                catch { case _: java.io.IOException => Long.MaxValue }
              if (movedAge > staleMillis) Files.deleteIfExists(grave)
              else {
                try Files.move(grave, lock)
                catch { case _: java.io.IOException => Files.deleteIfExists(grave) }
              }
            } catch { case _: java.io.IOException => } // lost the steal — loop
          } else {
            require(System.currentTimeMillis() < deadline,
              s"cdfRefresh lease at $lock still held after $waitMillis ms — " +
                "another refresh run is live (or crashed inside the stale window); " +
                "delete the lease only if you are sure no refresh is running")
            Thread.sleep(200)
          }
      }
    }
    lock // unreachable
  }

  /** The version the SILVER feed consumer of `source` has folded through —
    * the frontier cap for gold deps on the same source (a gold tick must
    * never outrun silver). 0 (missing cursor) caps gold at nothing read,
    * which is exactly right before silver's first drain. */
  private[pipeline] def silverFeedFrontier(lake: Lakehouse, source: String): Option[Int] = {
    val consumerOf: Map[String, String] = Map(
      "videos_raw" -> "video_models",
      "analytics_channel_daily_raw" -> "fact_channel_daily_metrics") ++
      Silver.latestWinsSpecs.collect {
        case (m, s) if s.bronzeTable != "videos_raw" => s.bronzeTable -> m
      }
    consumerOf.get(source).map(m =>
      lake.changesCursor(java.nio.file.Paths.get(feedCursorDir(lake, m))))
  }

  /** DECOMMISSION the change-feed consumers `cdfRefresh` created: deletes
    * the WHOLE `_silver_cursors` tree (not just the current
    * latestWinsSpecs names — a cursor left by a model since removed or
    * renamed would otherwise keep its frontier pinned forever), releasing
    * the log + vacuum retention held on the bronze sources (registry
    * markers pointing at the vanished dirs are ignored from then on).
    * Call when a deployment reverts to snapshot-mode refresh for good.
    * Re-enabling `cdfRefresh` later is safe: fresh cursors
    * snapshot-bootstrap. */
  def decommissionFeedCursors(lake: Lakehouse): Unit = {
    val root = java.nio.file.Paths.get(s"${lake.root}/_silver_cursors")
    if (java.nio.file.Files.exists(root)) lake.deleteRecursively(root)
    // the calendar dim's per-source count tables are feed-consumer state
    // too: without their cursors they can never advance again, and a later
    // re-enable snapshot-bootstraps from scratch — drop them with the
    // cursors so stale counts can't linger as dead bronze tables
    lake.tableNames("bronze").filter(_.startsWith("dim_date_counts_"))
      .foreach(t => lake.deleteRecursively(lake.tableDir("bronze", t)))
    Gold.decommissionFeedCursors(lake)
  }
}
