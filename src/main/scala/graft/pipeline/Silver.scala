package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The silver layer: a declarative model registry + topo-sorted refresh —
  * our replacement for the reference's Lakeflow materialized-view pipeline
  * (`lakeflow/bronze_to_silver_pipeline.sql`, 13 MVs +
  * `country_reference.sql`). Each model is a plain
  * `Lakehouse => DataFrame`; "refresh" recomputes models in dependency
  * order and materializes them (SURVEY §3.2).
  *
  * The three reference idioms, factored once:
  *   - [[parseItems]]  — `from_json(payload, ddl)` → `explode_outer(items)`
  *     (12 uses in the reference);
  *   - [[latestWins]]  — `row_number() OVER (PARTITION BY grain ORDER BY
  *     snapshot_date DESC, ingest_ts_utc DESC, request_id DESC) = 1`
  *     (the dominant dedup idiom, 11 uses);
  *   - [[bind]]        — late name-driven header binding over the analytics
  *     report matrix: `element_at(rows, array_position(headers, name))`,
  *     guarded for absent columns (reference `:543-555`).
  *
  * Scale posture: every model is one linear scan + at most one window
  * shuffle on its dedup grain; payload JSON is parsed once per reader with
  * an explicit schema (never inferred — schema inference is a second full
  * scan); the one cross join broadcasts a single row; dims join broadcast.
  */
object Silver {

  final case class Model(name: String, deps: Seq[String], build: Lakehouse => DataFrame)

  private val envelopeCols =
    Seq("snapshot_date", "ingest_ts_utc", "request_id", "run_id", "schema_version")

  /** Latest-wins ordering shared by every dedup (reference `:48-51`). */
  private val recencyOrder: Seq[Column] =
    Seq(col("snapshot_date").desc, col("ingest_ts_utc").desc, col("request_id").desc)

  /** from_json with explicit DDL + explode_outer(items), keeping the
    * envelope. explode_outer + downstream `item.id IS NOT NULL` filter is
    * deliberately NOT an inner explode: empty/malformed payloads must not
    * drop sibling envelope rows before the filter (SURVEY §7.4). */
  def parseItems(raw: DataFrame, ddl: String): DataFrame =
    raw.select(
      explode_outer(
        from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL(ddl), Map.empty[String, String])
          .getField("items")).as("item") +: envelopeCols.map(col): _*)

  /** Keep the most recent row per grain. */
  def latestWins(df: DataFrame, grain: Seq[String], order: Seq[Column] = recencyOrder): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(grain.map(col): _*).orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn")

  /** Analytics report matrix → (header_names, row_values) long form. Each
    * payload is parsed ONCE, below the explode: the header names and the
    * row array are projected from one `from_json` per payload, and the
    * explode only carries them. Selected straight off `from_json` beside
    * the explode, the header transform lands above the `Generate` and
    * re-parses the whole payload for every exploded row — O(n²) in a
    * report's rows. */
  def parseReport(raw: DataFrame): DataFrame = {
    val parsed = from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL(Schemas.analyticsReportDdl),
      Map("primitivesAsString" -> "true"))
    raw.select(parsed.as("report") +: envelopeCols.map(col): _*)
      .select(
        transform(col("report.columnHeaders"), x => x.getField("name")).as("header_names") +:
          col("report.rows").as("rows") +: envelopeCols.map(col): _*)
      .select(col("header_names") +: explode_outer(col("rows")).as("row_values") +:
        envelopeCols.map(col): _*)
  }

  /** Name-driven positional bind, null when the column is absent —
    * generalizes the reference's guarded CASE (`:543-547`) to every lookup
    * (identical results on well-formed payloads, no index-0 error on
    * degraded ones). */
  def bind(name: String): Column =
    when(array_position(col("header_names"), name) > 0,
      element_at(col("row_values"), array_position(col("header_names"), name).cast("int")))

  /** Strict `day` bind (channel/video daily — reference `:404,475`: no
    * fallback; a null date is filtered). */
  private val strictDate: Column = to_date(bind("day")).as("date")

  /** `day` bind with snapshot_date fallback — dimensional facts only
    * (reference `:548-555`). */
  private val boundDate: Column =
    when(array_position(col("header_names"), "day") > 0,
      coalesce(to_date(bind("day")), col("snapshot_date")))
      .otherwise(col("snapshot_date")).as("date")

  /** A latest-wins model factored as (bronze table, typed projection, grain):
    * the shape that supports INCREMENTAL refresh, because latest-wins is an
    * idempotent, commutative merge on its grain — `latestWins(existing ∪
    * typed(newPartitions))` equals a full recompute (each key's global max
    * survives any grouping of the inputs). */
  final case class LatestWinsSpec(
      bronzeTable: String,
      grain: Seq[String],
      typed: DataFrame => DataFrame,
      order: Seq[Column] = recencyOrder)

  private def channelsTyped(raw: DataFrame): DataFrame =
    parseItems(raw, Schemas.channelsPayloadDdl)
      .select(
        col("item.id").as("channel_id"),
        col("item.snippet.title").as("channel_title"),
        col("item.snippet.description").as("channel_description"),
        col("item.snippet.customUrl").as("custom_url"),
        col("item.snippet.country").as("channel_country_code"),
        to_timestamp(col("item.snippet.publishedAt")).as("channel_published_at_utc"),
        col("item.statistics.viewCount").cast("bigint").as("channel_view_count"),
        col("item.statistics.subscriberCount").cast("bigint").as("channel_subscriber_count"),
        col("item.statistics.hiddenSubscriberCount").as("hidden_subscriber_count"),
        col("item.statistics.videoCount").cast("bigint").as("channel_video_count"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("channel_id").isNotNull)

  private def videoStatsTyped(raw: DataFrame): DataFrame =
    parseItems(raw, Schemas.videoStatsPayloadDdl)
      .select(
        col("item.id").as("video_id"),
        col("item.snippet.channelId").as("channel_id"),
        col("ingest_ts_utc").as("fetched_at_utc"),
        col("snapshot_date"),
        col("item.statistics.viewCount").cast("bigint").as("view_count"),
        col("item.statistics.likeCount").cast("bigint").as("like_count"),
        col("item.statistics.favoriteCount").cast("bigint").as("favorite_count"),
        col("item.statistics.commentCount").cast("bigint").as("comment_count"),
        col("ingest_ts_utc"), col("request_id"), col("run_id"), col("schema_version"))
      .filter(col("video_id").isNotNull)

  private def videoDailyTyped(raw: DataFrame): DataFrame =
    parseReport(raw)
      .select(
        bind("video").as("video_id"), strictDate,
        bind("views").cast("bigint").as("views"),
        bind("likes").cast("bigint").as("likes"),
        bind("comments").cast("bigint").as("comments"),
        bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
        bind("averageViewDuration").cast("double").as("average_view_duration_seconds"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("video_id").isNotNull && col("date").isNotNull)

  private def dimensionalTyped(headerName: String, dimCol: String)(raw: DataFrame): DataFrame =
    parseReport(raw)
      .select(
        bind("video").as("video_id"), boundDate,
        upper(bind(headerName)).as(dimCol),
        bind("views").cast("bigint").as("views"),
        bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("video_id").isNotNull && col("date").isNotNull
        && col(dimCol).isNotNull && col(dimCol) =!= "")

  /** The models refreshable incrementally (their rows depend only on their
    * own bronze table — no cross-table "current" state like the channel
    * fact's top-1 cross join, and no cross-row history like SCD2). */
  val latestWinsSpecs: Map[String, LatestWinsSpec] = Map(
    "silver_channels" -> LatestWinsSpec(
      "channels_raw", Seq("channel_id"), channelsTyped),
    "silver_video_stats_snapshot" -> LatestWinsSpec(
      "videos_raw", Seq("video_id", "fetched_at_utc"), videoStatsTyped,
      Seq(col("request_id").desc)),
    "fact_video_daily_metrics" -> LatestWinsSpec(
      "analytics_video_daily_raw", Seq("video_id", "date"), videoDailyTyped),
    "fact_video_traffic_source_metrics" -> LatestWinsSpec(
      "analytics_video_traffic_source_daily_raw", Seq("video_id", "date", "source_id"),
      dimensionalTyped("insightTrafficSourceType", "source_id")),
    "fact_video_country_metrics" -> LatestWinsSpec(
      "analytics_video_country_daily_raw", Seq("video_id", "date", "country_code"),
      dimensionalTyped("country", "country_code")),
    "fact_video_device_metrics" -> LatestWinsSpec(
      "analytics_video_device_daily_raw", Seq("video_id", "date", "device_type"),
      dimensionalTyped("deviceType", "device_type")))

  /** Incremental refresh: merge bronze partitions at-or-after
    * `sinceSnapshot` (INCLUSIVE — re-merging the boundary snapshot is
    * idempotent under latest-wins, and inclusivity means a same-day re-run
    * or late data landed alongside the last merged snapshot is never
    * skipped) into the existing materialization. The snapshot_date
    * predicate partition-prunes the bronze scan (bronze is partitioned on
    * it), so refresh cost scales with NEW data, not table history — the
    * difference between a nightly refresh reading one day and reading 100 TB.
    * Requires the model to have been fully refreshed at least once. */
  /** Bronze scan bounded to snapshots ≥ `since`: the bronze log's per-file
    * snapshot_date stats prune whole files before Spark lists them
    * ([[Lakehouse.tableWhere]]), and the exact row filter stays on top —
    * refresh cost scales with the new snapshots, not bronze history. */
  def bronzeSince(lake: Lakehouse, tbl: String, since: java.sql.Date): DataFrame =
    lake.tableWhere("bronze", tbl, Seq(ManifestStats.StatGte("snapshot_date", since)))
      .filter(col("snapshot_date") >= lit(since))

  def refreshIncremental(lake: Lakehouse, name: String, sinceSnapshot: java.sql.Date): Unit =
    name match {
      case "silver_video_metadata_scd2"  => refreshScd2Incremental(lake, sinceSnapshot)
      case "silver_videos"               => refreshVideosIncremental(lake, sinceSnapshot)
      case "fact_channel_daily_metrics"  => refreshChannelFactIncremental(lake, sinceSnapshot)
      case "dim_traffic_source" | "dim_device" | "dim_country" | "dim_date" =>
        refreshDimIncremental(lake, name, sinceSnapshot)
      case _ =>
        val spec = latestWinsSpecs(name)
        // OCC transaction: the standing table is the conflict-checked
        // read-set; bronze (append-only) is re-pruned on every attempt
        lake.transactMerge("silver", name) { existing =>
          val fresh = spec.typed(bronzeSince(lake, spec.bronzeTable, sinceSnapshot))
          latestWins(existing.unionByName(fresh), spec.grain, spec.order)
        }
        ()
    }

  /** CDF-DRIVEN incremental refresh of a latest-wins MV (the Lakeflow
    * "Enzyme" analog): one tick drains the bronze source's change feed
    * since a durable cursor and folds it into the standing silver table,
    * so refresh cost tracks CHANGED ROWS — not changed partitions
    * ([[refreshIncremental]]'s snapshot-date bound re-merges whole
    * snapshots) and never table history. Covers every
    * [[latestWinsSpecs]] model; returns the `(from, to]` range folded,
    * or None when caught up.
    *
    * Delete handling [[refreshIncremental]] cannot express: a
    * `delete`/`update_preimage` row names a grain whose standing winner
    * may have been retracted — the tick re-derives those grains from the
    * source's visible rows AS OF the tick's end version (the correct new
    * winner can be an OLDER source row absent from the tick), a
    * key-restricted scan. After any tick the MV is exactly
    * latest-wins(source@frontier) — a consistent view of one source
    * version, even under capped drains or concurrent writers.
    * Everything else is churn-sized: the merge windows only affected
    * grains; existing rows elsewhere pass through an anti-join untouched.
    *
    * EXACTLY-ONCE by idempotency, not a txn ledger: a crash between the
    * OCC merge and the cursor advance replays the tick, and latest-wins
    * re-folding the same rows leaves every winner unchanged (contrast
    * [[graft.streaming.Streams.cdfAggregateSink]], whose retraction
    * arithmetic double-applies and therefore needs the writer-txn
    * dedupe). A FRESH cursor bootstraps from the source SNAPSHOT (one
    * visible-rows scan, valid on a mature lake whose early manifests are
    * pruned) and jumps the cursor to the head; a caught-up cursor whose
    * MV was deleted rebuilds it the same way. `maxVersions` bounds each
    * incremental tick's catch-up exactly like the sinks in
    * [[graft.streaming.Streams]]. */
  def refreshFromChangeFeed(lake: Lakehouse, name: String, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    val spec = latestWinsSpecs(name)
    latestWinsFeedTick(lake, "silver", name, spec.bronzeTable, spec.grain,
      spec.order, spec.typed, cursorDir, maxVersions)
  }

  /** Null-safe key routing shared by every feed fold (`<=>`):
    * latest-wins's window groups NULL grain values as one real grain, so
    * the joins that route rows around it must pair NULLs too — a plain
    * equality join would strand a standing NULL-grain winner past its
    * retraction and diverge from the from-scratch recompute. Key frames
    * are renamed before the condition join (both sides often share a
    * lineage — same-name references would be ambiguous). */
  private[pipeline] def keyMatch(left: DataFrame, keys: DataFrame, grain: Seq[String],
      how: String): DataFrame = {
    val renamed = grain.zipWithIndex.foldLeft(keys) {
      case (d, (k, i)) => d.withColumnRenamed(k, s"__g$i")
    }
    left.join(broadcast(renamed),
      grain.zipWithIndex.map { case (k, i) => left(k) <=> renamed(s"__g$i") }
        .reduce(_ && _), how)
  }

  /** Fill columns a capped range predates (the range's frames are
    * self-consistent at ITS head; an ADD COLUMNS landing after it would
    * otherwise make the typed projection throw on every retry of the same
    * capped range — a livelock). Only source columns are fillable; typed
    * projections may reference derived names, which pass through. */
  private[pipeline] def fillHeadColumns(lake: Lakehouse, source: String,
      changes0: DataFrame): DataFrame = {
    lazy val headSchema = lake.table("bronze", source).schema
    headSchema.fields
      .filterNot(f => changes0.columns.contains(f.name))
      .foldLeft(changes0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** One change-feed tick of the generic latest-wins fold — the machinery
    * under [[refreshFromChangeFeed]], table-agnostic so the storage suite
    * can oracle-gate it over TPC-H samples (st15).
    *
    * `existingPrep` strips columns of the standing table that `typed` does
    * not produce (derived attachments like silver_videos' SCD2 surrogate
    * key) before the fold; `finish` re-derives them on the folded affected
    * rows — untouched rows keep their standing values (valid exactly when
    * the attachment can only change for ids the same tick touches, which
    * holds when attachment state and fold drain the SAME source ranges —
    * [[refreshVideoModelsFromChangeFeed]]'s single-cursor contract). */
  def latestWinsFeedTick(lake: Lakehouse, layer: String, target: String,
      source: String, grain: Seq[String], order: Seq[Column],
      typed: DataFrame => DataFrame, cursorDir: String,
      maxVersions: Int = Int.MaxValue,
      existingPrep: DataFrame => DataFrame = identity,
      finish: DataFrame => DataFrame = identity): Option[(Int, Int)] = {
    graft.streaming.Streams.registerCursor(lake.root, source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val head = lake.committedBronzeVersion(source)
    def snapshotRebuild(): Unit = {
      val snap = finish(latestWins(typed(lake.table("bronze", source)), grain, order))
      if (!lake.exists(layer, target)) lake.materialize(layer, target, snap)
      else lake.transactMerge(layer, target)(_ => snap)
    }
    // FRESH CURSOR → SNAPSHOT BOOTSTRAP, never a version-0 feed drain: on
    // a mature lake the early manifests are pruned (commit-time retention
    // keeps one checkpoint interval), so a from-0 change read would fail
    // fast forever — and even where it could run, replaying full history
    // including later-deleted rows costs strictly more than one
    // visible-rows scan. Crash-safe: a replay before the cursor commit
    // rebuilds the same snapshot (idempotent) and re-advances.
    val from = lake.changesCursor(cur)
    if (from == 0 && head > 0) {
      snapshotRebuild()
      lake.commitChangesCursor(cur, head)
      return Some((0, head))
    }
    // head and cursor were read once above — reuse them for the cap
    // arithmetic instead of re-listing the log and cursor dirs
    val to = lake.cappedTo(head, from, maxVersions)
    val tick =
      if (to <= from) None else Some((lake.tableChanges(source, from, to), from, to))
    if (tick.isEmpty && head > 0 && !lake.exists(layer, target)) {
      // caught-up cursor but the MV is GONE (the delete-to-force-a-rebuild
      // idiom): rebuild from the snapshot without disturbing the cursor —
      // otherwise the model would silently never materialize again
      snapshotRebuild()
      return None
    }
    tick.map { case (changes0, from, to) =>
      latestWinsApplyRange(lake, layer, target, source, grain, order, typed,
        existingPrep, finish, changes0, to)
      lake.commitChangesCursor(cur, to)
      (from, to)
    }
  }

  /** Apply ONE drained change range to a latest-wins MV — the
    * cursor-agnostic fold under [[latestWinsFeedTick]], factored out so a
    * composite consumer ([[refreshVideoModelsFromChangeFeed]]) can apply
    * several folds to the SAME range under one cursor. Idempotent: a
    * replay re-derives the same affected grains and winners (the rebuild
    * scan is pinned to `to`), so a crash between the merge and the
    * caller's cursor commit is safe. */
  private def latestWinsApplyRange(lake: Lakehouse, layer: String,
      target: String, source: String, grain: Seq[String], order: Seq[Column],
      typed: DataFrame => DataFrame,
      existingPrep: DataFrame => DataFrame, finish: DataFrame => DataFrame,
      changes0: DataFrame, to: Int): Unit = {
    // a range of pure OPTIMIZE/VACUUM commits (dataChange=false) carries no
    // rows: advance past it without rewriting the MV — an unchanged lake's
    // refresh must cost cursor reads, not identical-content version bumps
    if (lake.exists(layer, target) && changes0.isEmpty) return
    val changes = fillHeadColumns(lake, source, changes0)
    val metaCols = Seq("_change_type", "_commit_version")
    val freshAll = typed(changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop(metaCols: _*))
    val delKeys = typed(changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .drop(metaCols: _*))
      .select(grain.map(col): _*).distinct()
    // fresh rows at a retraction-hit grain may THEMSELVES be retracted
    // later in the range (insert v5, delete v7) — those grains come
    // exclusively from the rebuild. The rebuild scan is PINNED to the
    // tick's end version `to` (not the live head): under a capped drain
    // or a concurrent writer a head read would commit rows from versions
    // beyond the cursor frontier — convergent under latest-wins, but the
    // MV between ticks would not be a consistent view of ANY source
    // version. Pinned, every tick leaves the MV ≡ latest-wins(source@to).
    val fresh = keyMatch(freshAll, delKeys, grain, "left_anti")
    // tableAt returns version `to`'s OWN schema — a capped tick whose range
    // ends before a later ADD COLUMNS would make the typed projection throw
    // on every retry of the same range (the livelock fillHeadColumns guards
    // on the changes frame), so the pinned rebuild gets the same NULL fill
    val rebuilt = keyMatch(
      typed(fillHeadColumns(lake, source, lake.tableAt("bronze", source, to))),
      delKeys, grain, "left_semi")
    if (!lake.exists(layer, target))
      // mid-stream missing target (deleted between ticks): the delta
      // alone would materialize a PARTIAL table — rebuild from the
      // snapshot (covers this tick's range too; later re-folds of the
      // overlap are idempotent under latest-wins)
      lake.materialize(layer, target,
        finish(latestWins(typed(lake.table("bronze", source)), grain, order)))
    else lake.transactMerge(layer, target) { existing =>
      val freshKeys = fresh.select(grain.map(col): _*).distinct()
      val affected = freshKeys.union(delKeys).distinct()
      // standing winners at insert-only grains still compete; winners at
      // retraction-hit grains are replaced by the rebuild wholesale
      val standing = keyMatch(existingPrep(existing), freshKeys, grain, "left_semi")
      val untouched = keyMatch(existing, affected, grain, "left_anti")
      untouched.unionByName(finish(latestWins(
        standing.unionByName(fresh).unionByName(rebuilt), grain, order)))
        .select(existing.columns.map(col).toSeq: _*)
    }
    ()
  }

  /** Rebuild an SCD2 pair (observation log + segmented model) from the
    * source SNAPSHOT — the bootstrap/recovery face shared by
    * [[scd2FeedTick]] and [[refreshVideoModelsFromChangeFeed]]. One
    * visible-rows scan; idempotent (re-running replaces both tables with
    * the same content). */
  private def scd2SnapshotRebuild(lake: Lakehouse, layer: String,
      target: String, obsTable: String, source: String, obsKey: Seq[String],
      typed: DataFrame => DataFrame, segment: DataFrame => DataFrame): Unit = {
    val obs = typed(lake.table("bronze", source)).dropDuplicates(obsKey)
    if (!lake.exists(layer, obsTable)) lake.materialize(layer, obsTable, obs)
    else lake.transactMerge(layer, obsTable)(_ => obs)
    val model = segment(lake.table(layer, obsTable))
    if (!lake.exists(layer, target)) lake.materialize(layer, target, model)
    else lake.transactMerge(layer, target)(_ => model)
    ()
  }

  /** Apply ONE drained change range to an SCD2 pair — the cursor-agnostic
    * fold under [[scd2FeedTick]]. Per-tick cost ∝ churn + the
    * retraction-hit ids' source history + the affected ids' log slice:
    *
    *   1. the observation log folds the range — insert-side observations
    *      join, retraction-hit ids' slices are REPLACED wholesale from the
    *      source pinned at `to` (a retracted observation can resurrect an
    *      older version boundary; and a row inserted-then-deleted within
    *      the range must not survive via the insert branch);
    *   2. only the AFFECTED ids re-segment, from their complete log
    *      history — late observations that split an existing version and
    *      A→B→A reversions segment exactly like a full recompute;
    *   3. every other id's version rows pass through an anti-join
    *      untouched.
    *
    * Idempotent: a replay re-derives the same affected set (the feed is a
    * pure function of the log), the log re-merge collapses on `obsKey`,
    * and re-segmenting an id from its complete history is deterministic —
    * so a crash between the merges and the caller's cursor commit is
    * safe. */
  private def scd2ApplyRange(lake: Lakehouse, layer: String, target: String,
      obsTable: String, source: String, idCols: Seq[String],
      obsKey: Seq[String], typed: DataFrame => DataFrame,
      segment: DataFrame => DataFrame, changes0: DataFrame, to: Int): Unit = {
    if (!lake.exists(layer, target) || !lake.exists(layer, obsTable)) {
      // mid-stream missing piece (deleted between ticks): a delta-only
      // fold would leave a PARTIAL table — rebuild both from the snapshot
      // (covers this range too; replayed overlaps collapse on obsKey)
      scd2SnapshotRebuild(lake, layer, target, obsTable, source, obsKey, typed, segment)
      return
    }
    // pure-maintenance range (no data change): advance without rewriting
    if (changes0.isEmpty) return
    val changes = fillHeadColumns(lake, source, changes0)
    val metaCols = Seq("_change_type", "_commit_version")
    val freshObs = typed(changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop(metaCols: _*))
    val retractedIds = typed(changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .drop(metaCols: _*))
      .select(idCols.map(col): _*).distinct()
    val freshIds = freshObs.select(idCols.map(col): _*).distinct()
    val affected = freshIds.union(retractedIds).distinct()
    // pinned at `to` for the same between-tick consistency contract as
    // [[latestWinsApplyRange]]; head-schema NULL fill for the same
    // capped-range-predates-ADD-COLUMNS livelock guard as the changes frame
    val rebuiltObs = keyMatch(
      typed(fillHeadColumns(lake, source, lake.tableAt("bronze", source, to))),
      retractedIds, idCols, "left_semi")
    lake.transactMerge(layer, obsTable) { base =>
      keyMatch(base, retractedIds, idCols, "left_anti")
        .unionByName(keyMatch(freshObs, retractedIds, idCols, "left_anti"))
        .unionByName(rebuiltObs)
        .dropDuplicates(obsKey)
        .select(base.columns.map(col).toSeq: _*)
    }
    lake.transactMerge(layer, target) { existing =>
      val slice = keyMatch(lake.table(layer, obsTable), affected, idCols, "left_semi")
      keyMatch(existing, affected, idCols, "left_anti")
        .unionByName(segment(slice))
        .select(existing.columns.map(col).toSeq: _*)
    }
    ()
  }

  /** CDF-driven incremental SCD2 refresh — generic machinery, oracle-gated
    * over TPC-H samples (st16) exactly like [[latestWinsFeedTick]]/st15.
    * One tick drains the source's change feed since a durable cursor and
    * folds it into the observation log + segmented model
    * ([[scd2ApplyRange]]); a FRESH cursor bootstraps both from the source
    * snapshot and jumps to the head ([[scd2SnapshotRebuild]] — never a
    * version-0 history drain). Unlike the snapshot-window path
    * ([[refreshScd2Incremental]]), source DELETES fold as retractions: the
    * affected ids re-segment from their post-retraction history. */
  def scd2FeedTick(lake: Lakehouse, layer: String, target: String,
      obsTable: String, source: String, idCols: Seq[String],
      obsKey: Seq[String], typed: DataFrame => DataFrame,
      segment: DataFrame => DataFrame, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    graft.streaming.Streams.registerCursor(lake.root, source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val head = lake.committedBronzeVersion(source)
    val from = lake.changesCursor(cur)
    if (from == 0 && head > 0) {
      scd2SnapshotRebuild(lake, layer, target, obsTable, source, obsKey, typed, segment)
      lake.commitChangesCursor(cur, head)
      return Some((0, head))
    }
    val to = lake.cappedTo(head, from, maxVersions)
    if (to <= from) {
      // caught up but a table is GONE (delete-to-force-a-rebuild): rebuild
      // from the snapshot without disturbing the cursor
      if (head > 0 && !(lake.exists(layer, target) && lake.exists(layer, obsTable)))
        scd2SnapshotRebuild(lake, layer, target, obsTable, source, obsKey, typed, segment)
      return None
    }
    scd2ApplyRange(lake, layer, target, obsTable, source, idCols, obsKey,
      typed, segment, lake.tableChanges(source, from, to), to)
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  /** COMPOSITE videos_raw drain (the CDF face of the SCD2 model AND
    * silver_videos): ONE durable cursor drives both folds over the same
    * drained range — first the SCD2 pair ([[scd2ApplyRange]]), then the
    * slim latest-wins with the current surrogate key re-attached to the
    * affected ids ([[latestWinsApplyRange]] with finish = attach).
    *
    * The single-cursor contract is what keeps untouched silver_videos
    * rows' SKs current: an id's `is_current` flag can change ONLY through
    * a videos_raw change, and both folds consume identical ranges — so
    * any id whose SK could have moved is in this tick's affected set and
    * gets re-attached. Two independent cursors could diverge (one drain
    * fails a run) and leave ids re-segmented by SCD2 but never
    * re-attached. Crash-safe under the shared cursor because both folds
    * are idempotent. */
  def refreshVideoModelsFromChangeFeed(lake: Lakehouse, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    val source = "videos_raw"
    val obsKey = Seq("video_id", "observed_at_utc", "request_id")
    graft.streaming.Streams.registerCursor(lake.root, source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val head = lake.committedBronzeVersion(source)
    def bootstrap(): Unit = {
      scd2SnapshotRebuild(lake, "silver", "silver_video_metadata_scd2",
        scd2ObsTable, source, obsKey, scd2Typed, scd2Segment)
      val snap = videosAttachSk(
        latestWins(videosSlimTyped(lake.table("bronze", source)), Seq("video_id")), lake)
      if (!lake.exists("silver", "silver_videos"))
        lake.materialize("silver", "silver_videos", snap)
      else lake.transactMerge("silver", "silver_videos")(_ => snap)
      ()
    }
    val from = lake.changesCursor(cur)
    if (from == 0 && head > 0) {
      bootstrap()
      lake.commitChangesCursor(cur, head)
      return Some((0, head))
    }
    val to = lake.cappedTo(head, from, maxVersions)
    if (to <= from) {
      if (head > 0 && !(lake.exists("silver", "silver_video_metadata_scd2")
          && lake.exists("silver", scd2ObsTable)
          && lake.exists("silver", "silver_videos"))) bootstrap()
      return None
    }
    val changes = lake.tableChanges(source, from, to)
    scd2ApplyRange(lake, "silver", "silver_video_metadata_scd2", scd2ObsTable,
      source, Seq("video_id"), obsKey, scd2Typed, scd2Segment, changes, to)
    latestWinsApplyRange(lake, "silver", "silver_videos", source,
      Seq("video_id"), recencyOrder, videosSlimTyped,
      existingPrep = _.drop("current_video_meta_sk"),
      finish = df => videosAttachSk(df, lake), changes0 = changes, to = to)
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  /** Every model [[refreshIncremental]] can merge (vs full recompute).
    * silver_videos depends on the SCD2 table's current flags and the
    * channel fact on silver_channels' top-1, so merge those dependencies
    * first ([[refreshParallel]]'s level order does). */
  val incrementalModels: Set[String] =
    latestWinsSpecs.keySet ++
      Set("silver_video_metadata_scd2", "silver_videos", "fact_channel_daily_metrics",
        "dim_traffic_source", "dim_device", "dim_country", "dim_date")

  /** The SCD2 observation log: every (video, ingest) observation with its
    * metadata fields, change hash, and envelope — `scd2Typed(videos_raw)`
    * materialized with `video_id`/`metadata_hash` as first-class parquet
    * columns. It exists so incremental refresh can re-read any id's FULL
    * observation history (late data can re-segment the middle of a
    * version chain) without re-parsing bronze JSON: at scale the log is
    * read with a video_id predicate over columnar data while bronze would
    * need a full-history parse of every payload. Invariant: the log holds
    * every observation in bronze partitions ≤ its max snapshot_date
    * (snapshot dates are monotone per run; a manual bronze backfill BELOW
    * that frontier requires deleting the log to force a rebuild). */
  val scd2ObsTable = "silver_video_metadata_obs"

  /** Incremental SCD2 refresh — Lakeflow-refresh parity for the
    * reference's richest MV (`bronze_to_silver_pipeline.sql:132-297`):
    *
    *   1. parse ONLY bronze partitions ≥ `sinceSnapshot` (partition-pruned;
    *      widened to the observation log's own frontier when a full refresh
    *      ran in between and left the log behind);
    *   2. merge them into the observation log (exact-duplicate re-merges
    *      collapse on the (video_id, observed_at, request_id) key —
    *      inclusive boundaries stay idempotent);
    *   3. re-segment ONLY the ids observed in the new slice, from their
    *      complete log history — so A→B→A reversions and late-arriving
    *      observations that split an existing version are handled exactly
    *      like a full recompute;
    *   4. keep every other id's version rows untouched (anti-join).
    *
    * Cost scales with new data + affected-id history, never with table
    * history. Bootstraps the log from full bronze on first use. */
  def refreshScd2Incremental(lake: Lakehouse, sinceSnapshot: java.sql.Date): Unit = {
    val bronze = lake.table("bronze", "videos_raw")
    val haveLog = lake.exists("silver", scd2ObsTable)
    // widen the merge window to the log frontier: a full model refresh
    // between incremental runs advances silver without advancing the log,
    // and those snapshots must not be skipped
    val since: java.sql.Date =
      if (!haveLog) sinceSnapshot
      else lake.table("silver", scd2ObsTable)
        .agg(max(col("snapshot_date")).as("m")).collect().headOption
        .flatMap(r => Option(r.getDate(0)))
        .map(m => if (m.before(sinceSnapshot)) m else sinceSnapshot)
        .getOrElse(sinceSnapshot)
    val freshObs = scd2Typed(bronzeSince(lake, "videos_raw", since))
    val baseObs = if (haveLog) lake.table("silver", scd2ObsTable) else scd2Typed(bronze)
    val mergedObs = baseObs.unionByName(freshObs)
      .dropDuplicates("video_id", "observed_at_utc", "request_id")
    // log first: if the refresh dies between the two writes, a re-run
    // re-merges from a complete log (the reverse order would leave the log
    // missing this batch's observations under an already-advanced silver)
    if (haveLog)
      lake.transactMerge("silver", scd2ObsTable) { base =>
        base.unionByName(freshObs)
          .dropDuplicates("video_id", "observed_at_utc", "request_id")
      }
    else lake.materialize("silver", scd2ObsTable, mergedObs)
    // bronze is untouched by the log swap, so the pruned parse is reusable
    val affected = freshObs.select(col("video_id")).distinct()
    // OCC on the target table: a concurrent writer's commit between this
    // read and our publish forces a re-read + re-merge (transactMerge)
    lake.transactMerge("silver", "silver_video_metadata_scd2") { existing =>
      val untouched = existing.join(affected, Seq("video_id"), "left_anti")
      val rebuilt = scd2Segment(
        lake.table("silver", scd2ObsTable).join(affected, Seq("video_id"), "left_semi"))
      // the USING joins float video_id to the front; restore the canonical
      // column order so merge and recompute produce byte-identical tables
      untouched.unionByName(rebuilt).select(existing.columns.map(col).toSeq: _*)
    }
    ()
  }

  /** SCD2 merge of an ALREADY-SLICED raw frame — the micro-batch face of
    * [[refreshScd2Incremental]] for the streaming refresh
    * ([[graft.streaming.Streams.silverRefreshStream]]): the stream hands
    * the committed new bronze rows directly, so no snapshot-date window or
    * bronze re-scan is needed. Same algebra, same write order (observation
    * log first), same OCC discipline; idempotent under foreachBatch
    * replays (obs re-merge collapses on its key; re-segmenting an id from
    * its complete log history is deterministic). Bootstraps the log from
    * full bronze on first use, exactly like the batch path. */
  def refreshScd2FromRaw(lake: Lakehouse, raw: DataFrame): Unit = {
    val freshObs = scd2Typed(raw)
    val haveLog = lake.exists("silver", scd2ObsTable)
    if (freshObs.isEmpty && haveLog) return
    if (haveLog)
      lake.transactMerge("silver", scd2ObsTable) { base =>
        base.unionByName(freshObs)
          .dropDuplicates("video_id", "observed_at_utc", "request_id")
      }
    else lake.materialize("silver", scd2ObsTable,
      scd2Typed(lake.table("bronze", "videos_raw")).unionByName(freshObs)
        .dropDuplicates("video_id", "observed_at_utc", "request_id"))
    val affected = freshObs.select(col("video_id")).distinct()
    lake.transactMerge("silver", "silver_video_metadata_scd2") { existing =>
      val untouched = existing.join(affected, Seq("video_id"), "left_anti")
      val rebuilt = scd2Segment(
        lake.table("silver", scd2ObsTable).join(affected, Seq("video_id"), "left_semi"))
      untouched.unionByName(rebuilt).select(existing.columns.map(col).toSeq: _*)
    }
    ()
  }

  /** Incremental silver_videos refresh: latest-wins merge of the new slim
    * snapshots into the standing table (same merge algebra as the
    * latest-wins specs), then re-attach the current SCD2 surrogate key —
    * the FK re-join is over silver-sized frames only; bronze history is
    * never re-parsed. Run [[refreshScd2Incremental]] first so the current
    * flags are fresh. */
  def refreshVideosIncremental(lake: Lakehouse, sinceSnapshot: java.sql.Date): Unit = {
    val fresh = videosSlimTyped(bronzeSince(lake, "videos_raw", sinceSnapshot))
    lake.transactMerge("silver", "silver_videos") { existing0 =>
      val existing = existing0.drop("current_video_meta_sk")
      val merged = latestWins(existing.unionByName(fresh), Seq("video_id"))
      videosAttachSk(merged, lake)
    }
    ()
  }

  // ---------------------------------------------------------------- models

  /** ISO-3166 static dim (reference `country_reference.sql`). */
  val dimCountryReference: Model = Model("dim_country_reference", Nil, lake => {
    import lake.spark.implicits._
    CountryRef.codes.toDF("country_code", "country_name")
  })

  /** reference `:8-71`. Grain: channel_id. */
  val silverChannels: Model = Model("silver_channels", Nil, lake =>
    latestWins(channelsTyped(lake.table("bronze", "channels_raw")), Seq("channel_id")))

  /** reference `:73-130`. Grain: (video_id, fetched_at_utc); ties broken by
    * request_id only — preserved exactly (SURVEY §4 wart). */
  val silverVideoStatsSnapshot: Model = Model("silver_video_stats_snapshot", Nil, lake =>
    latestWins(videoStatsTyped(lake.table("bronze", "videos_raw")),
      Seq("video_id", "fetched_at_utc"), Seq(col("request_id").desc)))

  /** The 19 metadata fields hashed for change detection, in the exact
    * reference order (`:183-207`) — hash equality depends on field order
    * and on Spark's timestamp→string rendering (UTC pinned in the session). */
  private val scd2HashFields: Seq[Column] = Seq(
    col("channel_id"), col("video_title"), col("video_description"),
    col("video_published_at_utc").cast("string"),
    col("default_language"), col("default_audio_language"),
    col("duration_iso8601"), col("video_dimension"), col("video_definition"),
    col("caption_status"), col("licensed_content").cast("string"),
    col("projection_type"), col("upload_status"), col("privacy_status"),
    col("embeddable").cast("string"), col("public_stats_viewable").cast("string"),
    col("made_for_kids").cast("string"), col("self_declared_made_for_kids").cast("string"),
    col("topic_categories_csv"))

  /** Typed + hashed SCD2 observations from a `videos_raw` slice: one row
    * per (video, ingest) observation with the 19 metadata fields, the
    * change-detection hash, and the envelope. This is the frame the
    * OBSERVATION LOG (`silver_video_metadata_obs`) materializes — the
    * compact per-id history that lets [[refreshScd2Incremental]] re-segment
    * only affected ids without ever re-parsing bronze JSON. */
  private def scd2Typed(raw: DataFrame): DataFrame = {
    val typed = parseItems(raw, Schemas.videoMetadataPayloadDdl)
      .select(
        col("item.id").as("video_id"),
        col("item.snippet.channelId").as("channel_id"),
        col("item.snippet.title").as("video_title"),
        col("item.snippet.description").as("video_description"),
        to_timestamp(col("item.snippet.publishedAt")).as("video_published_at_utc"),
        col("item.snippet.defaultLanguage").as("default_language"),
        col("item.snippet.defaultAudioLanguage").as("default_audio_language"),
        col("item.contentDetails.duration").as("duration_iso8601"),
        col("item.contentDetails.dimension").as("video_dimension"),
        col("item.contentDetails.definition").as("video_definition"),
        col("item.contentDetails.caption").as("caption_status"),
        col("item.contentDetails.licensedContent").as("licensed_content"),
        col("item.contentDetails.projection").as("projection_type"),
        col("item.status.uploadStatus").as("upload_status"),
        col("item.status.privacyStatus").as("privacy_status"),
        col("item.status.embeddable").as("embeddable"),
        col("item.status.publicStatsViewable").as("public_stats_viewable"),
        col("item.status.madeForKids").as("made_for_kids"),
        col("item.status.selfDeclaredMadeForKids").as("self_declared_made_for_kids"),
        concat_ws("|", col("item.topicDetails.topicCategories")).as("topic_categories_csv"),
        col("ingest_ts_utc").as("observed_at_utc"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("video_id").isNotNull)
    typed.withColumn("metadata_hash",
      sha2(concat_ws("||", scd2HashFields.map(c => coalesce(c, lit(""))): _*), 256))
  }

  /** SCD2 segmentation over hashed observations: version starts where the
    * hash changes vs the per-id predecessor (lag), validity windows via
    * lead (next − 1µs, open-ended sentinel), surrogate key
    * sha2(video_id||valid_from). Pure function of the observation set —
    * full refresh runs it over all of bronze, incremental refresh over the
    * affected ids' observation-log slice; both segment identically. */
  private def scd2Segment(hashed: DataFrame): DataFrame = {
    // version starts: first observation or hash change vs the predecessor
    // (an A→B→A reversion correctly yields three versions)
    val w = Window.partitionBy(col("video_id"))
      .orderBy(col("observed_at_utc").asc, col("request_id").asc)
    val starts = hashed
      .withColumn("previous_metadata_hash", lag(col("metadata_hash"), 1).over(w))
      .filter(col("previous_metadata_hash").isNull
        || col("previous_metadata_hash") =!= col("metadata_hash"))
    starts
      .withColumn("valid_from_utc", col("observed_at_utc"))
      .withColumn("next_valid_from_utc", lead(col("observed_at_utc"), 1).over(w))
      .select(
        sha2(concat_ws("||", col("video_id"), col("valid_from_utc").cast("string")), 256)
          .as("video_meta_sk") +:
          (Seq("video_id", "channel_id", "video_title", "video_description",
            "video_published_at_utc", "default_language", "default_audio_language",
            "duration_iso8601", "video_dimension", "video_definition", "caption_status",
            "licensed_content", "projection_type", "upload_status", "privacy_status",
            "embeddable", "public_stats_viewable", "made_for_kids",
            "self_declared_made_for_kids", "topic_categories_csv", "metadata_hash",
            "valid_from_utc").map(col) ++
            Seq(
              coalesce(expr("next_valid_from_utc - INTERVAL 1 MICROSECOND"),
                lit("9999-12-31 23:59:59.999999").cast("timestamp")).as("valid_to_utc"),
              col("next_valid_from_utc").isNull.as("is_current")) ++
            envelopeCols.map(col)): _*)
  }

  /** reference `:132-297`: SCD2 versioning of video metadata — see
    * [[scd2Typed]] (parse + hash) and [[scd2Segment]] (windows). */
  val silverVideoMetadataScd2: Model = Model("silver_video_metadata_scd2", Nil, lake =>
    scd2Segment(scd2Typed(lake.table("bronze", "videos_raw"))))

  private def videosSlimTyped(raw: DataFrame): DataFrame =
    parseItems(raw, Schemas.videosSlimPayloadDdl)
      .select(
        col("item.id").as("video_id"),
        col("item.snippet.channelId").as("channel_id"),
        col("item.snippet.title").as("latest_video_title"),
        to_timestamp(col("item.snippet.publishedAt")).as("video_published_at_utc"),
        col("item.status.privacyStatus").as("latest_privacy_status"),
        col("item.status.uploadStatus").as("latest_upload_status"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("video_id").isNotNull)

  /** Key-frame projections for the gold feed dependencies ([[Gold]]):
    * change rows → the keys a mart rebuild routes on, using the SAME typed
    * parses as the silver models so the affected sets line up exactly. */
  private[pipeline] def videosSlimKeyFrame(raw: DataFrame): DataFrame =
    videosSlimTyped(raw).select(col("video_id"))

  private[pipeline] def channelDailyKeyFrame(lake: Lakehouse, raw: DataFrame): DataFrame =
    channelDailyTyped(raw, currentChannelFrame(lake))
      .select(col("channel_id"), col("date"))

  /** Join the per-video latest snapshot to the current SCD2 surrogate key
    * and project the silver_videos column order. */
  private def videosAttachSk(latest: DataFrame, lake: Lakehouse): DataFrame = {
    val current = lake.table("silver", "silver_video_metadata_scd2")
      .filter(col("is_current"))
      .select(col("video_id"), col("video_meta_sk").as("current_video_meta_sk"))
    latest
      .join(broadcast(current), Seq("video_id"), "left")
      .select(
        (Seq("video_id", "channel_id", "current_video_meta_sk", "latest_video_title",
          "video_published_at_utc", "latest_privacy_status", "latest_upload_status") ++
          envelopeCols).map(col): _*)
  }

  /** reference `:299-364`: latest video snapshot + current SCD2 FK. */
  val silverVideos: Model = Model("silver_videos", Seq("silver_video_metadata_scd2"), lake =>
    videosAttachSk(
      latestWins(videosSlimTyped(lake.table("bronze", "videos_raw")), Seq("video_id")), lake))

  /** The single current silver channel id (top-1, deterministic ties). */
  private def currentChannelFrame(lake: Lakehouse): DataFrame =
    lake.table("silver", "silver_channels")
      .orderBy(col("ingest_ts_utc").desc, col("request_id").desc)
      .limit(1).select(col("channel_id"))

  /** Typed channel-daily rows: report matrix → name-bound metrics with the
    * current channel id cross-joined onto every row. */
  private def channelDailyTyped(raw: DataFrame, currentChannel: DataFrame): DataFrame =
    parseReport(raw)
      .crossJoin(broadcast(currentChannel))
      .select(
        col("channel_id"), strictDate,
        bind("views").cast("bigint").as("views"),
        bind("likes").cast("bigint").as("likes"),
        bind("comments").cast("bigint").as("comments"),
        bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
        bind("subscribersGained").cast("bigint").as("subscribers_gained"),
        bind("subscribersLost").cast("bigint").as("subscribers_lost"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("channel_id").isNotNull && col("date").isNotNull)

  /** reference `:366-443`: channel daily metrics — the single silver channel
    * id (top-1, deterministic ties) cross-joined onto every report row, then
    * name-bound metrics and latest-wins on (channel_id, date). */
  val factChannelDailyMetrics: Model =
    Model("fact_channel_daily_metrics", Seq("silver_channels"), lake =>
      latestWins(
        channelDailyTyped(
          lake.table("bronze", "analytics_channel_daily_raw"), currentChannelFrame(lake)),
        Seq("channel_id", "date")))

  /** Incremental channel-fact refresh: latest-wins merge of the new bronze
    * partitions, PROVIDED the current channel id still matches the standing
    * rows — the cross-joined id is "current at refresh time" state, so a
    * channel change means a full recompute re-stamps history (matching the
    * reference MV's semantics) while a stable channel (the overwhelmingly
    * common case — the API serves one `mine=true` channel) merges at
    * new-data cost. Refresh silver_channels first ([[refreshParallel]]'s
    * level order does). */
  def refreshChannelFactIncremental(lake: Lakehouse, sinceSnapshot: java.sql.Date): Unit = {
    val current = currentChannelFrame(lake)
    val existing = lake.table("silver", "fact_channel_daily_metrics")
    val currentId = current.collect().headOption.map(_.getString(0))
    val standingIds = existing.select(col("channel_id")).distinct()
      .collect().map(_.getString(0)).toSeq // 1 row in practice — the single-channel grain
    if (standingIds.forall(currentId.contains)) {
      val fresh = channelDailyTyped(
        bronzeSince(lake, "analytics_channel_daily_raw", sinceSnapshot), current)
      lake.transactMerge("silver", "fact_channel_daily_metrics") { standing =>
        latestWins(standing.unionByName(fresh), Seq("channel_id", "date"))
      }
      ()
    } else {
      // channel changed: merge would freeze the stale id on old rows
      lake.materialize("silver", "fact_channel_daily_metrics",
        factChannelDailyMetrics.build(lake))
    }
  }

  /** Whether the CURRENT silver channel id no longer matches the standing
    * channel-fact rows — the single-channel identity changed, so both the
    * channel fact and the calendar dim's channel-source counts were
    * computed under the OLD id's cross-join and must rebuild, not merge.
    * Read BEFORE any feed refresh fixes the fact (the evidence is the
    * stale fact itself). */
  def channelIdentityChanged(lake: Lakehouse): Boolean = {
    if (!lake.exists("silver", "fact_channel_daily_metrics")
        || !lake.exists("silver", "silver_channels")) return false
    val currentId = currentChannelFrame(lake).collect().headOption.map(_.getString(0))
    val standing = lake.table("silver", "fact_channel_daily_metrics")
      .select(col("channel_id")).distinct()
      .collect().map(_.getString(0)).toSeq // 1 row in practice — single-channel grain
    standing.nonEmpty && !standing.forall(currentId.contains)
  }

  /** CDF-driven channel-fact refresh: the latest-wins feed fold with the
    * current channel id cross-joined by `typed` — at new-data cost while
    * the channel is stable (the overwhelmingly common case; the API serves
    * one `mine=true` channel). On an identity CHANGE the standing rows
    * carry a dead channel_id at their grain and a grain-level merge could
    * never retract them — recompute wholesale, pinned at the source head,
    * and jump the cursor past everything the recompute covered. Refresh
    * silver_channels first (Job's level ordering does). */
  def refreshChannelFactFromChangeFeed(lake: Lakehouse, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    val source = "analytics_channel_daily_raw"
    val target = "fact_channel_daily_metrics"
    val current = currentChannelFrame(lake)
    val head = lake.committedBronzeVersion(source)
    if (channelIdentityChanged(lake) && head > 0) {
      graft.streaming.Streams.registerCursor(lake.root, source, cursorDir)
      val cur = java.nio.file.Paths.get(cursorDir)
      val snap = latestWins(
        channelDailyTyped(lake.tableAt("bronze", source, head), current),
        Seq("channel_id", "date"))
      if (!lake.exists("silver", target)) lake.materialize("silver", target, snap)
      else lake.transactMerge("silver", target)(_ => snap)
      val from = lake.changesCursor(cur)
      if (head > from) { lake.commitChangesCursor(cur, head); Some((from, head)) }
      else None
    } else
      latestWinsFeedTick(lake, "silver", target, source,
        Seq("channel_id", "date"), recencyOrder,
        raw => channelDailyTyped(raw, current), cursorDir, maxVersions)
  }

  /** Incremental dim refresh. The observed-value dims are latest-wins on
    * the dim value, so they merge exactly like the latest-wins facts
    * (projection commutes with latest-wins because the recency-order
    * columns survive it, and latestWins(latestWins(A) ∪ fresh) ==
    * latestWins(A ∪ fresh)). dim_date only ever GAINS dates (latest-wins
    * never drops a grain group), and every fact date descends from some
    * bronze row — so the standing calendar unions with the dates observed
    * in the new bronze partitions. Refresh cost scales with new data; the
    * standing tables are read but never recomputed. */
  def refreshDimIncremental(lake: Lakehouse, name: String,
      sinceSnapshot: java.sql.Date): Unit = {
    def freshBronze(tbl: String): DataFrame =
      bronzeSince(lake, tbl, sinceSnapshot)
    name match {
      case "dim_traffic_source" =>
        lake.transactMerge("silver", name) { existing =>
          val fresh = observedDimTyped(freshBronze("analytics_video_traffic_source_daily_raw"),
              "insightTrafficSourceType", "source_id")
            .select(col("source_id") +: col("source_id").as("source_name") +:
              envelopeCols.map(col): _*)
          latestWins(existing.unionByName(fresh), Seq("source_id"))
        }
      case "dim_device" =>
        lake.transactMerge("silver", name) { existing =>
          val fresh = observedDimTyped(freshBronze("analytics_video_device_daily_raw"),
              "deviceType", "device_type")
            .select(col("device_type") +: col("device_type").as("device_name") +:
              envelopeCols.map(col): _*)
          latestWins(existing.unionByName(fresh), Seq("device_type"))
        }
      case "dim_country" =>
        lake.transactMerge("silver", name) { existing =>
          val fresh = countryEnrich(
            latestWins(observedDimTyped(freshBronze("analytics_video_country_daily_raw"),
              "country", "country_code"), Seq("country_code")), lake)
          latestWins(existing.unionByName(fresh), Seq("country_code"))
        }
      case "dim_date" =>
        lake.transactMerge("silver", "dim_date") { existing =>
          val videoDates = Seq("fact_video_daily_metrics", "fact_video_traffic_source_metrics",
              "fact_video_country_metrics", "fact_video_device_metrics")
            .map { f =>
              val spec = latestWinsSpecs(f)
              spec.typed(freshBronze(spec.bronzeTable)).select(col("date"))
            }
          val channelDates = channelDailyTyped(
              freshBronze("analytics_channel_daily_raw"), currentChannelFrame(lake))
            .select(col("date"))
          val freshDates = (videoDates :+ channelDates).reduce(_ union _)
            .filter(col("date").isNotNull).distinct()
          existing.unionByName(dateAttrs(freshDates)).distinct()
        }
      case other =>
        throw new IllegalArgumentException(s"not an incrementally-refreshable dim: $other")
    }
    ()
  }

  /** CDF-driven refresh of the three observed-value dims: each is
    * latest-wins on the dim value itself, so [[latestWinsFeedTick]] applies
    * directly — and unlike the snapshot path, a bronze DELETE retracting
    * the last row carrying a value drops the value, exactly like the
    * from-scratch model. dim_country's ISO enrich runs inside `typed`
    * (per-row, keyed on the grain, recency columns preserved — it commutes
    * with latest-wins, so enrich-then-dedup ≡ the model's dedup-then-
    * enrich); dim_country_reference must be materialized first. */
  def refreshDimFromChangeFeed(lake: Lakehouse, name: String, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = name match {
    case "dim_traffic_source" =>
      latestWinsFeedTick(lake, "silver", name,
        "analytics_video_traffic_source_daily_raw", Seq("source_id"), recencyOrder,
        raw => observedDimTyped(raw, "insightTrafficSourceType", "source_id")
          .select(col("source_id") +: col("source_id").as("source_name") +:
            envelopeCols.map(col): _*),
        cursorDir, maxVersions)
    case "dim_device" =>
      latestWinsFeedTick(lake, "silver", name,
        "analytics_video_device_daily_raw", Seq("device_type"), recencyOrder,
        raw => observedDimTyped(raw, "deviceType", "device_type")
          .select(col("device_type") +: col("device_type").as("device_name") +:
            envelopeCols.map(col): _*),
        cursorDir, maxVersions)
    case "dim_country" =>
      latestWinsFeedTick(lake, "silver", name,
        "analytics_video_country_daily_raw", Seq("country_code"), recencyOrder,
        raw => countryEnrich(observedDimTyped(raw, "country", "country_code"), lake),
        cursorDir, maxVersions)
    case other =>
      throw new IllegalArgumentException(s"not a feed-refreshable dim: $other")
  }

  /** The five fact sources feeding the calendar dim, each with its date
    * extraction — the MODEL's own date semantics (same typed projections,
    * same null filters), so the counted date set equals the fact's date
    * set: every typed row's date is part of its fact's latest-wins grain,
    * and a grain's winner carries that date. */
  private def dimDateSources(lake: Lakehouse): Seq[(String, DataFrame => DataFrame)] = {
    val video = Seq("fact_video_daily_metrics", "fact_video_traffic_source_metrics",
      "fact_video_country_metrics", "fact_video_device_metrics").map { f =>
      val spec = latestWinsSpecs(f)
      spec.bronzeTable -> ((raw: DataFrame) => spec.typed(raw).select(col("date")))
    }
    video :+ ("analytics_channel_daily_raw" ->
      ((raw: DataFrame) =>
        channelDailyTyped(raw, currentChannelFrame(lake)).select(col("date"))))
  }

  /** The per-source date-count state table maintained by [[dimDateFeedTick]]
    * (bronze-layer, log-managed — the counts need the writer-txn dedupe). */
  def dimDateCountsTable(source: String): String = s"dim_date_counts_$source"

  /** Drain every fact source's change feed into its per-source date-count
    * state ([[graft.streaming.Streams.cdfAggregateSink]] with the date
    * extraction as the typed projection): a date's count tracks the
    * source's visible rows carrying it, so retractions can DROP a date —
    * something the grows-only snapshot path cannot express. Fresh cursors
    * snapshot-bootstrap (never a version-0 drain). One state table per
    * source (the bootstrap contract) under cursors `<cursorRoot>/<source>`.
    * Returns true when any tick folded changes. */
  def dimDateFeedTick(lake: Lakehouse, cursorRoot: String,
      maxVersions: Int = Int.MaxValue): Boolean =
    dimDateSources(lake).map { case (source, typedDates) =>
      // `any` tracks REAL folds only: a pure-maintenance range advances
      // the cursor with folded=false, and counting it as a tick would
      // re-materialize dim_date on an unchanged lake — contradicting the
      // "maintenance ranges advance cursors WITHOUT rewriting MVs" contract
      var any = false
      var guard = 0
      var tick = graft.streaming.Streams.cdfAggregateSinkFolded(lake, source,
        dimDateCountsTable(source), Seq("date"), Nil,
        s"$cursorRoot/$source", maxVersions, typed = typedDates,
        snapshotBootstrap = true)
      while (tick.isDefined) {
        any |= tick.exists(_._3)
        guard += 1
        require(guard <= 100000, s"dim_date feed drain failed to converge on $source")
        tick = graft.streaming.Streams.cdfAggregateSinkFolded(lake, source,
          dimDateCountsTable(source), Seq("date"), Nil,
          s"$cursorRoot/$source", maxVersions, typed = typedDates,
          snapshotBootstrap = true)
      }
      any
    }.reduce(_ || _)

  /** Assemble the calendar dim from the per-source date counts: a date is
    * in the calendar iff some source still has a visible row carrying it
    * (cnt > 0). Tiny output (calendar-sized) — a full materialize. */
  def assembleDimDate(lake: Lakehouse): Unit = {
    val dates = dimDateSources(lake).map { case (source, _) =>
      val t = dimDateCountsTable(source)
      if (lake.exists("bronze", t))
        graft.streaming.Streams.cdfAggregate(lake, t).select(col("date"))
      else lake.spark.emptyDataFrame.select(lit(null).cast("date").as("date"))
    }.reduce(_ union _).filter(col("date").isNotNull).distinct()
    lake.materialize("silver", "dim_date", dateAttrs(dates))
  }

  /** Reset the calendar dim's CHANNEL-source count state (table + cursor):
    * its counts were folded under the OLD channel's cross-join and a
    * changed identity re-stamps history — the next tick
    * snapshot-bootstraps under the new identity. Cursor dir first: a crash
    * between the two deletes then leaves (no cursor, stale table), which
    * the bootstrap handles by dropping the stale table itself — the
    * reverse order would leave a live cursor pointing past a missing
    * table, a partial-rebuild trap. */
  def resetDimDateChannelCounts(lake: Lakehouse, cursorRoot: String): Unit = {
    val source = "analytics_channel_daily_raw"
    val cur = java.nio.file.Paths.get(s"$cursorRoot/$source")
    if (java.nio.file.Files.exists(cur)) lake.deleteRecursively(cur)
    val t = dimDateCountsTable(source)
    if (lake.exists("bronze", t)) lake.deleteRecursively(lake.tableDir("bronze", t))
  }

  /** reference `:445-512`. Grain: (video_id, date). */
  val factVideoDailyMetrics: Model = Model("fact_video_daily_metrics", Nil, lake =>
    latestWins(videoDailyTyped(lake.table("bronze", "analytics_video_daily_raw")),
      Seq("video_id", "date")))

  /** Shared shape of the three per-dimension video facts
    * (reference `:514-603,605-694,696-785`): bind video/day/dim/metrics,
    * uppercase the dim, drop null/empty dims, latest-wins on
    * (video_id, date, dim). */
  private def dimensionalFact(name: String): Lakehouse => DataFrame =
    lake => {
      val spec = latestWinsSpecs(name)
      latestWins(spec.typed(lake.table("bronze", spec.bronzeTable)), spec.grain, spec.order)
    }

  val factVideoTrafficSourceMetrics: Model = Model("fact_video_traffic_source_metrics", Nil,
    dimensionalFact("fact_video_traffic_source_metrics"))

  val factVideoCountryMetrics: Model = Model("fact_video_country_metrics", Nil,
    dimensionalFact("fact_video_country_metrics"))

  val factVideoDeviceMetrics: Model = Model("fact_video_device_metrics", Nil,
    dimensionalFact("fact_video_device_metrics"))

  /** Shared shape of the observed-value dims (reference `:787-841,903-957`):
    * distinct uppercased dim values, latest-wins per value. */
  private def observedDimTyped(raw: DataFrame, headerName: String, dimCol: String): DataFrame =
    parseReport(raw)
      .select(
        upper(bind(headerName)).as(dimCol),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col(dimCol).isNotNull && col(dimCol) =!= "")

  private def observedDim(rawTable: String, headerName: String, dimCol: String): Lakehouse => DataFrame =
    lake => latestWins(
      observedDimTyped(lake.table("bronze", rawTable), headerName, dimCol), Seq(dimCol))

  val dimTrafficSource: Model = Model("dim_traffic_source", Nil, lake =>
    observedDim("analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", "source_id")(lake)
      .select(col("source_id") +: col("source_id").as("source_name") +: envelopeCols.map(col): _*))

  /** ISO-reference enrich shared by the full dim_country build and its
    * incremental merge (broadcast — 249 rows). */
  private def countryEnrich(observed: DataFrame, lake: Lakehouse): DataFrame = {
    val ref = lake.table("silver", "dim_country_reference")
      .select(col("country_code"), col("country_name").as("ref_country_name"))
    observed.join(broadcast(ref), Seq("country_code"), "left")
      .select(col("country_code") +:
        coalesce(col("ref_country_name"), col("country_code")).as("country_name") +:
        envelopeCols.map(col): _*)
  }

  /** reference `:844-901`: observed countries enriched from the static ISO
    * reference. */
  val dimCountry: Model = Model("dim_country", Seq("dim_country_reference"), lake =>
    countryEnrich(
      observedDim("analytics_video_country_daily_raw", "country", "country_code")(lake), lake))

  val dimDevice: Model = Model("dim_device", Nil, lake =>
    observedDim("analytics_video_device_daily_raw", "deviceType", "device_type")(lake)
      .select(col("device_type") +: col("device_type").as("device_name") +: envelopeCols.map(col): _*))

  /** Calendar attributes — every column a pure function of `date`, so a
    * distinct() over derived rows equals a distinct over the dates. */
  private def dateAttrs(dates: DataFrame): DataFrame =
    dates.select(
      col("date"),
      year(col("date")).as("year"),
      month(col("date")).as("month"),
      dayofmonth(col("date")).as("day_of_month"),
      dayofweek(col("date")).as("day_of_week"),
      dayofweek(col("date")).isin(1, 7).as("is_weekend"))

  private val factTables = Seq("fact_channel_daily_metrics", "fact_video_daily_metrics",
    "fact_video_traffic_source_metrics", "fact_video_country_metrics",
    "fact_video_device_metrics")

  /** reference `:960-983`: calendar dim from the union of fact dates. */
  val dimDate: Model = Model("dim_date", factTables,
    lake => dateAttrs(
      factTables
        .map(t => lake.table("silver", t).select(col("date")).filter(col("date").isNotNull))
        .reduce(_ union _)
        .distinct()))

  /** All 14 silver models. */
  val models: Seq[Model] = Seq(
    dimCountryReference, silverChannels, silverVideoStatsSnapshot,
    silverVideoMetadataScd2, silverVideos, factChannelDailyMetrics,
    factVideoDailyMetrics, factVideoTrafficSourceMetrics, factVideoCountryMetrics,
    factVideoDeviceMetrics, dimTrafficSource, dimCountry, dimDevice, dimDate)

  /** Refresh all (or a subset of) models in dependency order. */
  def refresh(lake: Lakehouse, subset: Option[Set[String]] = None): Seq[String] = {
    val wanted = models.filter(m => subset.forall(_.contains(m.name)))
    val order = topoSort(wanted)
    order.foreach(m => lake.materialize("silver", m.name, m.build(lake)))
    order.map(_.name)
  }

  /** Refresh with LEVEL-ORDER PARALLELISM: models are grouped by
    * topological depth and each level's independent models refresh
    * concurrently (the reference runs dbt with `threads: 4` —
    * `dbt/profiles.yml:27`). Spark's scheduler interleaves the concurrent
    * jobs across executors, so independent MVs stop serializing behind one
    * another's stragglers; results are identical to [[refresh]] because
    * models only ever read tables their *earlier level* wrote.
    *
    * With `since`, every [[incrementalModels]] member MERGES the bronze
    * partitions at or after that snapshot ([[refreshIncremental]]) and the
    * rest recompute. [[Model.deps]] already orders what the merges read:
    * the SCD2 table before silver_videos, silver_channels before the
    * channel fact, the facts before dim_date, dim_country_reference before
    * dim_country. Every model of a level settles before the next level
    * starts or a failure is rethrown ([[settle]]). */
  def refreshParallel(lake: Lakehouse, subset: Option[Set[String]] = None,
      since: Option[java.sql.Date] = None): Seq[Seq[String]] = {
    val wanted = models.filter(m => subset.forall(_.contains(m.name)))
    val names = wanted.map(_.name).toSet
    // depth = longest dependency chain within the refresh set
    val depth = scala.collection.mutable.Map.empty[String, Int]
    def depthOf(m: Model): Int = depth.getOrElseUpdate(m.name,
      m.deps.filter(names.contains).map(d => depthOf(wanted.find(_.name == d).get))
        .foldLeft(-1)(math.max) + 1)
    val levels = topoSort(wanted).groupBy(depthOf).toSeq.sortBy(_._1).map(_._2)
    levels.map { level =>
      settle(level.map(m => () => {
        since.filter(_ => incrementalModels.contains(m.name)) match {
          case Some(s) => refreshIncremental(lake, m.name, s)
          case None => lake.materialize("silver", m.name, m.build(lake))
        }
        m.name
      }))
    }
  }

  /** Run one level of independent work concurrently and wait until ALL of
    * it has settled: a fail-fast await would leave the siblings of a
    * failed task running into the next stage (gold, finalize, maintenance,
    * even the next run). The first failure is rethrown with every other
    * failure attached as suppressed, so a multi-model incident does not
    * masquerade as a single-model one. Results come back in `work` order. */
  private[pipeline] def settle[A](work: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val settled = Await.result(
      Future.sequence(work.map(w => Future(Try(w())))), Duration.Inf)
    settled.collectFirst { case Failure(t) =>
      settled.collect { case Failure(o) if o ne t => o }.foreach(t.addSuppressed)
      throw t
    }
    settled.map(_.get)
  }

  private def topoSort(ms: Seq[Model]): Seq[Model] = {
    val byName = ms.map(m => m.name -> m).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(m: Model, path: List[String]): Unit = {
      require(!path.contains(m.name), s"model dependency cycle: ${path.reverse.mkString(" -> ")}")
      if (!visited.contains(m.name)) {
        m.deps.flatMap(byName.get).foreach(d => visit(d, m.name :: path))
        visited += m.name
      }
    }
    ms.foreach(visit(_, Nil))
    visited.toSeq.map(byName)
  }
}
