package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Metrics, TitleCode}
import graft.functions.SecondsToHms
import graft.sources.Dim

/** The reference's 7 pipeline stages as pure DataFrame → DataFrame
  * functions (SURVEY.md §3). The inter-stage Google-Sheet handoff
  * disappears into Catalyst's logical plan; stages compose lazily and the
  * whole epoch optimizes as ONE plan ([[Pipeline.runEpoch]] materializes
  * it once per epoch with `localCheckpoint`, in memory, not on disk).
  * Each stage is one projection (building a frame analyses the whole
  * plan so far, so a chain of `withColumn` calls analyses it once per
  * call), and reads its dimension through a [[graft.sources.Dim]]
  * lookup: a map literal probed in that projection, or for a large or
  * key-repeating dimension a broadcast left join under it.
  */
object Stages {

  private def blank(c: Column): Column = coalesce(c, lit(""))

  /** `df`'s columns, less those `cols` name, then `cols`, as one
    * projection over `from`: `df` itself, or `df` joined to a dimension,
    * whose columns it leaves out. */
  private def extend(df: DataFrame, from: DataFrame, cols: (String, Column)*): DataFrame = {
    val names = cols.map(_._1).toSet
    from.select(df.columns.toSeq.filterNot(names).map(col) ++
      cols.map { case (n, c) => c.as(n) }: _*)
  }

  /** Stage 1 — ingest (ref dataingestion1.py): window-filtered source scan
    * → channel lookup w/ "Unknown Channel" default → A–D projection →
    * keep-last dedup. Later stages add the remaining staging columns. */
  def ingest(videos: DataFrame, channels: Dim,
      windowStartIso: String, windowEndIso: String): DataFrame = {
    val windowed = videos.where(
      col("published_at") >= windowStartIso && col("published_at") <= windowEndIso)
    val (from, channel) = channels.lookup(windowed, col("channel_id"))
    val named = from.select(col("video_id"), col("video_title"),
      coalesce(channel("channel_name"), lit("Unknown Channel")).as("channel_name"),
      col("published_at"), col("ingest_seq"))
    Dedup.keepLast(named, "video_id", col("ingest_seq"))
  }

  /** Stage 2 — title-code enrichment + employee lookup (ref
    * dataingestion2.py): E main_code, F len, G code, H resource_code,
    * I resource_name. */
  def enrichTitleCode(staging: DataFrame, employees: Dim): DataFrame = {
    val mainCode = TitleCode.mainCode(col("video_title"))
    val resourceCode = TitleCode.lastChar(mainCode)
    val (from, employee) = employees.lookup(staging, resourceCode)
    extend(staging, from,
      "main_code" -> mainCode,
      "len" -> length(mainCode),
      "code" -> TitleCode.codePrefix(mainCode),
      "resource_code" -> resourceCode,
      "resource_name" -> blank(employee("team")))
  }

  /** Stage 3 — show lookup (ref dataingestion3.py): J/K/L from the
    * (last-wins-deduped) show dim; misses → "". J/K/L the frame already
    * holds are recomputed (the reference rewrites the whole column block,
    * dataingestion3.py:63-67). */
  def enrichShow(staging: DataFrame, shows: Dim): DataFrame = {
    val (from, show) = shows.lookup(staging, col("code"))
    extend(staging, from,
      Seq("show_name", "broadcaster", "category").map(c => c -> blank(show(c))): _*)
  }

  /** Stages 4–5 — analytics keyed update (ref dataprocessing.py:120-163):
    * left join staging ↔ metrics on video_id, the metrics projected to
    * their staging columns; rows without metrics keep them null, metric
    * rows absent from staging are dropped by the join. The staging frame
    * is one epoch's own rows and holds no metric columns yet. */
  def mergeAnalytics(staging: DataFrame, metrics: DataFrame): DataFrame =
    staging.join(metrics.select(
      col("video_id"),
      col("content_type"),
      col("views"),
      round(col("minutes_watched") / 60.0, 2).as("watch_time_hours"),
      SecondsToHms.secondsToHms(col("avg_view_duration_s")).as("avg_view_duration"),
      col("comments"),
      col("likes"),
      col("shares"),
      col("revenue").as("estimated_revenue"),
      col("cpm"),
      col("subs_gained").as("subscribers_gained"),
      col("subs_lost").as("subscribers_lost")), Seq("video_id"), "left")

  /** Stage 6 — scalar derivations (ref dataprocessing3.py): M/N local
    * date-time split, Z net subs, AA engagement, AB CPV, AC RPM, AD
    * CPM-category conditional. */
  def derive(staging: DataFrame, cpmCategories: Dim): DataFrame = {
    val ts = to_timestamp(col("published_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val local = from_utc_timestamp(ts, "Asia/Karachi")
    val views = coalesce(col("views"), lit(0L))
    val cpvCol = Metrics.cpv(coalesce(col("estimated_revenue"), lit(0.0)), views)
    val (from, cpm) = cpmCategories.lookup(staging, col("show_name"))
    extend(staging, from,
      "published_date_local" ->
        when(ts.isNull, lit("")).otherwise(date_format(local, "yyyy-MM-dd")),
      "published_time_local" ->
        when(ts.isNull, lit("")).otherwise(date_format(local, "HH:mm:ss")),
      "net_subscribers" ->
        Metrics.net(coalesce(col("subscribers_gained"), lit(0L)),
          coalesce(col("subscribers_lost"), lit(0L))),
      "engagement_rate" ->
        Metrics.engagementRate(coalesce(col("comments"), lit(0L)),
          coalesce(col("likes"), lit(0L)), coalesce(col("shares"), lit(0L)), views),
      "cpv" -> cpvCol,
      "rpm" -> Metrics.rpm(cpvCol),
      // AD: International News keeps its show name, else CPM-category
      // lookup with ""-on-miss (ref dataprocessing3.py:88-91).
      "cpm_category" ->
        when(col("category") === "International News", col("show_name"))
          .otherwise(blank(cpm("cpm_category"))))
  }

  /** Canonical A–AD (+ingest_seq) projection in reference column order. */
  def toCanonical(df: DataFrame): DataFrame = {
    val existing = df.columns.toSet
    val cols = Schemas.stagingColumns.map { c =>
      if (existing.contains(c)) col(c)
      else lit(null).cast(Schemas.staging(c).dataType).as(c)
    }
    df.select(cols: _*)
  }
}
