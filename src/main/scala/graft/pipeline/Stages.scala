package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Metrics, TitleCode}
import graft.functions.SecondsToHms

/** The reference's 7 pipeline stages as pure DataFrame → DataFrame
  * functions (SURVEY.md §3). The inter-stage Google-Sheet handoff
  * disappears into Catalyst's logical plan; stages compose lazily and the
  * whole epoch optimizes as ONE plan ([[Pipeline.runEpoch]] materializes
  * it once per epoch with `localCheckpoint`, in memory, not on disk).
  */
object Stages {

  private def blank(c: Column): Column = coalesce(c, lit(""))

  /** Stage 1 — ingest (ref dataingestion1.py): window-filtered source scan
    * → broadcast channel join w/ "Unknown Channel" default → A–D
    * projection → union with prior staging → keep-last dedup. */
  def ingest(videos: DataFrame, channels: DataFrame, priorStaging: DataFrame,
      windowStartIso: String, windowEndIso: String): DataFrame = {
    val windowed = videos.where(
      col("published_at") >= windowStartIso && col("published_at") <= windowEndIso)
    val named = windowed
      .join(broadcast(channels), Seq("channel_id"), "left")
      .select(col("video_id"), col("video_title"),
        coalesce(col("channel_name"), lit("Unknown Channel")).as("channel_name"),
        col("published_at"), col("ingest_seq"))
    // new rows carry only A–D; remaining staging columns arrive null and
    // are filled by later stages (pd.concat-by-name == unionByName).
    val merged = priorStaging.unionByName(named, allowMissingColumns = true)
    Dedup.keepLast(merged, "video_id", col("ingest_seq"))
  }

  /** Stage 2 — title-code enrichment + employee join (ref dataingestion2.py):
    * E main_code, F len, G code, H resource_code, I resource_name. */
  def enrichTitleCode(staging: DataFrame, employees: DataFrame): DataFrame = {
    val withCode = staging
      .withColumn("main_code", TitleCode.mainCode(col("video_title")))
      .withColumn("len", length(col("main_code")))
      .withColumn("code", TitleCode.codePrefix(col("main_code")))
      .withColumn("resource_code", TitleCode.lastChar(col("main_code")))
    withCode
      .join(broadcast(employees.withColumnRenamed("employee_code", "resource_code")),
        Seq("resource_code"), "left")
      .withColumn("resource_name", blank(col("team")))
      .drop("team")
  }

  /** Stage 3 — show join (ref dataingestion3.py): J/K/L from the
    * (last-wins-deduped) show dim; misses → "". Stale J/K/L from a prior
    * epoch are recomputed (the reference rewrites the whole column block,
    * dataingestion3.py:63-67). */
  def enrichShow(staging: DataFrame, shows: DataFrame): DataFrame =
    staging
      .drop("show_name", "broadcaster", "category")
      .join(broadcast(shows), Seq("code"), "left")
      .withColumn("show_name", blank(col("show_name")))
      .withColumn("broadcaster", blank(col("broadcaster")))
      .withColumn("category", blank(col("category")))

  /** Stages 4–5 — analytics keyed update (ref dataprocessing.py:120-163):
    * left join staging ↔ metrics on video_id; rows with metrics get the
    * new values (coalesce(new, old)), rows without keep theirs; metric
    * rows absent from staging are dropped by the join. */
  def mergeAnalytics(staging: DataFrame, metrics: DataFrame): DataFrame = {
    val m = metrics.select(
      col("video_id"),
      col("content_type").as("u_content_type"),
      col("views").as("u_views"),
      round(col("minutes_watched") / 60.0, 2).as("u_watch_time_hours"),
      SecondsToHms.secondsToHms(col("avg_view_duration_s")).as("u_avg_view_duration"),
      col("comments").as("u_comments"),
      col("likes").as("u_likes"),
      col("shares").as("u_shares"),
      col("revenue").as("u_estimated_revenue"),
      col("cpm").as("u_cpm"),
      col("subs_gained").as("u_subscribers_gained"),
      col("subs_lost").as("u_subscribers_lost"))
    val joined = staging.join(m, Seq("video_id"), "left")
    val updates = Seq("content_type", "views", "watch_time_hours",
      "avg_view_duration", "comments", "likes", "shares",
      "estimated_revenue", "cpm", "subscribers_gained", "subscribers_lost")
    updates.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(s"u_$c"), col(c)))
    }.drop(updates.map("u_" + _): _*)
  }

  /** Stage 6 — scalar derivations (ref dataprocessing3.py): M/N local
    * date-time split, Z net subs, AA engagement, AB CPV, AC RPM, AD
    * CPM-category conditional. */
  def derive(staging: DataFrame, cpmCategories: DataFrame): DataFrame = {
    val ts = to_timestamp(col("published_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val local = from_utc_timestamp(ts, "Asia/Karachi")
    val views = coalesce(col("views"), lit(0L))
    val cpvCol = Metrics.cpv(coalesce(col("estimated_revenue"), lit(0.0)), views)
    val withDerived = staging
      .withColumn("published_date_local",
        when(ts.isNull, lit("")).otherwise(date_format(local, "yyyy-MM-dd")))
      .withColumn("published_time_local",
        when(ts.isNull, lit("")).otherwise(date_format(local, "HH:mm:ss")))
      .withColumn("net_subscribers",
        Metrics.net(coalesce(col("subscribers_gained"), lit(0L)),
          coalesce(col("subscribers_lost"), lit(0L))))
      .withColumn("engagement_rate",
        Metrics.engagementRate(coalesce(col("comments"), lit(0L)),
          coalesce(col("likes"), lit(0L)), coalesce(col("shares"), lit(0L)), views))
      .withColumn("cpv", cpvCol)
      .withColumn("rpm", Metrics.rpm(cpvCol))
    // AD: International News keeps its show name, else CPM-category lookup
    // with ""-on-miss (ref dataprocessing3.py:88-91).
    withDerived
      .join(broadcast(cpmCategories
        .withColumnRenamed("shows_name", "show_name")
        .withColumnRenamed("cpm_category", "u_cpm_category")),
        Seq("show_name"), "left")
      .withColumn("cpm_category",
        when(col("category") === "International News", col("show_name"))
          .otherwise(blank(col("u_cpm_category"))))
      .drop("u_cpm_category")
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
