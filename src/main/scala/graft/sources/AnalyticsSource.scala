package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local stand-in for the YouTube Analytics API — the remote endpoint IS
  * a grouped aggregate (group by video [+creatorContentType], 10 metrics,
  * filter to an id batch, sort -views, limit 500)
  * (ref: Python-pipeline/dataprocessing.py:76-103, dataprocessing2.py:76-103).
  *
  * Production would wrap the HTTP API in a DataSource V2 TableProvider
  * with SupportsPushDownFilters/RequiredColumns/TopN (each ≤500-id batch
  * = one InputPartition); this local implementation computes the same
  * aggregate over an `analytics_facts` table so the pipeline is testable
  * hermetically. The id filter is a semi join (not isin) so a 100 TB fact
  * table still prunes by broadcast.
  */
object AnalyticsSource {

  /** The reference's content-owner loop (dataprocessing.py:106-114:
    * each owner only fetches the ids no earlier owner returned) as ONE
    * relational pass: a video is served by the first owner, in `owners`
    * order, holding any fact row for it, and its metrics aggregate that
    * owner's rows only. The facts are filtered to the owners, semi-joined
    * once against a broadcast of `ids`, tagged with the owner's first
    * index in `owners`, grouped once by (video, owner index
    * [, content type]), and each video keeps the groups of its lowest
    * index (a window `min`). One hash partitioning on `video_id` serves
    * both the aggregate and the window, so the pass shuffles once.
    * `withContentType` mirrors dataprocessing2's extra dimension (:90). */
  def metricsAcrossOwners(facts: DataFrame, ids: DataFrame,
      owners: Seq[String], withContentType: Boolean): DataFrame = {
    require(owners.nonEmpty, "no content owners")
    val dims = if (withContentType) Seq("video_id", "content_type")
      else Seq("video_id")
    facts.where(col("content_owner_id").isin(owners: _*))
      .join(broadcast(ids.select(col("video_id"))), Seq("video_id"), "left_semi")
      .withColumn("__owner", array_position(
        array(owners.map(lit): _*), col("content_owner_id")))
      .repartition(col("video_id"))
      .groupBy((dims :+ "__owner").map(col): _*)
      .agg(
        sum("views").as("views"),
        sum("minutes_watched").as("minutes_watched"),
        avg("avg_view_duration_s").cast("long").as("avg_view_duration_s"),
        sum("comments").as("comments"),
        sum("likes").as("likes"),
        sum("shares").as("shares"),
        sum("revenue").as("revenue"),
        avg("cpm").as("cpm"),
        sum("subs_gained").as("subs_gained"),
        sum("subs_lost").as("subs_lost"))
      .withColumn("__first", min("__owner").over(Window.partitionBy("video_id")))
      .where(col("__owner") === col("__first"))
      .drop("__owner", "__first")
  }
}
