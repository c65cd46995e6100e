package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.{Pipeline, Schemas}

/** Demo consumer of the pipeline API: two overlapping epochs over the
  * committed fixtures, then a replay of the second to show idempotence.
  * `runMain graft.PipelineDemo` — prints the epoch and warehouse state a
  * reference user would compare against their sheet/BigQuery. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val fixtures = Option(getClass.getResource("/fixtures/channels.json"))
      .map(_.getPath.stripSuffix("/channels.json"))
      .getOrElse("src/test/resources/fixtures")
    val (ch, emp, sh, cpm) = Pipeline.loadDims(spark, fixtures)
    def videos(f: String) = spark.read.option("multiLine", "true")
      .schema(Schemas.videoRaw).json(s"$fixtures/$f")
    val facts = spark.read.option("multiLine", "true")
      .schema(Schemas.analyticsFacts).json(s"$fixtures/analytics_facts.json")
    def sources(f: String) = Pipeline.Sources(videos(f), ch, emp, sh, cpm,
      facts, Seq("owner1", "owner2", "owner3"))

    val root = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val dirs = Pipeline.Dirs(s"$root/staging", s"$root/warehouse")
    val checks = Seq("video_id_present" -> "video_id IS NOT NULL")

    println("=== epoch 1 (stages 1-6, checked and committed) ===")
    Pipeline.runEpoch(spark, sources("videos_epoch1.json"), dirs,
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", 1, checks)
      .select("video_id", "channel_name", "main_code", "code", "resource_name",
        "show_name", "cpm_category", "views", "avg_view_duration",
        "engagement_rate", "rpm", "published_time_local")
      .orderBy("video_id").show(20, truncate = false)

    println("=== epoch 2 (overlapping video v02 re-fetched) ===")
    Pipeline.runEpoch(spark, sources("videos_epoch2.json"), dirs,
      "2024-05-03T00:00:00Z", "2024-05-03T23:59:59Z", 2, checks)
    val wh = sinks.AtomicWarehouse.read(spark, dirs.warehouseDir, "video_id")
    println(s"warehouse rows=${wh.count()}")
    wh.select("video_id", "video_title", "views", "load_seq")
      .orderBy("video_id").show(20, truncate = false)

    println("=== replayed epoch 2 (crash-recovery idempotence) ===")
    Pipeline.runEpoch(spark, sources("videos_epoch2.json"), dirs,
      "2024-05-03T00:00:00Z", "2024-05-03T23:59:59Z", 2, checks)
    println("warehouse rows after replay=" +
      sinks.AtomicWarehouse.read(spark, dirs.warehouseDir, "video_id").count() +
      s" version=${sinks.AtomicWarehouse.currentVersion(spark, dirs.warehouseDir)}")
    spark.stop()
  }
}
