package graft.pipeline

import graft.SparkSuite
import graft.sinks.{AtomicWarehouse, ConstraintViolationException}
import graft.sources.DimLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end epoch tests over the committed fixtures (FIXTURES.md §1):
  * two overlapping epochs, stage goldens, warehouse-commit idempotence,
  * and the streamed epochs' refusal/restart contract. */
class PipelineSpec extends SparkSuite {

  private def videos(name: String): DataFrame =
    spark.read.option("multiLine", "true").schema(Schemas.videoRaw)
      .json(fixture(name))

  private def facts: DataFrame =
    spark.read.option("multiLine", "true").schema(Schemas.analyticsFacts)
      .json(fixture("analytics_facts.json"))

  private def sources(videoFile: String): Pipeline.Sources = {
    val dimDir = fixture("channels.json").stripSuffix("/channels.json")
    val (ch, emp, sh, cpm) = Pipeline.loadDims(spark, dimDir)
    Pipeline.Sources(videos(videoFile), ch, emp, sh, cpm, facts,
      Seq("owner1", "owner2", "owner3"))
  }

  private val idPresent = Seq("video_id_present" -> "video_id IS NOT NULL")

  private def tmpDirs(): Pipeline.Dirs = {
    val root = Files.createTempDirectory("graft_pipe").toString
    Pipeline.Dirs(s"$root/staging", s"$root/warehouse")
  }

  test("dim loader: duplicate channel ids resolve last-wins") {
    val dimDir = fixture("channels.json").stripSuffix("/channels.json")
    val ch = DimLoader.loadDim(spark, s"$dimDir/channels.json",
      Schemas.channels, "channel_id")
    val m = ch.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("UC001") == "News One HD") // second occurrence wins
    assert(m.size == 4)
  }

  test("epoch 1: full A-AD derivation goldens") {
    val dirs = tmpDirs()
    val epoch = Pipeline.runEpoch(spark, sources("videos_epoch1.json"),
      dirs, "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", loadSeq = 1, idPresent)
    val rows = epoch.collect().map(r => r.getAs[String]("video_id") -> r).toMap

    // window filter: v07 (June) excluded
    assert(!rows.contains("v07") && rows.size == 6)

    val v1 = rows("v01")
    assert(v1.getAs[String]("channel_name") == "News One HD") // last-wins dim
    assert(v1.getAs[String]("main_code") == "ABC4")
    assert(v1.getAs[String]("code") == "AB")
    assert(v1.getAs[String]("resource_code") == "4")
    assert(v1.getAs[String]("resource_name") == "Digit Squad")
    assert(v1.getAs[String]("show_name") == "Morning News")
    assert(v1.getAs[String]("category") == "International News")
    // International News keeps show name as cpm_category (J4/F18)
    assert(v1.getAs[String]("cpm_category") == "Morning News")
    assert(v1.getAs[Long]("views") == 1000L)
    assert(v1.getAs[Double]("watch_time_hours") == 83.33)
    assert(v1.getAs[String]("avg_view_duration") == "0:04:31")
    assert(v1.getAs[Long]("net_subscribers") == 17L)
    assert(v1.getAs[Double]("engagement_rate") == 6.5)   // (10+50+5)/1000*100
    assert(v1.getAs[Double]("cpv") == 0.0255)
    assert(v1.getAs[Double]("rpm") == 25.5)
    assert(v1.getAs[String]("published_date_local") == "2024-05-01")
    assert(v1.getAs[String]("published_time_local") == "11:30:00") // +05:00

    val v2 = rows("v02")
    assert(v2.getAs[String]("show_name") == "Evening Talk v2") // dup code last-wins
    assert(v2.getAs[String]("cpm_category") == "Premium")
    assert(v2.getAs[String]("avg_view_duration") == "1 day, 1:01:01") // 90061s
    assert(v2.getAs[Long]("net_subscribers") == -4L)

    // v03: all-digit title purge, zero views guards
    val v3 = rows("v03")
    assert(v3.getAs[String]("main_code") == "")
    assert(v3.getAs[Double]("engagement_rate") == 0.0)
    assert(v3.getAs[Double]("cpv") == 0.0)

    // v04: unknown channel default; no analytics → nulls survive
    val v4 = rows("v04")
    assert(v4.getAs[String]("channel_name") == "Unknown Channel")
    assert(v4.isNullAt(v4.fieldIndex("views")))

    // v05: anti-join owner loop — owner1 wins over owner3
    assert(rows("v05").getAs[Long]("views") == 100L)
  }

  test("epoch 2 after epoch 1: keep-last dedup on re-fetched video") {
    val dirs = tmpDirs()
    Pipeline.runEpoch(spark, sources("videos_epoch1.json"), dirs,
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", loadSeq = 1, idPresent)
    Pipeline.runEpoch(spark, sources("videos_epoch2.json"), dirs,
      "2024-05-03T00:00:00Z", "2024-05-03T23:59:59Z", loadSeq = 2, idPresent)
    // keep-last across epochs is the warehouse's last-wins read
    val titles = AtomicWarehouse.read(spark, dirs.warehouseDir, "video_id")
      .collect()
      .map(r => r.getAs[String]("video_id") -> r.getAs[String]("video_title")).toMap
    assert(titles("v02") == "Evening Talk RERUN | K6A") // keep-last
    assert(titles.contains("v08") && titles.size == 7)
  }

  test("warehouse drain: all-string, dedup, no staging dir, idempotent replay") {
    val dirs = tmpDirs()
    def run() = Pipeline.runEpoch(spark, sources("videos_epoch1.json"), dirs,
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", 1, idPresent)
    run()
    val wh = AtomicWarehouse.read(spark, dirs.warehouseDir, "video_id")
    assert(wh.schema.fields.filter(_.name != "load_seq")
      .forall(_.dataType.typeName == "string")) // F20
    assert(wh.count() == 6)
    // the epoch frame commits straight through: no staging copy to truncate
    assert(!new java.io.File(dirs.stagingDir).exists())

    // crash-replay: re-running the committed epoch seq leaves the
    // warehouse unchanged (idempotence, §2.9)
    run()
    assert(AtomicWarehouse.currentVersion(spark, dirs.warehouseDir) == 1L)
    assert(AtomicWarehouse.read(spark, dirs.warehouseDir, "video_id").count() == 6)
  }

  test("atomic epoch: a violating batch is refused, warehouse and manifest untouched") {
    val dirs = tmpDirs()
    // first epoch drains clean
    Pipeline.runEpoch(spark, sources("videos_epoch1.json"), dirs,
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", loadSeq = 1,
      checks = Seq("video_id_present" -> "video_id IS NOT NULL"))
    assert(graft.sinks.AtomicWarehouse.currentVersion(spark, dirs.warehouseDir) == 1L)
    val before = graft.sinks.AtomicWarehouse
      .read(spark, dirs.warehouseDir, "video_id").count()
    // second epoch declares an unsatisfiable constraint: refused BEFORE
    // anything reaches the warehouse; the first epoch stays intact
    val e = intercept[graft.sinks.ConstraintViolationException] {
      Pipeline.runEpoch(spark, sources("videos_epoch2.json"), dirs,
        "2024-05-03T00:00:00Z", "2024-05-03T23:59:59Z", loadSeq = 2,
        checks = Seq("impossible" -> "len < 0"))
    }
    assert(e.getMessage.contains("impossible"))
    assert(graft.sinks.AtomicWarehouse.currentVersion(spark, dirs.warehouseDir) == 1L)
    assert(graft.sinks.AtomicWarehouse
      .read(spark, dirs.warehouseDir, "video_id").count() == before)
    // fixing the constraint lets the SAME epoch seq proceed
    Pipeline.runEpoch(spark, sources("videos_epoch2.json"), dirs,
      "2024-05-03T00:00:00Z", "2024-05-03T23:59:59Z", loadSeq = 2,
      checks = Seq("video_id_present" -> "video_id IS NOT NULL"))
    assert(graft.sinks.AtomicWarehouse.currentVersion(spark, dirs.warehouseDir) == 2L)
  }

  /** The two fixture epochs as two day-files under `root`, one per
    * trigger (c30's driving shape), drained by [[Pipeline.streamEpochs]]
    * over a window (by default one holding both); rethrows the stream's
    * failure. */
  private def streamFixtureEpochs(root: String,
      checks: Seq[(String, String)],
      window: (String, String) = ("2024-05-01T00:00:00Z", "2024-05-03T23:59:59Z"))
      : Unit = {
    val in = new java.io.File(s"$root/videos_in")
    if (!in.exists()) {
      in.mkdirs()
      val t0 = System.currentTimeMillis() - 120000L
      Seq("videos_epoch1.json", "videos_epoch2.json").zipWithIndex.foreach {
        case (f, i) =>
          val day = new java.io.File(in, s"day${i + 1}.json")
          Files.copy(java.nio.file.Paths.get(fixture(f)), day.toPath)
          day.setLastModified(t0 + i * 60000L)
      }
    }
    val stream = spark.readStream.schema(Schemas.videoRaw)
      .option("multiLine", "true").option("maxFilesPerTrigger", 1)
      .json(in.toString)
    val src = sources("videos_epoch1.json")
    Pipeline.streamEpochs(spark, stream, batch => src.copy(videos = batch),
      Pipeline.Dirs(s"$root/staging", s"$root/warehouse"),
      window._1, window._2, checks,
      s"$root/checkpoint").awaitTermination()
  }

  /** Spark jobs per micro-batch id of the streams `body` runs, read from
    * the batch id Spark puts on each job's local properties. */
  private def jobsPerBatch(body: => Unit): Map[Long, Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => batches.add(b.toLong))
    }
    spark.sparkContext.addSparkListener(listener)
    // jobsFiredBy drains the listener queue this listener shares
    try jobsFiredBy(body) finally spark.sparkContext.removeSparkListener(listener)
    batches.asScala.groupBy(identity).map { case (b, js) => b -> js.size }
  }

  private def snapshot(root: String): Set[Seq[Any]] =
    AtomicWarehouse.read(spark, s"$root/warehouse", "video_id")
      .collect().map(_.toSeq).toSet

  test("stream: a refused epoch restarts from its checkpoint to the straight-through warehouse") {
    val pass = Seq("video_id_present" -> "video_id IS NOT NULL")
    val straight = Files.createTempDirectory("graft_stream_ok").toString
    streamFixtureEpochs(straight, pass)
    val want = snapshot(straight)
    assert(want.size == 7) // v01-v06 from epoch 1, v02 re-fetched + v08

    // epoch 2 (the 05-03 day-file) violates: the stream fails on it with
    // epoch 1 committed and epoch 2's offsets logged but not committed
    val root = Files.createTempDirectory("graft_stream_refuse").toString
    val e = intercept[StreamingQueryException] {
      streamFixtureEpochs(root,
        Seq("before_may3" -> "published_at < '2024-05-03'"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ConstraintViolationException]), e)
    assert(AtomicWarehouse.currentVersion(spark, s"$root/warehouse") == 1L)

    // the restart replays epoch 2 from the checkpoint with passing checks
    streamFixtureEpochs(root, pass)
    assert(AtomicWarehouse.currentVersion(spark, s"$root/warehouse") == 2L)
    assert(snapshot(root) == want)
  }

  test("stream: micro-batches with every video outside the window commit empty epochs") {
    val root = Files.createTempDirectory("graft_stream_empty").toString
    streamFixtureEpochs(root, idPresent,
      window = ("2030-01-01T00:00:00Z", "2030-01-01T23:59:59Z"))
    assert(AtomicWarehouse.currentVersion(spark, s"$root/warehouse") == 2L)
    for (seq <- 1 to 2)
      assert(new java.io.File(s"$root/warehouse/epoch_$seq").isDirectory)
    val read = AtomicWarehouse.read(spark, s"$root/warehouse", "video_id")
    assert(read.count() == 0L)
    assert(read.columns.toSeq == Schemas.staging.fieldNames.toSeq :+ "load_seq")
  }

  test("one epoch's job graph: a pinned number of Spark jobs") {
    val src = sources("videos_epoch1.json")
    val n = jobsFiredBy {
      Pipeline.runEpoch(spark, src, tmpDirs(), "2024-05-01T00:00:00Z",
        "2024-05-02T23:59:59Z", loadSeq = 1, idPresent)
    }
    // 15 on this fixture (local[4], 4 shuffle partitions): 8 resolve the
    // four dims, once per call (each a last-wins dedup stage, then the
    // collect of its map), 2 build the enriched-frame checkpoint (the
    // keep-last stage, then the checkpoint), 3 run the rest of the epoch
    // plan (the id broadcast, the owner pass's exchange and the metrics
    // merge's), 1 is the checkpoint that pins the epoch frame and
    // observes its CHECK audit, and 1 is the commit's write. A per-owner
    // join loop, a separate audit aggregate or a dim join raises it.
    assert(n == 15, s"one epoch fired $n jobs")
  }

  test("a stream's epochs after the first: a pinned number of Spark jobs") {
    val perBatch = jobsPerBatch {
      streamFixtureEpochs(Files.createTempDirectory("graft_stream_jobs").toString,
        idPresent)
    }
    assert(perBatch.keySet == Set(0L, 1L), perBatch)
    // 7 (15 while every epoch deduped and broadcast the four dims again):
    // the first epoch resolves the dims into map literals, which the
    // later ones reuse
    assert(perBatch(1L) == 7, s"the second epoch fired ${perBatch(1L)} jobs")
  }
}
