package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{Pipeline, Schemas}

/** Round-6 widening, part 60: the reference's ENTIRE cron identity —
  * all 7 pipeline stages — executed end-to-end by the STREAMING ENGINE
  * as one hash-checked battery entry (c2 composes stages 4→7 in batch;
  * c15/c19 cover drain mechanics separately; this runs the whole thing
  * as the engine would in production).
  */
object Extended60 {

  /** The single declarative DuckDB replay of all 7 stages — shared by
    * c30 (straight-through run) and c35 (cold-stop + checkpoint resume):
    * both drivings must land the identical warehouse. */
  private val pipelineOracle: String =
    s"""WITH v AS (
       |  SELECT o_orderkey AS k,
       |         'v' || CAST(o_orderkey AS VARCHAR) AS video_id,
       |         CASE CAST(o_orderkey % 4 AS INTEGER)
       |           WHEN 0 THEN 'Show ' || CAST(o_orderkey AS VARCHAR)
       |                       || ' | AB' || CAST(o_orderkey % 10 AS VARCHAR)
       |           WHEN 1 THEN 'Clip ' || CAST(o_orderkey AS VARCHAR)
       |                       || ' | CDE' || CAST(o_orderkey % 10 AS VARCHAR)
       |           WHEN 2 THEN 'Ep ' || CAST(o_orderkey AS VARCHAR) || ' | 2024'
       |           ELSE 'Talk ' || CAST(o_orderkey AS VARCHAR) || ' | xyzw'
       |         END AS video_title,
       |         strftime(TIMESTAMP '2024-05-01 00:00:00'
       |                    + to_seconds(o_orderkey % 172800),
       |                  '%Y-%m-%dT%H:%M:%SZ') AS published_at,
       |         'ch' || CAST(o_custkey % 5 AS VARCHAR) AS channel_id,
       |         CAST(o_orderkey AS BIGINT) AS ingest_seq
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |ch AS (SELECT * FROM (VALUES
       |  ('ch0','Channel Zero'),('ch1','Channel One'),
       |  ('ch2','Channel Two'),('ch3','Channel Three'))
       |  AS t(channel_id, channel_name)),
       |emp AS (SELECT * FROM (VALUES
       |  ('0','Team Alpha'),('1','Team Beta'),('2','Team Gamma'),
       |  ('3','Team Delta'),('4','Digit Squad'),('5','Team Echo'))
       |  AS t(employee_code, team)),
       |sh AS (SELECT * FROM (VALUES
       |  ('AB0','Morning News','B0','International News'),
       |  ('AB1','World Brief','B1','International News'),
       |  ('AB2','Show AB2','B2','Entertainment'),
       |  ('AB3','Show AB3','B3','Entertainment'),
       |  ('AB4','Show AB4','B4','Sports'),
       |  ('CD','Daily Clips','BC','News'))
       |  AS t(code, show_name, broadcaster, category)),
       |cpmc AS (SELECT * FROM (VALUES
       |  ('Show AB2','Premium'),('Show AB3','Standard'),
       |  ('Daily Clips','News Basic'),('Morning News','ShouldNotAppear'))
       |  AS t(shows_name, cpm_category)),
       |s1 AS (
       |  SELECT v.*, coalesce(ch.channel_name, 'Unknown Channel') AS channel_name
       |  FROM v LEFT JOIN ch USING (channel_id)
       |  WHERE published_at >= '2024-05-01T00:00:00Z'
       |    AND published_at <= '2024-05-02T23:59:59Z'),
       |tc AS (
       |  SELECT *, regexp_extract(trim(replace(video_title, '|', ' ')),
       |                           '(\\S+)$$', 1) AS last_tok
       |  FROM s1),
       |mcx AS (
       |  SELECT *, CASE
       |      WHEN length(last_tok) NOT IN (3,4,5) THEN ''
       |      WHEN regexp_matches(last_tok, '^[0-9]+$$') THEN ''
       |      WHEN length(regexp_replace(last_tok, '[^a-z]', '', 'g')) > 1 THEN ''
       |      ELSE last_tok END AS main_code
       |  FROM tc),
       |s2 AS (
       |  SELECT mcx.*, length(main_code) AS len,
       |    CASE WHEN main_code = '' THEN ''
       |         WHEN length(main_code) = 4 THEN substr(main_code, 1, 2)
       |         ELSE substr(main_code, 1, 3) END AS code,
       |    CASE WHEN main_code = '' THEN ''
       |         ELSE substr(main_code, length(main_code), 1) END AS resource_code
       |  FROM mcx),
       |s2e AS (
       |  SELECT s2.*, coalesce(emp.team, '') AS resource_name
       |  FROM s2 LEFT JOIN emp ON s2.resource_code = emp.employee_code),
       |s3 AS (
       |  SELECT s2e.*, coalesce(sh.show_name, '') AS show_name,
       |         coalesce(sh.broadcaster, '') AS broadcaster,
       |         coalesce(sh.category, '') AS category
       |  FROM s2e LEFT JOIN sh USING (code)),
       |m1 AS ( -- owner1's grouped aggregate over its TWO fact rows (k%3==0)
       |  SELECT 'v' || CAST(k AS VARCHAR) AS vid, 'vod' AS content_type,
       |         CAST(20*(k%100) + 1 AS BIGINT) AS views,
       |         3.0*(k%50) + 1 AS minutes_watched,
       |         CAST((k%3600) + 1 AS BIGINT) AS avg_view_duration_s,
       |         CAST(2*(k%20) + 1 AS BIGINT) AS comments,
       |         CAST(2*(k%30) + 1 AS BIGINT) AS likes,
       |         CAST(2*(k%10) + 1 AS BIGINT) AS shares,
       |         5.0*(k%80) + 10 AS revenue,
       |         0.5*(k%16) + 0.5 AS cpm,
       |         CAST(2*(k%15) + 1 AS BIGINT) AS subs_gained,
       |         CAST(2*(k%7) + 1 AS BIGINT) AS subs_lost
       |  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
       |        WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 0)),
       |m2 AS ( -- owner2 serves only k%3==1 (its k%3==0 rows anti-join away)
       |  SELECT 'v' || CAST(k AS VARCHAR) AS vid, 'short' AS content_type,
       |         CAST(10*(k%100) AS BIGINT) AS views,
       |         1.5*(k%50) AS minutes_watched,
       |         CAST(k%3600 AS BIGINT) AS avg_view_duration_s,
       |         CAST(k%20 AS BIGINT) AS comments,
       |         CAST(k%30 AS BIGINT) AS likes,
       |         CAST(k%10 AS BIGINT) AS shares,
       |         2.5*(k%80) AS revenue,
       |         0.5*(k%16) AS cpm,
       |         CAST(k%15 AS BIGINT) AS subs_gained,
       |         CAST(k%7 AS BIGINT) AS subs_lost
       |  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
       |        WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 1)),
       |m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2),
       |s5 AS (
       |  SELECT s3.*, m.content_type, m.views,
       |         ${rnd("m.minutes_watched / 60.0", 2)} AS watch_time_hours,
       |         CASE WHEN m.vid IS NULL THEN NULL ELSE
       |           CAST(m.avg_view_duration_s // 3600 AS VARCHAR) || ':' ||
       |           lpad(CAST((m.avg_view_duration_s % 3600) // 60 AS VARCHAR), 2, '0')
       |           || ':' ||
       |           lpad(CAST(m.avg_view_duration_s % 60 AS VARCHAR), 2, '0')
       |         END AS avg_view_duration,
       |         m.comments, m.likes, m.shares,
       |         m.revenue AS estimated_revenue, m.cpm,
       |         m.subs_gained AS subscribers_gained,
       |         m.subs_lost AS subscribers_lost
       |  FROM s3 LEFT JOIN m ON s3.video_id = m.vid),
       |s6 AS (
       |  SELECT s5.*,
       |    strftime(strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
       |               + INTERVAL 5 HOUR, '%Y-%m-%d') AS published_date_local,
       |    strftime(strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
       |               + INTERVAL 5 HOUR, '%H:%M:%S') AS published_time_local,
       |    coalesce(subscribers_gained, 0) - coalesce(subscribers_lost, 0)
       |      AS net_subscribers,
       |    ${rnd("CASE WHEN coalesce(views, 0) > 0 THEN " +
         "((coalesce(comments,0) + coalesce(likes,0) + coalesce(shares,0)) " +
         "/ views) * 100 ELSE 0.0 END", 2)} AS engagement_rate,
       |    ${rnd("CASE WHEN coalesce(views, 0) > 0 THEN " +
         "coalesce(estimated_revenue, 0.0) / views ELSE 0.0 END", 6)} AS cpv
       |  FROM s5),
       |s6r AS (
       |  SELECT s6.*, ${rnd("cpv * 1000", 2)} AS rpm FROM s6),
       |s6c AS (
       |  SELECT s6r.*, CASE WHEN category = 'International News' THEN show_name
       |                ELSE coalesce(cpmc.cpm_category, '') END AS cpm_category
       |  FROM s6r LEFT JOIN cpmc ON s6r.show_name = cpmc.shows_name)
       |SELECT video_id, video_title, channel_name, published_at, main_code,
       |  CAST(len AS VARCHAR) AS len, code, resource_code, resource_name,
       |  show_name, broadcaster, category,
       |  published_date_local, published_time_local, content_type,
       |  CAST(views AS VARCHAR) AS views,
       |  CAST(watch_time_hours AS VARCHAR) AS watch_time_hours,
       |  avg_view_duration,
       |  CAST(comments AS VARCHAR) AS comments,
       |  CAST(likes AS VARCHAR) AS likes,
       |  CAST(shares AS VARCHAR) AS shares,
       |  CAST(estimated_revenue AS VARCHAR) AS estimated_revenue,
       |  CAST(cpm AS VARCHAR) AS cpm,
       |  CAST(subscribers_gained AS VARCHAR) AS subscribers_gained,
       |  CAST(subscribers_lost AS VARCHAR) AS subscribers_lost,
       |  CAST(net_subscribers AS VARCHAR) AS net_subscribers,
       |  CAST(engagement_rate AS VARCHAR) AS engagement_rate,
       |  CAST(cpv AS VARCHAR) AS cpv,
       |  CAST(rpm AS VARCHAR) AS rpm,
       |  cpm_category,
       |  CAST(ingest_seq AS VARCHAR) AS ingest_seq
       |FROM s6c""".stripMargin

  /** Everything a pipeline driving needs: the two epoch day-files under
    * `<base>/videos_in`, the dim DataFrames, the facts table, and the
    * declared CHECK constraints. Derivations are pure functions of
    * `orders` — identical for every driving of the same sf dir. */
  private def buildPipelineFixture(s: org.apache.spark.sql.SparkSession,
      d: String, base: String,
      viaConnector: Boolean = false): (String, DataFrame => Pipeline.Sources,
        Seq[(String, String)]) = {
    import s.implicits._
    val videosDir = s"$base/videos_in"
    new java.io.File(videosDir).mkdirs()
    val k = col("o_orderkey")
    val vids = Tables.orders(s, d).where(k % 5 === 0)
      .select(
        concat(lit("v"), k.cast("string")).as("video_id"),
        when(k % 4 === 0, concat(lit("Show "), k.cast("string"),
            lit(" | AB"), (k % 10).cast("string")))
          .when(k % 4 === 1, concat(lit("Clip "), k.cast("string"),
            lit(" | CDE"), (k % 10).cast("string")))
          .when(k % 4 === 2, concat(lit("Ep "), k.cast("string"), lit(" | 2024")))
          .otherwise(concat(lit("Talk "), k.cast("string"), lit(" | xyzw")))
          .as("video_title"),
        date_format(timestamp_seconds(lit(1714521600L) + k % 172800),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("published_at"),
        concat(lit("ch"), (col("o_custkey") % 5).cast("string")).as("channel_id"),
        k.cast("long").as("ingest_seq"),
        (k % 172800).as("pubsec"))

    if (viaConnector) {
      // the videos land through the DSv2 sink's two-phase manifest
      // commit — the stream reader then resolves the committed part set
      vids.drop("pubsec").repartition(3)
        .write.format("graft-videos").option("path", videosDir)
        .mode("append").save()
    } else {
      // two epoch files — the "two cron runs"; mtimes order the replay
      // (the hash is order-free anyway; see scaladoc)
      def writeDay(dfv: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/tmp_$name"
        dfv.coalesce(1).write.mode("overwrite").json(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-")).head
        val dst = new java.io.File(videosDir, s"$name.json")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }
      val t0 = System.currentTimeMillis() - 120000
      writeDay(vids.where(col("pubsec") < 86400).drop("pubsec"), "day1", t0)
      writeDay(vids.where(col("pubsec") >= 86400).drop("pubsec"), "day2", t0 + 60000)
    }

    val channels = Seq(("ch0", "Channel Zero"), ("ch1", "Channel One"),
      ("ch2", "Channel Two"), ("ch3", "Channel Three"))
      .toDF("channel_id", "channel_name")
    val employees = Seq(("Team Alpha", "0"), ("Team Beta", "1"),
      ("Team Gamma", "2"), ("Team Delta", "3"), ("Digit Squad", "4"),
      ("Team Echo", "5")).toDF("team", "employee_code")
    val shows = Seq(
      ("AB0", "Morning News", "B0", "International News"),
      ("AB1", "World Brief", "B1", "International News"),
      ("AB2", "Show AB2", "B2", "Entertainment"),
      ("AB3", "Show AB3", "B3", "Entertainment"),
      ("AB4", "Show AB4", "B4", "Sports"),
      ("CD", "Daily Clips", "BC", "News"))
      .toDF("code", "show_name", "broadcaster", "category")
    val cpmCats = Seq(("Show AB2", "Premium"), ("Show AB3", "Standard"),
      ("Daily Clips", "News Basic"), ("Morning News", "ShouldNotAppear"))
      .toDF("shows_name", "cpm_category")

    def factRows(owner: String, ctype: String, j: Int,
        pred: org.apache.spark.sql.Column) =
      Tables.orders(s, d).where(k % 5 === 0 && pred)
        .select(
          concat(lit("v"), k.cast("string")).as("video_id"),
          lit(owner).as("content_owner_id"),
          lit(ctype).as("content_type"),
          ((k % 100) * 10 + j).cast("long").as("views"),
          ((k % 50) * 1.5 + j).as("minutes_watched"),
          ((k % 3600) + j * 2).cast("long").as("avg_view_duration_s"),
          ((k % 20) + j).cast("long").as("comments"),
          ((k % 30) + j).cast("long").as("likes"),
          ((k % 10) + j).cast("long").as("shares"),
          ((k % 80) * 2.5 + j * 10).as("revenue"),
          ((k % 16) * 0.5 + j).as("cpm"),
          ((k % 15) + j).cast("long").as("subs_gained"),
          ((k % 7) + j).cast("long").as("subs_lost"))
    // materialized once per DRIVING, not re-scanned per epoch: every
    // micro-batch's plan embeds the facts table, so an un-checkpointed
    // 3-way orders-scan union would be re-analyzed and re-executed every
    // epoch (guide §3.3); the facts are invariant across epochs by
    // construction
    val facts = factRows("owner1", "vod", 0, k % 3 === 0)
      .unionByName(factRows("owner1", "vod", 1, k % 3 === 0))
      .unionByName(factRows("owner2", "short", 0, k % 3 <= 1))
      .localCheckpoint()

    val checks = Seq(
      "video_id_present" -> "video_id IS NOT NULL",
      "seq_nonneg" -> "ingest_seq >= 0",
      "published_in_window" ->
        "published_at >= '2024-05-01' AND published_at <= '2024-05-03'")
    (videosDir,
      batch => Pipeline.Sources(batch, channels, employees, shows, cpmCats,
        facts, Seq("owner1", "owner2")),
      checks)
  }

  private def startPipeline(s: org.apache.spark.sql.SparkSession,
      base: String, videosDir: String,
      srcFor: DataFrame => Pipeline.Sources,
      checks: Seq[(String, String)])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = s.readStream.schema(Schemas.videoRaw)
      .option("maxFilesPerTrigger", 1).json(videosDir)
    Pipeline.streamEpochs(s, stream, srcFor,
      Pipeline.Dirs(s"$base/staging", s"$base/warehouse"),
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", checks,
      s"$base/checkpoint")
  }

  private def warehouseResult(s: org.apache.spark.sql.SparkSession,
      base: String): DataFrame =
    graft.sinks.AtomicWarehouse.read(s, s"$base/warehouse", "video_id")
      .drop("load_seq")

  /** C30 — the full 7-stage pipeline epoch ON THE STREAMING ENGINE
    * (ref: dags/Dashboard-pipeline.py:20-40 — the twice-daily cron DAG):
    * a file-source video stream (two day-files, maxFilesPerTrigger=1)
    * drives [[graft.pipeline.Pipeline.streamEpochs]] under
    * `Trigger.AvailableNow` — each micro-batch runs ingest→title-code→
    * show-join→analytics-merge→derivations as ONE Catalyst plan,
    * materializes that epoch frame once, and commits it through a
    * CHECK-gated exactly-once drain into the AtomicWarehouse
    * ([[graft.sinks.Constraints.drainChecked]]: the audited frame is the
    * committed frame). The result is the warehouse snapshot
    * read: every stage's semantics — channel default, purge rules,
    * employee/show lookups, the 2-owner first-owner-wins metrics pass,
    * H:MM:SS rendering, +05:00 local split, rate derivations, the
    * International-News cpm override, and the all-string warehouse edge — must
    * hash-match the oracle's single declarative replay.
    *
    * Fixtures derive deterministically from `orders` (k = o_orderkey,
    * k%5==0 subset): title shape by k%4 (valid 3-char, valid 4-char,
    * all-digit purged, lowercase purged), channel ch0–ch4 (ch4 misses
    * the dim), publish time spread over 2024-05-01/02 (the two epoch
    * files), analytics facts per owner with k%3 coverage — owner1 holds
    * two fact rows for k%3==0 (exercising the grouped sum/avg), owner2
    * one row for k%3<=1, so owner2's k%3==0 rows MUST lose to owner1's
    * (their values differ — a broken owner attribution breaks the hash)
    * and k%3==2 videos keep null metrics through the merge.
    *
    * Epoch-assignment is order-free by construction (each video's
    * enrichment is a pure function of the video + static dims/facts;
    * `load_seq` is dropped), so the hash is deterministic however the
    * file source orders or coalesces its batches.
    *
    * Scale: the stream side never shuffles for the dims before the
    * commit (they are map lookups resolved on the first micro-batch),
    * per-epoch cost is the composed batch plan, and
    * the engine adds checkpointed offsets + idempotent epoch commits —
    * crash/retry semantics the reference's scripts lack entirely. */
  val c30StreamingPipelineEpoch = q("c30_streaming_pipeline_epoch",
    pipelineOracle) { (s, d) =>
    val base = freshScratch("c30")
    val (videosDir, srcFor, checks) = buildPipelineFixture(s, d, base)
    withShufflePartitions(s, 8) {
      startPipeline(s, base, videosDir, srcFor, checks).awaitTermination()
    }
    warehouseResult(s, base)
  }

  /** C35 — the streaming pipeline COLD-STOPPED at an arbitrary point and
    * RESUMED from its checkpoint: the first query object is stopped as
    * soon as any progress lands (possibly mid-epoch, possibly between
    * the warehouse commit and the offset commit); a NEW query resumes
    * from the checkpoint alone and finishes the replay. Exactly-once
    * end-to-end falls out of the composition, not luck: a re-run
    * micro-batch recomputes its epoch frame from the same rows (no
    * staging dir carries state between runs), `AtomicWarehouse
    * .commitEpoch` no-ops the already-committed seq, and re-enrichment
    * is a pure recomputation — so the
    * final warehouse must hash-match c30's straight-through oracle
    * EXACTLY, wherever the stop landed. This is c26's restart contract
    * lifted from one operator to the reference's entire cron identity.
    *
    * Scale: recovery cost is checkpoint reload + one re-run epoch —
    * never a warehouse scan; the reference's scripts re-run the whole
    * day and double-append on crash. */
  val c35PipelineRestart = q("c35_pipeline_restart",
    pipelineOracle) { (s, d) =>
    val base = freshScratch("c35")
    val (videosDir, srcFor, checks) = buildPipelineFixture(s, d, base)
    withShufflePartitions(s, 8) {
      val q1 = startPipeline(s, base, videosDir, srcFor, checks)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q1.recentProgress.isEmpty && q1.isActive &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      q1.stop() // cold stop at an arbitrary point after first progress
      val q2 = startPipeline(s, base, videosDir, srcFor, checks)
      q2.awaitTermination() // recovery from the checkpoint alone
    }
    warehouseResult(s, base)
  }

  /** C38 — the DEEPEST composition in the battery: videos written
    * through the DSv2 sink's two-phase MANIFEST commit are streamed back
    * through the connector's MICRO_BATCH_READ path (VideoOffset cursor,
    * 2 admission-controlled epochs instead of c30's two day-files) and
    * each micro-batch runs the full 7-stage pipeline into the CHECK-
    * gated exactly-once AtomicWarehouse drain. Same oracle as c30/c35 —
    * the warehouse must be identical however the rows arrive, which is
    * precisely the engine claim: ingestion topology (file drops, API
    * polling, batch sizes) must never change query results.
    *
    * Scale: this is the production wiring end-to-end — connector commit
    * protocol → checkpointed cursor → bounded epochs → atomic drains —
    * with every hop's crash story individually spec-pinned. */
  val c38PipelineFromConnector = q("c38_pipeline_from_connector",
    pipelineOracle) { (s, d) =>
    val base = freshScratch("c38")
    val (videosDir, srcFor, checks) =
      buildPipelineFixture(s, d, base, viaConnector = true)
    val total = s.read.format("graft-videos").option("path", videosDir)
      .load().count()
    withShufflePartitions(s, 8) {
      val stream = s.readStream.format("graft-videos")
        .option("path", videosDir)
        // 2 epochs: the multi-epoch admission contract is already exercised
        // at >2 epochs by the connector's own specs; the battery entry only
        // needs >1 epoch for the cursor/commit story, and each extra
        // micro-batch is pure trigger+checkpoint wall-clock (this was the
        // single biggest battery line item and the round-15 driver bench
        // timed out)
        .option("maxRowsPerBatch", math.max(1L, (total + 1) / 2).toString)
        .load()
      Pipeline.streamEpochs(s, stream, srcFor,
        Pipeline.Dirs(s"$base/staging", s"$base/warehouse"),
        "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z", checks,
        s"$base/checkpoint").awaitTermination()
    }
    warehouseResult(s, base)
  }

  val all: Seq[Q] = Seq(c30StreamingPipelineEpoch, c35PipelineRestart,
    c38PipelineFromConnector)
}
