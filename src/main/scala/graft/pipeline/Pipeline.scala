package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.Constraints
import graft.sources.{AnalyticsSource, DimLoader}

/** End-to-end epoch runner — the reference's Airflow DAG
  * (ref: dags/Dashboard-pipeline.py) collapses into one composed Catalyst
  * plan per epoch: sources → 6 transform stages → CHECK-gated atomic
  * warehouse commit. Every epoch, batch ([[runEpoch]]) or streamed
  * ([[streamEpochs]]), commits its frame straight into
  * [[graft.sinks.AtomicWarehouse]]; the reference's staging "sheet" has
  * no parquet copy. Scheduling (2×/day cron) stays external, exactly
  * like the reference; `runDate`/window bounds are injected for
  * determinism.
  */
object Pipeline {

  final case class Sources(
      videos: DataFrame,       // Schemas.videoRaw
      channels: DataFrame,     // channel dim (already last-wins deduped)
      employees: DataFrame,
      shows: DataFrame,
      cpmCategories: DataFrame,
      analyticsFacts: DataFrame,
      contentOwners: Seq[String])

  final case class Dirs(stagingDir: String, warehouseDir: String)

  def loadDims(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    DimLoader.loadDim(spark, s"$dir/channels.json", Schemas.channels, "channel_id"),
    DimLoader.loadDim(spark, s"$dir/employees.json", Schemas.employees, "employee_code"),
    DimLoader.loadDim(spark, s"$dir/shows.json", Schemas.shows, "code"),
    DimLoader.loadDim(spark, s"$dir/cpm_categories.json", Schemas.cpmCategories, "shows_name"))

  /** Stages 1–6 composed lazily into ONE Catalyst plan over the batch
    * alone (keep-last deduped within itself; no prior staged rows).
    * Writes nothing; the caller materializes. */
  private def epochFrame(spark: SparkSession, src: Sources,
      windowStartIso: String, windowEndIso: String): DataFrame = {
    val noPrior = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.staging)
    val s1 = Stages.ingest(src.videos, src.channels, noPrior,
      windowStartIso, windowEndIso)
    val s2 = Stages.enrichTitleCode(s1, src.employees)
    // MATERIALIZE the enriched frame once (guide §3.3 "materialising an
    // intermediate truncates the plan"): the owner pass below semi-joins
    // the facts against `ids` and the final merge embeds s3 again —
    // without the checkpoint the composed epoch plan carries two copies
    // of the scan→ingest→regex-enrich subtree, re-analyzed AND
    // re-executed every micro-batch (perfbench `epoch_stream`: 14 jobs
    // per epoch instead of 11). An epoch is O(micro-batch), so the
    // checkpoint is bounded by trigger admission, never warehouse size.
    val s3 = Stages.enrichShow(s2, src.shows).localCheckpoint()
    val ids = s3.select("video_id")
    val metrics = AnalyticsSource.metricsAcrossOwners(
      src.analyticsFacts, ids, src.contentOwners, withContentType = true)
    val s5 = Stages.mergeAnalytics(s3, metrics)
    Stages.toCanonical(Stages.derive(s5, src.cpmCategories))
  }

  /** One epoch: stages 1–6 as one plan, handed to
    * [[graft.sinks.Constraints.drainChecked]], which materializes it ONCE
    * (`localCheckpoint`, with the CHECK audit observed on that same
    * pass) and commits the pinned frame atomically into the
    * [[graft.sinks.AtomicWarehouse]]: the audited rows are the committed
    * rows; a violating batch aborts with the warehouse untouched. No
    * staging dir is read or written — `dirs.stagingDir` is unused. The
    * epoch has no prior staged rows: each epoch is its own batch,
    * keep-last deduped within itself, and keep-last ACROSS epochs is the
    * warehouse's last-wins read. Replaying a committed `loadSeq` is a
    * no-op. This is the reference's cron unit
    * (dags/Dashboard-pipeline.py:20-40) with the transactionality its
    * BigQuery sink provides server-side. Returns the committed epoch
    * frame, typed (the warehouse stores it all-string). */
  def runEpoch(spark: SparkSession, src: Sources, dirs: Dirs,
      windowStartIso: String, windowEndIso: String, loadSeq: Long,
      checks: Seq[(String, String)]): DataFrame =
    Constraints.drainChecked(spark,
      epochFrame(spark, src, windowStartIso, windowEndIso),
      dirs.warehouseDir, loadSeq, checks)

  /** The WHOLE pipeline on the STREAMING ENGINE: each micro-batch of
    * arriving videos runs one full [[runEpoch]] epoch — DSv2/file
    * source → stages 1–6 → CHECK-gated exactly-once AtomicWarehouse
    * drain — under whatever trigger the caller starts it with
    * (`Trigger.AvailableNow` reproduces the reference's cron cadence:
    * drain everything pending, then stop; a processing-time trigger
    * would be the continuous deployment). Checkpointed offsets make a
    * restarted run resume at the first unprocessed batch; a micro-batch
    * re-run around a crash or a refused CHECK recomputes the same epoch
    * from the same rows and re-commits the SAME epoch seq, which
    * [[graft.sinks.AtomicWarehouse.commitEpoch]] no-ops — exactly-once
    * per epoch end-to-end.
    *
    * The streaming path never writes `dirs.stagingDir`: each epoch
    * frame is checkpointed in memory, audited on that same pass and
    * committed as is.
    *
    * Scale: before the commit the stream side shuffles only the epoch's
    * own rows (dim joins are broadcasts; the owner pass is one
    * `video_id` exchange over the epoch's facts); per-epoch cost is the
    * batch pipeline's. State lives
    * in the source checkpoint only — the pipeline itself is stateless
    * across epochs by design (no staging carries rows between epochs,
    * the warehouse merge is read-side). */
  def streamEpochs(spark: SparkSession, videoStream: DataFrame,
      srcFor: DataFrame => Sources, dirs: Dirs,
      windowStartIso: String, windowEndIso: String,
      checks: Seq[(String, String)], checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    videoStream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        runEpoch(spark, srcFor(batch), dirs,
          windowStartIso, windowEndIso, loadSeq = id + 1, checks)
        ()
      }
      .start()
}
