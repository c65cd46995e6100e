package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.Constraints
import graft.sources.{AnalyticsSource, Dim, DimLoader}

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

  /** The four dimensions of a [[Sources]], resolved for lookups. */
  private final case class Dims(channels: Dim, employees: Dim, shows: Dim,
      cpmCategories: Dim)

  /** `src`'s dimensions resolved ([[DimLoader.resolve]]), each reusing
    * `prior`'s resolution while `src` still holds that same frame (`eq`):
    * a stream's epochs resolve their dimensions once. */
  private def resolveDims(src: Sources, prior: Option[Dims]): Dims = {
    def dim(frame: DataFrame, key: String, was: Dims => Dim): Dim =
      prior.map(was).filter(_.frame eq frame)
        .getOrElse(DimLoader.resolve(frame, key))
    Dims(dim(src.channels, "channel_id", _.channels),
      dim(src.employees, "employee_code", _.employees),
      dim(src.shows, "code", _.shows),
      dim(src.cpmCategories, "shows_name", _.cpmCategories))
  }

  /** Stages 1–6 composed lazily into ONE Catalyst plan over the batch
    * alone (keep-last deduped within itself; no prior staged rows).
    * Writes nothing; the caller materializes. */
  private def epochFrame(src: Sources, dims: Dims,
      windowStartIso: String, windowEndIso: String): DataFrame = {
    val s1 = Stages.ingest(src.videos, dims.channels, windowStartIso, windowEndIso)
    val s2 = Stages.enrichTitleCode(s1, dims.employees)
    // MATERIALIZE the enriched frame once (guide §3.3 "materialising an
    // intermediate truncates the plan"): the owner pass below semi-joins
    // the facts against `ids` and the final merge embeds s3 again —
    // without the checkpoint the composed epoch plan carries two copies
    // of the scan→ingest→regex-enrich subtree, re-analyzed AND
    // re-executed every micro-batch (perfbench `epoch_stream`, traced:
    // the same 7 jobs per epoch, but 19.6 tasks and 122 kB shuffled
    // instead of 13.6 and 108 kB). An epoch is O(micro-batch), so the
    // checkpoint is bounded by trigger admission, never warehouse size.
    val s3 = Stages.enrichShow(s2, dims.shows).localCheckpoint()
    val ids = s3.select("video_id")
    val metrics = AnalyticsSource.metricsAcrossOwners(
      src.analyticsFacts, ids, src.contentOwners, withContentType = true)
    val s5 = Stages.mergeAnalytics(s3, metrics)
    Stages.toCanonical(Stages.derive(s5, dims.cpmCategories))
  }

  /** One epoch of `src` under resolved `dims`: see [[runEpoch]]. */
  private def drainEpoch(spark: SparkSession, src: Sources, dims: Dims,
      dirs: Dirs, windowStartIso: String, windowEndIso: String, loadSeq: Long,
      checks: Seq[(String, String)]): DataFrame =
    Constraints.drainChecked(spark,
      epochFrame(src, dims, windowStartIso, windowEndIso),
      dirs.warehouseDir, loadSeq, checks)

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
    * frame, typed (the warehouse stores it all-string). The call
    * resolves `src`'s dimensions once, on the driver. */
  def runEpoch(spark: SparkSession, src: Sources, dirs: Dirs,
      windowStartIso: String, windowEndIso: String, loadSeq: Long,
      checks: Seq[(String, String)]): DataFrame =
    drainEpoch(spark, src, resolveDims(src, None), dirs,
      windowStartIso, windowEndIso, loadSeq, checks)

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
    * own rows (the owner pass is one `video_id` exchange over the epoch's
    * facts). The dimensions are resolved on the first micro-batch and
    * reused while `srcFor` returns the same dimension frames, so a small
    * dimension is a map literal in every later epoch's plan and costs it
    * no job (a large one stays a broadcast join). State lives in the
    * source checkpoint only — the pipeline itself is stateless across
    * epochs by design (no staging carries rows between epochs, the
    * warehouse merge is read-side). */
  def streamEpochs(spark: SparkSession, videoStream: DataFrame,
      srcFor: DataFrame => Sources, dirs: Dirs,
      windowStartIso: String, windowEndIso: String,
      checks: Seq[(String, String)], checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var dims: Option[Dims] = None // the stream thread's alone
    videoStream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val src = srcFor(batch)
        val resolved = resolveDims(src, dims)
        dims = Some(resolved)
        drainEpoch(spark, src, resolved, dirs,
          windowStartIso, windowEndIso, loadSeq = id + 1, checks)
        ()
      }
      .start()
  }
}
