package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.sinks.AtomicWarehouse
import graft.text.NearDup

/** Round-4 widening, part 54: adversarial-scale dedup hardening. */
object Extended54 {

  private val boiler =
    "standard boilerplate terms of service apply to all content on this page"

  /** D22 — LSH hot-bucket cap under adversarial collision density: the
    * corpus is `documents` with every 7th doc's text REPLACED by one fixed
    * boilerplate string, planting a degenerate bucket holding ~n/7 of the
    * corpus in EVERY band (the real-world failure mode: empty pages, UI
    * chrome, license headers). Uncapped, that bucket alone contributes
    * O((n/7)²) candidate pairs per band — the quadratic blowup that turns
    * LSH into all-pairs at 100 TB. With `maxBucket = 5`, each (band,
    * bucket) keeps the 5 members with the smallest md5(band ‖ ":cap:" ‖
    * id) rank — deterministic, engine-portable, and band-dependent so
    * each band samples a different 5 — bounding the hot bucket at
    * C(5,2) = 10 pairs per band while genuine small-bucket near-dup pairs
    * are untouched. The oracle mirrors the ranked truncation exactly
    * (row_number over the same md5 key), so the hash check pins both the
    * SELECTION and the pair set, not just the count.
    *
    * Shape at scale: the cap is applied before collect_list via a window
    * on the same (band, h) partitioning the bucket groupBy needs — one
    * shuffle total, and no bucket array ever exceeds the cap
    * (`NearDup.lshCandidatesFromSigs`). */
  val d22BucketCap = q("d22_lsh_bucket_cap",
    s"""WITH docs2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 7 = 0 THEN '$boiler' ELSE text END AS text
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM docs2),
       |sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |              ELSE list_transform(generate_series(1, len(t) - 2),
       |                                  i -> array_to_string(t[i:i+2], ' ')) END AS shingles
       |  FROM tok),
       |sigs AS (
       |  SELECT doc_id, u.band,
       |         md5(list_min(list_transform(shingles, s -> md5(u.band || ':' || s)))) AS h
       |  FROM sh CROSS JOIN range(0, 8) u(band)),
       |ranked AS (
       |  SELECT doc_id, band, h,
       |         row_number() OVER (
       |           PARTITION BY band, h
       |           ORDER BY md5(CAST(band AS VARCHAR) || ':cap:' || CAST(doc_id AS VARCHAR)),
       |                    doc_id) AS rk
       |  FROM sigs),
       |kept AS (SELECT doc_id, band, h FROM ranked WHERE rk <= 5)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_bands
       |FROM kept a JOIN kept b ON a.band = b.band AND a.h = b.h
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, lit(boiler)).otherwise(col("text")).as("text"))
    NearDup.lshCandidates(docs, "doc_id", col("text"), n = 3, k = 8, bands = 8,
      maxBucket = 5)
  }

  private val drainOracle =
    """WITH e1 AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
      |         c_mktsegment, CAST(c_nationkey AS VARCHAR) AS c_nationkey,
      |         CAST(1 AS BIGINT) AS load_seq
      |  FROM customer),
      |e2 AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
      |         'REFETCHED' AS c_mktsegment, CAST(c_nationkey AS VARCHAR) AS c_nationkey,
      |         CAST(2 AS BIGINT) AS load_seq
      |  FROM customer WHERE c_nationkey < 10),
      |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
      |SELECT c_custkey, c_name, c_mktsegment, c_nationkey, load_seq FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |                               ORDER BY load_seq DESC) AS rn
      |  FROM u) WHERE rn = 1""".stripMargin

  /** C15 — the reference's SCHEDULED INCREMENTAL identity (Airflow fires
    * the same DAG twice a day, each run ingesting only what arrived since
    * the last: dags/Dashboard-pipeline.py:26, dataingestion1.py:118-121)
    * executed by the streaming engine: a `Trigger.AvailableNow` file
    * stream over an "incoming" directory drains to staging via
    * foreachBatch, then the AtomicWarehouse drain (K6 load, W2 last-wins
    * read, K7 truncate) runs — twice, with
    * new files landing between the runs. The CHECKPOINT is what's under
    * test: epoch 2 restarts the stream from the same checkpoint and must
    * process only the files epoch 1 hadn't committed — the incremental
    * contract the reference gets from its "fetch since last run" logic.
    * The final warehouse is hash-checked against the batch two-epoch
    * oracle (c3's shape), so discovery, checkpoint replay-exclusion, and
    * the keyed last-wins merge must all line up.
    *
    * Scale: AvailableNow is the production shape for scheduled
    * incremental ingestion — file discovery is listing-cost, each run
    * processes only the delta, state lives in the checkpoint, and the
    * same code deploys unchanged as a continuous `readStream` (the
    * trigger is config, not architecture). */
  val c15AvailableNow = q("c15_availablenow_epochs", drainOracle) { (s, d) =>
    val base = freshScratch("c15")
    val incoming = s"$base/incoming"; val staging = s"$base/staging"
    val warehouse = s"$base/warehouse"; val ckpt = s"$base/ckpt"
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")

    def runEpoch(loadSeq: Long): Unit = {
      val stream = s.readStream.schema(cust.schema).parquet(incoming)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(staging)
        }
        .start()
      stream.awaitTermination()
      AtomicWarehouse.drain(s, staging, warehouse, loadSeq)
    }

    cust.write.mode("append").parquet(incoming) // epoch-1 files land
    runEpoch(1L)
    cust.where(col("c_nationkey") < 10) // epoch-2 delta arrives
      .withColumn("c_mktsegment", lit("REFETCHED"))
      .write.mode("append").parquet(incoming)
    runEpoch(2L)
    AtomicWarehouse.read(s, warehouse, "c_custkey")
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey", "load_seq")
  }

  /** C16 — atomic warehouse commit + crash recovery as a battery entry:
    * epoch 1 drains through [[graft.sinks.AtomicWarehouse]] (per-epoch
    * delta dir + manifest-rename commit); epoch 2 CRASHES after its data
    * dir is written but before the manifest rename — the reader-visible
    * snapshot provably still equals epoch 1 (asserted in-query) because
    * an uncommitted epoch is invisible by construction, not because a
    * dedup pass cleaned it up. Recovery is re-running the same drain;
    * the result hash-checks against the batch two-epoch oracle. This is
    * the transactionality the reference's BigQuery sink provides
    * server-side (ingestdatainbigquery.py:49-99), modeled with the one
    * atomic primitive parquet-over-filesystem has: single-file rename.
    *
    * Scale: commit cost is O(epoch delta) + one rename regardless of
    * warehouse size — the full-rewrite dedup moves from every write to
    * the read-side merge (W2's window, one key shuffle), where compaction
    * amortizes it. */
  val c16AtomicRecovery = q("c16_atomic_recovery", drainOracle) { (s, d) =>
    import graft.sinks.Warehouse
    val base = freshScratch("c16")
    val staging = s"$base/staging"; val warehouse = s"$base/warehouse"
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    cust.write.mode("overwrite").parquet(staging)
    AtomicWarehouse.drain(s, staging, warehouse, 1L)

    val delta = cust.where(col("c_nationkey") < 10)
      .withColumn("c_mktsegment", lit("REFETCHED"))
    delta.write.mode("overwrite").parquet(staging)
    // crash injection: epoch-2 data lands, manifest rename never happens
    Warehouse.allString(Warehouse.sanitizeColumns(s.read.parquet(staging)))
      .withColumn("load_seq", lit(2L))
      .write.mode("overwrite").parquet(s"$warehouse/epoch_2")
    val visible = AtomicWarehouse.read(s, warehouse, "c_custkey")
    require(visible.agg(max("load_seq")).head.getLong(0) == 1L,
      "uncommitted epoch leaked into a reader snapshot")
    // recovery: the same drain, re-run
    AtomicWarehouse.drain(s, staging, warehouse, 2L)
    AtomicWarehouse.read(s, warehouse, "c_custkey")
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey", "load_seq")
  }

  val all: Seq[Q] = Seq(d22BucketCap, c15AvailableNow, c16AtomicRecovery)
}
