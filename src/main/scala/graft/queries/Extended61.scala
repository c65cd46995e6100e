package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.v2.WarehouseScan

/** Round-6 widening, part 61: the DSv2 sink's TRUNCATE commit through
  * the new part manifest, and zone-map stats surviving a compaction
  * fold — the two write-side paths round 6 added that had no battery
  * entry of their own yet.
  */
object Extended61 {

  /** S12 — DSv2 OVERWRITE through the part manifest: a first append
    * stages one video population, a truncate-mode write replaces it with
    * another in ONE manifest version ([[graft.sources.v2.PartManifest]]
    * — the prior parts become unreferenced, not half-deleted), and the
    * read-back sees exactly the second population. This is the
    * reference's sheet-clear-and-rewrite (ref: Python-pipeline/
    * dataingestion1.py:142 rewrites the staging sheet wholesale), which
    * in the scripts is a clear() + append with a torn window between
    * them; here the swap is a single atomic manifest publish
    * (VideoSinkSpec crash-injects the surrounding protocol).
    *
    * Scale: truncate cost is O(new parts) + one manifest line — the old
    * population is never touched (retention GC reclaims it), so
    * replacing a 100 TB staging set costs the new set's write, not a
    * delete storm. */
  val s12Dsv2WriteTruncate = q("s12_dsv2_write_truncate",
    """SELECT 'v' || CAST(o_orderkey AS VARCHAR) AS video_id,
      |       o_orderpriority AS video_title,
      |       'ch' || CAST(o_custkey % 7 AS VARCHAR) AS channel_id
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin) { (s, d) =>
    val dir = freshScratch("s12") + "/videos"
    def vids(prio: String) = Tables.orders(s, d)
      .where(col("o_orderpriority") === prio)
      .select(
        concat(lit("v"), col("o_orderkey").cast("string")).as("video_id"),
        col("o_orderpriority").as("video_title"),
        lit("2024-05-01T00:00:00Z").as("published_at"),
        concat(lit("ch"), (col("o_custkey") % 7).cast("string")).as("channel_id"),
        col("o_orderkey").cast("long").as("ingest_seq"))
    vids("2-HIGH").repartition(2)
      .write.format("graft-videos").option("path", dir).mode("append").save()
    vids("1-URGENT").repartition(3)
      .write.format("graft-videos").option("path", dir).mode("overwrite").save()
    s.read.format("graft-videos").option("path", dir).load()
      .select("video_id", "video_title", "channel_id")
  }

  /** C34 — zone-map stats SURVIVE COMPACTION: two May epochs fold into
    * one compacted dir whose manifest entry re-records per-column stats
    * over the folded rows; a later June epoch lands on top, and a June
    * range read must open ONLY the June epoch — the fold's May-bounded
    * stats keep pruning exactly as the originals did. Without re-stated
    * stats a compaction would silently turn every later range read into
    * a full scan (stat-less entries scan conservatively); this entry
    * pins that the maintenance pass preserves the read-path's pruning
    * power. Oracle: unpruned replay of all three epochs + filter.
    *
    * Scale: compaction is exactly when stats matter most — the folded
    * dir holds the bulk of the warehouse, and skipping it is the
    * difference between O(slice) and O(everything) for windowed reads. */
  val c34CompactionStats = q("c34_compaction_stats",
    """WITH base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name,
      |         CASE WHEN c_custkey % 4 = 3
      |              THEN '2024-06-' ELSE '2024-05-' END ||
      |           lpad(CAST(1 + c_custkey % 28 AS VARCHAR), 2, '0') AS pub
      |  FROM customer),
      |e1 AS (
      |  SELECT k AS c_custkey, c_name, pub, 'BASE' AS seg,
      |         CAST(1 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 <> 3),
      |e2 AS (
      |  SELECT k AS c_custkey, c_name, pub, 'REFETCHED' AS seg,
      |         CAST(2 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 <> 3 AND k % 28 < 7),
      |e3 AS (
      |  SELECT k AS c_custkey, c_name, pub, 'JUNE' AS seg,
      |         CAST(3 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 = 3),
      |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
      |SELECT c_custkey, c_name, pub, seg, load_seq FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |                               ORDER BY load_seq DESC) AS rn
      |  FROM u) WHERE rn = 1
      |  AND pub BETWEEN '2024-06-01' AND '2024-06-30'""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val wh = freshScratch("c34") + "/wh"
    val base = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
      concat(
        when(col("c_custkey") % 4 === 3, lit("2024-06-")).otherwise(lit("2024-05-")),
        lpad((lit(1) + col("c_custkey") % 28).cast("string"), 2, "0")).as("pub"))
    def ep(seq: Long, dfv: org.apache.spark.sql.DataFrame, seg: String): Unit =
      AtomicWarehouse.commitEpoch(s, wh,
        dfv.withColumn("seg", lit(seg)).withColumn("load_seq", lit(seq)),
        seq, statsKey = Some("c_custkey"), statsCols = Seq("pub"))
    ep(1L, base.where(col("c_custkey") % 4 =!= 3), "BASE")
    ep(2L, base.where(col("c_custkey") % 4 =!= 3 && col("c_custkey") % 28 < 7),
      "REFETCHED")
    AtomicWarehouse.compact(s, wh, "c_custkey",
      statsKey = Some("c_custkey"), statsCols = Seq("pub"))
    ep(3L, base.where(col("c_custkey") % 4 === 3), "JUNE")
    // the June window must open ONLY epoch_3: the compacted May fold's
    // re-stated stats exclude it from the scan
    val june = AtomicWarehouse.readRangeOn(s, wh, "c_custkey", "pub",
      "2024-06-01", "2024-06-30")
    val opened = WarehouseScan.of(june).flatMap(_.plannedEpochs())
    require(opened == Seq("epoch_3"),
      s"compacted stats failed to prune: planned $opened")
    june.select("c_custkey", "c_name", "pub", "seg", "load_seq")
  }

  /** C36 — TWO-LEVEL pruning on a hive-partitioned atomic warehouse:
    * each epoch dir is laid out `month=<val>/` (commitEpoch's
    * `partitionBy`), so a month-window range read prunes twice — the
    * manifest zone map skips whole epochs (the June epoch is never
    * opened), and INSIDE each scanned epoch the predicate reaches
    * Spark's PartitionFilters so only matching month subdirs are even
    * listed (AtomicWarehouseSpec pins the PartitionFilters plan shape;
    * this required pushing the range predicate BELOW the merge window,
    * sound because the filtered column is version-stable per key). The
    * oracle replays all epochs unpruned and filters.
    *
    * Scale: this is the reference's publishedAfter/Before window at
    * warehouse granularity — at 100 TB the read cost is
    * O(matching months of matching epochs), with everything else never
    * touching the file listing, let alone the data. */
  val c36PartitionedEpochs = q("c36_partitioned_epochs",
    """WITH base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name,
      |         CASE WHEN c_custkey % 4 = 3 THEN '2024-06'
      |              WHEN c_custkey % 2 = 0 THEN '2024-04'
      |              ELSE '2024-05' END AS month
      |  FROM customer),
      |e1 AS (
      |  SELECT k AS c_custkey, c_name, month, 'BASE' AS seg,
      |         CAST(1 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 <> 3),
      |e2 AS (
      |  SELECT k AS c_custkey, c_name, month, 'REFETCHED' AS seg,
      |         CAST(2 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 <> 3 AND k % 28 < 7),
      |e3 AS (
      |  SELECT k AS c_custkey, c_name, month, 'JUNE' AS seg,
      |         CAST(3 AS BIGINT) AS load_seq
      |  FROM base WHERE k % 4 = 3),
      |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
      |SELECT c_custkey, c_name, month, seg, load_seq FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |                               ORDER BY load_seq DESC) AS rn
      |  FROM u) WHERE rn = 1 AND month BETWEEN '2024-05' AND '2024-05'""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val wh = freshScratch("c36") + "/wh"
    val base = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
      when(col("c_custkey") % 4 === 3, lit("2024-06"))
        .when(col("c_custkey") % 2 === 0, lit("2024-04"))
        .otherwise(lit("2024-05")).as("month"))
    def ep(seq: Long, dfv: org.apache.spark.sql.DataFrame, seg: String): Unit =
      AtomicWarehouse.commitEpoch(s, wh,
        dfv.withColumn("seg", lit(seg)).withColumn("load_seq", lit(seq)),
        seq, statsKey = Some("c_custkey"), statsCols = Seq("month"),
        partitionBy = Seq("month"))
    ep(1L, base.where(col("c_custkey") % 4 =!= 3), "BASE")
    ep(2L, base.where(col("c_custkey") % 4 =!= 3 && col("c_custkey") % 28 < 7),
      "REFETCHED")
    ep(3L, base.where(col("c_custkey") % 4 === 3), "JUNE")
    AtomicWarehouse.readRangeOn(s, wh, "c_custkey", "month",
      "2024-05", "2024-05")
      .select("c_custkey", "c_name", "month", "seg", "load_seq")
  }

  /** C37 — the DSv2 connector's STREAMING READ path end-to-end: video
    * rows written through the connector's two-phase commit are read back
    * as a MICRO-BATCH STREAM (`readStream.format("graft-videos")`,
    * [[graft.sources.v2.VideoMicroBatchStream]]) under
    * `Trigger.AvailableNow` with admission control sized to 3 bounded
    * batches, feeding an incremental grouped aggregation whose COMPLETE-
    * mode result must equal the batch GROUP BY (the oracle). This
    * replaces the "production path is readStream" claim with an actual
    * engine execution: checkpointed VideoOffset cursor, per-batch
    * admission, state carried across micro-batches (VideoStreamSpec
    * additionally pins cold-restart cursor resume and stream-path
    * pushdown).
    *
    * Scale: the driver holds one cursor; each micro-batch ships O(batch)
    * rows; aggregation state is one row per channel — the continuous
    * deployment of the reference's poll-the-API loop. */
  val c37Dsv2StreamAgg = q("c37_dsv2_stream_agg",
    """SELECT 'ch' || CAST(o_custkey % 7 AS VARCHAR) AS channel_id,
      |       CAST(count(*) AS BIGINT) AS n_videos,
      |       max(strftime(TIMESTAMP '2020-01-01 00:00:00' + to_seconds(o_orderkey),
      |                    '%Y-%m-%dT%H:%M:%SZ')) AS latest_pub
      |FROM orders WHERE o_orderpriority = '2-HIGH'
      |GROUP BY 1""".stripMargin) { (s, d) =>
    val dir = freshScratch("c37") + "/videos"
    Tables.orders(s, d)
      .where(col("o_orderpriority") === "2-HIGH")
      .select(
        concat(lit("v"), col("o_orderkey").cast("string")).as("video_id"),
        col("o_orderpriority").as("video_title"),
        date_format(timestamp_seconds(lit(1577836800L) + col("o_orderkey")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("published_at"),
        concat(lit("ch"), (col("o_custkey") % 7).cast("string")).as("channel_id"),
        col("o_orderkey").cast("long").as("ingest_seq"))
      .repartition(3)
      .write.format("graft-videos").option("path", dir).mode("append").save()
    val total = s.read.format("graft-videos").option("path", dir).load().count()
    val sinkName = memorySinkName(s, "c37_stream_")
    withShufflePartitions(s, 4) {
      val query = s.readStream.format("graft-videos")
        .option("path", dir)
        // 3 bounded batches (was ~5): multi-batch admission + cursor
        // state are fully exercised at 3; extra micro-batches are pure
        // trigger+checkpoint wall-clock
        .option("maxRowsPerBatch", math.max(1L, (total + 2) / 3).toString)
        .load()
        .groupBy("channel_id")
        .agg(count(lit(1)).as("n_videos"),
          max(col("published_at")).as("latest_pub"))
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    s.table(sinkName).select("channel_id", "n_videos", "latest_pub")
  }

  /** C39 — BLOOM-FILTER point lookups on the atomic warehouse: three
    * epochs hold INTERLEAVED key populations (evens, odds, every-tenth
    * refetch) whose min/max ranges fully overlap — the zone map can
    * never prune — but each epoch's manifest entry carries a key bloom
    * ([[graft.sinks.AtomicWarehouse.commitEpoch]] `bloomKey`), so a
    * point read opens only epochs that might hold the key (no false
    * negatives; AtomicWarehouseSpec pins the exact scan lists). The
    * result unions three lookups: an odd key (one epoch opened), an
    * every-tenth key (refetch wins the merge), and an absent key (zero
    * rows). Oracle: the full unpruned merge filtered to those keys.
    *
    * Scale: this is the Delta/Iceberg file-bloom idea at the epoch
    * level — the case range stats can't touch (hash-distributed or
    * interleaved keys) goes from "open every epoch" to "open the one
    * that matters"; the manifest refuses filters past ~4 MB so huge
    * deltas degrade to conservative scans instead of bloated commits. */
  val c39BloomPointLookup = q("c39_bloom_point_lookup",
    """WITH e1 AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
      |         'EVEN' AS seg, CAST(1 AS BIGINT) AS load_seq
      |  FROM customer WHERE c_custkey % 2 = 0),
      |e2 AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
      |         'ODD' AS seg, CAST(2 AS BIGINT) AS load_seq
      |  FROM customer WHERE c_custkey % 2 = 1),
      |e3 AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
      |         'TEN' AS seg, CAST(3 AS BIGINT) AS load_seq
      |  FROM customer WHERE c_custkey % 10 = 0),
      |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
      |SELECT c_custkey, c_name, seg, load_seq FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |                               ORDER BY load_seq DESC) AS rn
      |  FROM u) WHERE rn = 1 AND c_custkey IN (7, 10)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val wh = freshScratch("c39") + "/wh"
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
    def ep(seq: Long, dfv: org.apache.spark.sql.DataFrame, seg: String): Unit =
      AtomicWarehouse.commitEpoch(s, wh,
        dfv.withColumn("seg", lit(seg)).withColumn("load_seq", lit(seq)),
        seq, statsKey = Some("c_custkey"), bloomKey = Some("c_custkey"))
    ep(1L, cust.where(col("c_custkey") % 2 === 0), "EVEN")
    ep(2L, cust.where(col("c_custkey") % 2 === 1), "ODD")
    ep(3L, cust.where(col("c_custkey") % 10 === 0), "TEN")
    val m = cust.agg(max("c_custkey")).head.getLong(0)
    // the bloom must beat the (fully-overlapping) range stats for key 7
    val opened = WarehouseScan.of(AtomicWarehouse.readPoint(s, wh,
      "c_custkey", 7L)).flatMap(_.plannedEpochs())
    require(opened.size < 3 && opened.contains("epoch_2"),
      s"bloom failed to prune the point scan: $opened")
    Seq(7L, 10L, m + 5000L)
      .map(AtomicWarehouse.readPoint(s, wh, "c_custkey", _))
      .reduce(_.unionByName(_))
      .select("c_custkey", "c_name", "seg", "load_seq")
  }

  val all: Seq[Q] = Seq(s12Dsv2WriteTruncate, c34CompactionStats,
    c36PartitionedEpochs, c37Dsv2StreamAgg, c39BloomPointLookup)
}
