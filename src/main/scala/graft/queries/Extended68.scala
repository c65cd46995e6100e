package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 widening, part 68: the maintenance story the fold-cost
  * adjudication priced, moved from prose into the engine — tombstone-
  * durable metadata COUNT, the enforced compaction cadence, and
  * byte-sized drain parts. (The reference gets all three for free from
  * BigQuery's managed storage — ref: Python-pipeline/
  * ingestdatainbigquery.py:49-76 — a log-structured warehouse has to
  * earn them.)
  */
object Extended68 {

  /** C65 — metadata-only COUNT(*) that SURVIVES TOMBSTONES: every
    * deferred purge records, at commit time, how many log-view rows it
    * NEWLY suppresses (per epoch, bloom/zone-pruned count of rows no
    * earlier tombstone already covers), so the connector answers
    * `SELECT count(*)` as Σ per-epoch exact row counts − Σ per-tombstone
    * suppression totals — zero data files opened. Round 10's probe
    * measured the gap this closes: 0.6 s manifest answer at T=0 versus
    * a 28 s full scan the moment ANY tombstone existed.
    *
    * Pinned in-query: the plan carries the COMPLETE agg pushdown
    * (`PushedAggregates`) with tombstones outstanding, and two
    * OVERLAPPING purges don't double-count (the second purge's total
    * only counts keys the first didn't suppress).
    *
    * Scale: an operator's `count(*)` against a 100 TB store stays a
    * manifest read at any tombstone count; the commit-time count is one
    * pruned job over only the epochs whose blooms may hold the keys. */
  val c65MetaCountSuppressed = q("c65_meta_count_suppressed",
    """WITH src AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
      |log AS (SELECT k FROM src UNION ALL SELECT k FROM src WHERE k % 4 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n FROM log
      |WHERE k NOT IN (3, 8, 11)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val dir = s"${freshScratch("c65")}/wh"
    val src = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"), col("c_name"))
    AtomicWarehouse.commitEpoch(s, dir,
      src.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 4 === 0)
        .withColumn("c_name", concat(lit("AUD-"), col("c_name")))
        .withColumn("load_seq", lit(2L)), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))
    // two OVERLAPPING deferred purges: 8 appears in both key sets, and
    // its two versions must be subtracted exactly once
    AtomicWarehouse.purgeKeysDeferred(s, dir, "k", Seq(3L, 8L))
    AtomicWarehouse.purgeKeysDeferred(s, dir, "k", Seq(8L, 11L))
    val counted = s.read.format("graft-warehouse").option("path", dir)
      .load().agg(count(lit(1)).as("n"))
    require(counted.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      "COUNT(*) must stay a manifest answer with tombstones outstanding")
    counted
  }

  /** C66 — ENFORCED COMPACTION CADENCE: `TBLPROPERTIES
    * ('compactEvery'='3', ...)` makes the engine fold the manifest the
    * moment a commit grows it to 3 entries — the maintenance policy the
    * round-10 fold adjudication priced (fold after 100 epochs = 14.8 s,
    * after 1000 = 778 s; BENCH.md `foldprofile`) enforced by the table
    * itself, so the reference's twice-daily cron drain
    * (ref: dags/Dashboard-pipeline.py:26) can run for years without an
    * operator remembering to compact.
    *
    * Pinned in-query: after the 3rd INSERT the manifest is ONE fold
    * entry; the 4th INSERT opens the next window (2 entries); results
    * are fold-invariant (the last-wins winners are identical to the
    * never-folded history). */
  val c66AutoCompactCadence = q("c66_auto_compact_cadence",
    """WITH base AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name FROM part)
      |SELECT k,
      |       CASE WHEN k % 7 = 0 THEN 'D-' || p_name
      |            WHEN k % 5 = 0 THEN 'C-' || p_name
      |            WHEN k % 3 = 0 THEN 'B-' || p_name
      |            ELSE p_name END AS name,
      |       CASE WHEN k % 7 = 0 THEN CAST(4 AS BIGINT)
      |            WHEN k % 5 = 0 THEN CAST(3 AS BIGINT)
      |            WHEN k % 3 = 0 THEN CAST(2 AS BIGINT)
      |            ELSE CAST(1 AS BIGINT) END AS load_seq
      |FROM base""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c66")
    s.conf.set("spark.sql.catalog.whc66", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc66.root", root)
    s.sql(
      """CREATE TABLE whc66.parts (k BIGINT, name STRING, load_seq BIGINT)
        |USING `graft-warehouse`
        |TBLPROPERTIES ('mergeKey'='k', 'statsKey'='k',
        |               'compactEvery'='3')""".stripMargin)
    Tables.part(s, d).select(
        col("p_partkey").cast("long").as("k"), col("p_name"))
      .createOrReplaceTempView("c66_src")
    s.sql("""INSERT INTO whc66.parts
            |SELECT k, p_name, CAST(1 AS BIGINT) FROM c66_src""".stripMargin)
    s.sql("""INSERT INTO whc66.parts
            |SELECT k, 'B-' || p_name, CAST(2 AS BIGINT)
            |FROM c66_src WHERE k % 3 = 0""".stripMargin)
    s.sql("""INSERT INTO whc66.parts
            |SELECT k, 'C-' || p_name, CAST(3 AS BIGINT)
            |FROM c66_src WHERE k % 5 = 0""".stripMargin)
    val dir = s"$root/parts"
    val folded = AtomicWarehouse.committedEpochs(s, dir)
    require(folded.size == 1 && folded.head.startsWith("compact_v"),
      s"the 3rd commit must auto-fold (compactEvery=3); manifest: $folded")
    s.sql("""INSERT INTO whc66.parts
            |SELECT k, 'D-' || p_name, CAST(4 AS BIGINT)
            |FROM c66_src WHERE k % 7 = 0""".stripMargin)
    require(AtomicWarehouse.committedEpochs(s, dir).size == 2,
      "the 4th commit opens the next cadence window")
    s.sql(
      """SELECT k, name, load_seq FROM (
        |  SELECT k, name, load_seq,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc66.parts) WHERE rn = 1""".stripMargin)
  }

  /** C67 — BYTE-SIZED DRAIN PARTS: a drain coalesces its epoch to
    * ceil(stagedBytes / 128 MB) part files instead of inheriting the
    * session's shuffle width, killing the tiny-file shape at the source
    * — under 32 shuffle partitions a small cron drain wrote 32 ~100-byte
    * shards, and the round-10 fold probe measured that shape compounding
    * into a ~12× merged-read slowdown at 32k files (BENCH.md
    * `foldprofile`). Costs no extra I/O or shuffle: the byte total rides
    * the staging listing already on the driver, and `coalesce` narrows
    * without repartitioning.
    *
    * Pinned in-query: a multi-shard staging drains into exactly ONE
    * part file, and the manifest's recorded file list agrees. */
  val c67DrainPartSizing = q("c67_drain_part_sizing",
    """SELECT CAST(o_orderkey AS VARCHAR) AS k,
      |       CAST(o_orderstatus AS VARCHAR) AS status,
      |       CAST(1 AS BIGINT) AS load_seq
      |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val base = freshScratch("c67")
    val staging = s"$base/staging"; val dir = s"$base/wh"
    Tables.orders(s, d)
      .where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"))
      .repartition(16) // the tiny-shard shape sizing must collapse
      .write.parquet(staging)
    AtomicWarehouse.drain(s, staging, dir, 1L, statsKey = Some("k"))
    val files = new java.io.File(s"$dir/epoch_1").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    require(files == 1,
      s"a small 16-shard staging must drain as ONE part file, got $files")
    val entries = AtomicWarehouse.committedEntriesAt(s, dir,
      AtomicWarehouse.currentVersion(s, dir))
    val recorded = entries.head.stats.get(AtomicWarehouse.FilesStat)
      .map(_.mn.linesIterator.size).getOrElse(-1)
    require(recorded == 1,
      s"the manifest's file list must record the sized layout, got $recorded")
    AtomicWarehouse.read(s, dir, "k")
  }

  /** C68 — BATCH CHANGE FEED: `.option("startingVersion", s)` [+
    * `endingVersion`] serves exactly the rows APPENDED to the warehouse
    * in the manifest range [s, e] — INCLUSIVE of both bounds, matching
    * Delta CDF's convention for the identically-named options — the
    * Delta-CDF consumer surface on the log-structured manifest, planned
    * as every micro-batch of the manifest tail is, with its refusal
    * contract at purge boundaries
    * ([[graft.sources.v2.WarehouseScan]]'s change plan).
    * `_pos` rides along with END-manifest positions, so a downstream
    * incremental merge can apply the feed with the same
    * `(load_seq DESC, _pos DESC)` tiebreaker every other read path
    * uses. The reference re-reads its WHOLE warehouse to rebuild the
    * dashboard each run (ref: Python-pipeline/ingestdatainbigquery.py:
    * 84-99, CREATE OR REPLACE over the full table); an incremental
    * consumer reads O(delta) instead.
    *
    * Scale: planning lists only the appended epochs' files (the diff is
    * O(versions in range) manifest reads), so a daily sync of a 100 TB
    * store reads two drains, not the table. */
  val c68ChangeFeed = q("c68_change_feed",
    """WITH src AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |         CAST(o_orderstatus AS VARCHAR) AS status FROM orders)
      |SELECT k, status, load_seq, pos FROM (
      |  SELECT k, 'UPD-' || status AS status,
      |         CAST(2 AS BIGINT) AS load_seq, 1 AS pos
      |  FROM src WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT k + 9000000, status, CAST(3 AS BIGINT), 2
      |  FROM src WHERE k % 11 = 0)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val dir = s"${freshScratch("c68")}/wh"
    val src = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("k"),
      col("o_orderstatus").cast("string").as("status"))
    AtomicWarehouse.commitEpoch(s, dir,
      src.withColumn("load_seq", lit(1L)), 1L, statsKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 5 === 0)
        .withColumn("status", concat(lit("UPD-"), col("status")))
        .withColumn("load_seq", lit(2L)), 2L, statsKey = Some("k")) // v2
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 11 === 0)
        .withColumn("k", col("k") + 9000000L)
        .withColumn("load_seq", lit(3L)), 3L, statsKey = Some("k")) // v3
    val cdf = s.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "2").load() // versions [2, 3] inclusive
      .select(col("k"), col("status"), col("load_seq"),
        col("_pos").as("pos"))
    // the feed is O(delta), never the table: v1's rows must be absent
    val full = s.read.format("graft-warehouse").option("path", dir)
      .load().count()
    require(cdf.count() < full,
      "change feed must serve the appended delta, not the snapshot")
    cdf
  }

  val all: Seq[Q] = Seq(c65MetaCountSuppressed, c66AutoCompactCadence,
    c67DrainPartSizing, c68ChangeFeed)
}
