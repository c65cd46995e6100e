package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 widening, part 76: the change feed across COPY-ON-WRITE
  * purges, and Delta-CDF update typing. The reference's most natural
  * destructive mutation is the drain-dedup rewrite
  * (ref: Python-pipeline/ingestdatainbigquery.py:84-96) — downstream
  * consumers must be able to FOLLOW a rewrite, not just a deferred
  * tombstone. */
object Extended76 {

  /** C76 — a copy-on-write key purge
    * ([[graft.sinks.AtomicWarehouse.purgeKeys]], what a key-identity SQL
    * `DELETE` ran before it became a tombstone commit) now RIDES the
    * row-level change feed: the purge commits a NO-OP tombstone — its purge LOG,
    * the key list verbatim — in the SAME manifest CAS as the rewrites,
    * and the feed serves it as `_change_type='delete'` rows exactly
    * like a deferred purge's. Round 12's feed refused here (the rewrite
    * names only a key-set digest), which broke every downstream CDC
    * mirror on a copy-on-write delete.
    *
    * Pinned here: the full insert/delete history of a 4-version
    * warehouse (two appends, one CoW purge, one append with a
    * re-add of a purged key) hash-matches a DuckDB replay; in-query
    * requires pin the manifest shape (rewrite + purge log, NO real
    * tombstone) and that [[graft.ops.Merge.applyChangeFeed]] over the
    * feed reproduces the engine's snapshot (the re-added key must
    * survive: the log's `_pos` orders it below the later re-insert).
    *
    * Scale: the log is O(purged keys) — one tiny parquet + one spliced
    * manifest entry; the feed's retraction still opens ZERO data
    * files, and snapshot reads SKIP the log entirely (the CoW purge
    * keeps its zero-read-overhead property). */
  val c76CowDeleteChangeFeed = q("c76_cow_delete_change_feed",
    """WITH src AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name AS name FROM part)
      |SELECT k, name, load_seq, _change_type, _commit_version FROM (
      |  SELECT k, name, CAST(1 AS BIGINT) AS load_seq,
      |         'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version
      |  FROM src
      |  UNION ALL
      |  SELECT k, 'R2-' || name, CAST(2 AS BIGINT), 'insert',
      |         CAST(2 AS BIGINT)
      |  FROM src WHERE k % 9 = 0
      |  UNION ALL
      |  SELECT CAST(t.k AS BIGINT), CAST(NULL AS VARCHAR),
      |         CAST(NULL AS BIGINT), 'delete', CAST(3 AS BIGINT)
      |  FROM (VALUES (9), (18), (36)) t(k)
      |  UNION ALL
      |  SELECT k + 1000000, name, CAST(4 AS BIGINT), 'insert',
      |         CAST(4 AS BIGINT)
      |  FROM src WHERE k % 50 = 0
      |  UNION ALL
      |  SELECT CAST(9 AS BIGINT), 'REBORN', CAST(4 AS BIGINT), 'insert',
      |         CAST(4 AS BIGINT))""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c76")
    val dir = s"$root/parts"
    val src = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("k"), col("p_name").as("name"))
    AtomicWarehouse.commitEpoch(s, dir,
      src.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 9 === 0)
        .withColumn("name", concat(lit("R2-"), col("name")))
        .withColumn("load_seq", lit(2L)), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    // v3: COPY-ON-WRITE key purge (both epochs hold the keys, so both
    // rewrite)
    AtomicWarehouse.purgeKeys(s, dir, "k", Seq(9L, 18L, 36L),
      statsKey = Some("k"), bloomKey = Some("k"))
    val names = AtomicWarehouse.committedEpochs(s, dir)
    require(names.exists(AtomicWarehouse.isPurgeRewrite) &&
      names.exists(AtomicWarehouse.isNoopTombstone) &&
      !names.exists(n => AtomicWarehouse.isTombstone(n) &&
        !AtomicWarehouse.isNoopTombstone(n)),
      s"CoW key purge must rewrite and log its keys: $names")
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 50 === 0)
        .withColumn("k", col("k") + 1000000L)
        .withColumn("load_seq", lit(4L))
        .unionByName(s.range(1).select(lit(9L).as("k"),
          lit("REBORN").as("name"), lit(4L).as("load_seq"))),
      4L, statsKey = Some("k"), bloomKey = Some("k")) // v4: re-add key 9
    val feed = s.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load()
    // incremental mirror ≡ fresh engine read: the re-added key 9 must
    // survive the CoW delete's log (its _pos orders BELOW the re-insert)
    val applied = graft.ops.Merge.applyChangeFeed(
      feed.select(col("*"), col("_pos")), "k")
    // ONE aggregate action for both probes (count parity + the re-added
    // key's presence) — this ran three full actions before
    val probe = applied.select(col("k"), lit(1L).as("__w"))
      .unionAll(AtomicWarehouse.read(s, dir, "k")
        .select(col("k"), lit(-1L).as("__w")))
      .agg(sum(col("__w")).as("d"),
        sum(when(col("k") === 9L && col("__w") === 1L, 1L)
          .otherwise(0L)).as("n9")).head()
    require(probe.getLong(0) == 0L && probe.getLong(1) == 1L,
      "applied feed must reproduce the engine's snapshot incl. the re-add")
    feed.select(col("k"), col("name"), col("load_seq"),
      col("_change_type"), col("_commit_version"))
  }

  /** C77 — SQL `UPDATE` epochs ride the change feed typed
    * `'update_postimage'` (Delta CDF's convention for the new row
    * versions an UPDATE produced — the appended `update_v*` epoch IS
    * the post-image; the manifest records winners, never diffs, so no
    * pre-images are served). Round 12 typed them plain 'insert', so
    * audit/diff consumers could not tell an update from a fresh
    * insert; last-wins consumers ([[graft.ops.Merge.applyChangeFeed]])
    * treat both as upserts — pinned by the in-query mirror≡snapshot
    * tripwire.
    *
    * Scale: the typing is a per-file constant derived from the entry
    * NAME at planning time — zero per-row cost, zero extra I/O. */
  val c77UpdatePostimageFeed = q("c77_update_postimage_feed",
    """WITH src AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS name
      |  FROM supplier)
      |SELECT k, name, load_seq, _change_type, _commit_version FROM (
      |  SELECT k, name, CAST(1 AS BIGINT) AS load_seq,
      |         'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version
      |  FROM src
      |  UNION ALL
      |  SELECT k, 'X-' || name, CAST(2 AS BIGINT), 'update_postimage',
      |         CAST(2 AS BIGINT)
      |  FROM src WHERE k % 4 = 0)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c77")
    s.conf.set("spark.sql.catalog.whc77", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc77.root", root)
    s.conf.set("spark.sql.catalog.whc77.mergeKey", "k")
    val dir = s"$root/sup"
    AtomicWarehouse.commitEpoch(s, dir,
      Tables.supplier(s, d).select(col("s_suppkey").cast("long").as("k"),
        col("s_name").as("name"), lit(1L).as("load_seq")), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    s.sql("UPDATE whc77.sup SET name = concat('X-', name) " +
      "WHERE k % 4 = 0") // v2: update_v1_* epoch
    val feed = s.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load()
    // a last-wins consumer treats the postimage as an upsert
    val applied = graft.ops.Merge.applyChangeFeed(
      feed.select(col("*"), col("_pos")), "k")
    requireSameCount(applied, AtomicWarehouse.read(s, dir, "k"),
      "applied feed must reproduce the engine's snapshot")
    feed.select(col("k"), col("name"), col("load_seq"),
      col("_change_type"), col("_commit_version"))
  }

  /** C78 — STREAMING CDC REPLICATION: a second warehouse kept
    * row-identical to the source by tailing the source's row-level
    * change feed with `readStream` + `foreachBatch(
    * Merge.replicateChangeFeedBatch)` — per trigger, ONE deferred
    * tombstone of the batch's delete keys + ONE epoch of the batch's
    * surviving winners, nothing ever rescans either store. This is the
    * reference's warehouse-refresh loop (re-read everything, rewrite
    * the table) as an O(delta) incremental pipeline, and the full
    * Delta-style "merge CDC into a replica" story: the history
    * includes a COPY-ON-WRITE key purge (served through the purge
    * log) with a cross-batch re-add of a purged key, and a RESTART
    * from the same checkpoint draining a version committed after the
    * first drain (exactly-once resume; `maxVersionsPerBatch` forces
    * multiple micro-batches so the cross-batch ordering is real).
    *
    * The in-query require pins mirror ≡ source by symmetric except;
    * the hashed result is the MIRROR's merged read against a DuckDB
    * replay of the source history. */
  val c78CdcStreamingMirror = q("c78_cdc_streaming_mirror",
    """WITH src AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name
      |  FROM customer),
      |log AS (
      |  SELECT k, name, CAST(1 AS BIGINT) AS load_seq, 0 AS pos FROM src
      |  UNION ALL
      |  SELECT k, 'R2-' || name, CAST(2 AS BIGINT), 1
      |  FROM src WHERE k % 6 = 0
      |  UNION ALL
      |  SELECT CAST(6 AS BIGINT), 'REBORN', CAST(4 AS BIGINT), 3
      |  UNION ALL
      |  SELECT k + 2000000, name, CAST(4 AS BIGINT), 3
      |  FROM src WHERE k % 40 = 0
      |  UNION ALL
      |  SELECT k, 'R5-' || name, CAST(5 AS BIGINT), 4
      |  FROM src WHERE k % 35 = 0),
      |alive AS (
      |  SELECT * FROM log
      |  WHERE NOT (k IN (6, 12, 999999999) AND pos < 2))
      |SELECT k, name, load_seq FROM (
      |  SELECT k, name, load_seq,
      |         row_number() OVER (PARTITION BY k
      |           ORDER BY load_seq DESC, pos DESC) AS rn
      |  FROM alive) WHERE rn = 1""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c78")
    val srcDir = s"$root/src"
    val mirror = s"$root/mirror"
    val ck = s"$root/ck"
    val src = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("k"), col("c_name").as("name"))
    AtomicWarehouse.commitEpoch(s, srcDir,
      src.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(s, srcDir,
      src.where(col("k") % 6 === 0)
        .withColumn("name", concat(lit("R2-"), col("name")))
        .withColumn("load_seq", lit(2L)), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    // v3: CoW key purge (999999999 matches nothing — the purge log
    // still serves it as a delete row, and the mirror purge carries it)
    AtomicWarehouse.purgeKeys(s, srcDir, "k", Seq(6L, 12L, 999999999L),
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(s, srcDir,
      src.where(col("k") % 40 === 0)
        .withColumn("k", col("k") + 2000000L)
        .withColumn("load_seq", lit(4L))
        .unionByName(s.range(1).select(lit(6L).as("k"),
          lit("REBORN").as("name"), lit(4L).as("load_seq"))),
      4L, statsKey = Some("k"), bloomKey = Some("k")) // v4: re-add key 6
    val feed = s.readStream.format("graft-warehouse").option("path", srcDir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .option("maxVersionsPerBatch", "2") // delete lands mid-stream
      .load().select(col("*"), col("_pos"))
    def drain(): Unit = withShufflePartitions(s, 4) {
      val q = feed.writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            graft.ops.Merge.replicateChangeFeedBatch(b, id, mirror, "k")
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }
    drain() // drains v1..v4 in two batches of two versions
    // v5 lands AFTER the first drain; the restarted stream resumes from
    // the checkpoint and applies exactly the new version
    AtomicWarehouse.commitEpoch(s, srcDir,
      src.where(col("k") % 35 === 0)
        .withColumn("name", concat(lit("R5-"), col("name")))
        .withColumn("load_seq", lit(5L)), 5L,
      statsKey = Some("k"), bloomKey = Some("k")) // v5
    drain()
    val aRead = AtomicWarehouse.read(s, srcDir, "k")
      .select("k", "name", "load_seq")
    // materialized once: the mirror-equality probe and the returned
    // result both consume the mirror's merged read
    val bRead = AtomicWarehouse.read(s, mirror, "k")
      .select("k", "name", "load_seq").localCheckpoint()
    // multiset equality in ONE pass: the symmetric exceptAll pair cost
    // four shuffles and two actions for the same contract
    val unbalanced = aRead.withColumn("__side", lit(1))
      .unionByName(bRead.withColumn("__side", lit(-1)))
      .groupBy("k", "name", "load_seq")
      .agg(sum(col("__side")).as("__d"))
      .where(col("__d") =!= 0)
    require(unbalanced.isEmpty,
      "CDC mirror must be row-identical to the source snapshot")
    bRead
  }

  /** C79 — SQL `RESTORE` (rollback): `CALL whc.system.restore('t', v)`
    * makes the live table equal the manifest at v, committed FORWARD
    * as a new version ([[graft.sinks.AtomicWarehouse.restore]] —
    * Delta's RESTORE TABLE semantics: history preserved, time travel
    * still reaches the undone versions until vacuum, and every
    * metadata answer is immediately valid because the restored entry
    * list is the target manifest's verbatim). A bad batch is undone,
    * the pipeline continues on the restored state, and the in-query
    * requires pin: the undone rows still visible via time travel; a
    * change feed crossing the rollback REFUSING loudly (an append-only
    * feed cannot retract already-served epochs — the same discipline
    * as purge boundaries); `ignoreDeletes` tailing additions only.
    *
    * Scale: restore is ONE manifest CAS — zero data I/O at any table
    * size (the check that restored dirs survived vacuum is O(entries)
    * existence probes). */
  val c79SqlRestore = q("c79_sql_restore",
    """WITH src AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |         CAST(o_orderstatus AS VARCHAR) AS status FROM orders),
      |log AS (
      |  SELECT k, status, CAST(1 AS BIGINT) AS load_seq, 0 AS pos
      |  FROM src
      |  UNION ALL
      |  SELECT k, 'R2-' || status, CAST(2 AS BIGINT), 1
      |  FROM src WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT k, 'R5-' || status, CAST(4 AS BIGINT), 2
      |  FROM src WHERE k % 7 = 0)
      |SELECT k, status, load_seq FROM (
      |  SELECT k, status, load_seq,
      |         row_number() OVER (PARTITION BY k
      |           ORDER BY load_seq DESC, pos DESC) AS rn
      |  FROM log) WHERE rn = 1""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c79")
    s.conf.set("spark.sql.catalog.whc79", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc79.root", root)
    s.conf.set("spark.sql.catalog.whc79.mergeKey", "k")
    val dir = s"$root/t"
    val src = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("k"),
      col("o_orderstatus").cast("string").as("status"))
    AtomicWarehouse.commitEpoch(s, dir,
      src.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 3 === 0)
        .withColumn("status", concat(lit("R2-"), col("status")))
        .withColumn("load_seq", lit(2L)), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 4 === 0)
        .withColumn("status", lit("BAD"))
        .withColumn("load_seq", lit(3L)), 3L,
      statsKey = Some("k"), bloomKey = Some("k")) // v3: the bad batch
    val res = s.sql("CALL whc79.system.restore('t', 2)").collect()
    require(res.length == 1 && res(0).getInt(0) == 2 &&
      res(0).getLong(1) == 4L,
      s"restore should re-commit v2's 2 entries as v4: ${res.toSeq}")
    // the bad batch is undone from the LIVE table but still reachable
    // by time travel (history preserved until vacuum) — ONE action over
    // both merged reads instead of two (each pays the union+window)
    val badProbe = AtomicWarehouse.read(s, dir, "k")
      .where(col("status") === "BAD").select(lit(1L).as("__live"))
      .unionAll(AtomicWarehouse.readVersion(s, dir, "k", 3L)
        .where(col("status") === "BAD").select(lit(0L).as("__live")))
      .agg(sum(col("__live")).as("nLive"), count(lit(1)).as("n")).head()
    require(badProbe.getLong(1) > 0L,
      "time travel must still reach the undone version")
    require(badProbe.getLong(0) == 0L, "restore must undo v3")
    // the pipeline continues on the restored state
    AtomicWarehouse.commitEpoch(s, dir,
      src.where(col("k") % 7 === 0)
        .withColumn("status", concat(lit("R5-"), col("status")))
        .withColumn("load_seq", lit(4L)), 4L,
      statsKey = Some("k"), bloomKey = Some("k")) // v5
    // an append-only feed crossing the rollback refuses loudly …
    val refused =
      try {
        s.read.format("graft-warehouse").option("path", dir)
          .option("startingVersion", "3").load().count(); false
      } catch { case e: Throwable =>
        (e.getMessage != null && e.getMessage.contains("ROLLBACK")) ||
          Option(e.getCause).exists(c => c.getMessage != null &&
            c.getMessage.contains("ROLLBACK"))
      }
    require(refused, "a feed crossing a restore must refuse loudly")
    // … and ignoreDeletes keeps tailing ADDITIONS across the rollback:
    // the bad epoch (added at v3) and the post-restore epoch both
    // serve; the restore's removals are skipped (the consumer keeps
    // rows the rollback dropped — the purge trade)
    // expected = |k%4=0| + |k%7=0| in ONE orders scan (was two); the
    // feed count stays a bare .count() so its pushdown path is untouched
    val expect = src.agg(
      sum(when(col("k") % 4 === 0, 1L).otherwise(0L)) +
        sum(when(col("k") % 7 === 0, 1L).otherwise(0L))).head().getLong(0)
    require(s.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "3").option("ignoreDeletes", "true")
      .load().count() == expect,
      "ignoreDeletes must tail additions across the rollback")
    s.sql(
      """SELECT k, status, load_seq FROM (
        |  SELECT k, status, load_seq,
        |         row_number() OVER (PARTITION BY k
        |           ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc79.t) WHERE rn = 1""".stripMargin)
  }

  val all: Seq[Q] = Seq(c76CowDeleteChangeFeed, c77UpdatePostimageFeed,
    c78CdcStreamingMirror, c79SqlRestore)
}
