package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 widening, part 67: STRING merge keys through the whole
  * deletion lattice (the reference's own key — `video_id` — is a
  * string: ref Python-pipeline/ingestdatainbigquery.py:89 dedups
  * `PARTITION BY video_id`), and the SQL CALL compliance sequence
  * (purge → compact → vacuum).
  */
object Extended67 {

  /** C63 — the STRING-KEY deletion lattice end-to-end: a warehouse
    * keyed by a video_id-style string drains, takes a copy-on-write
    * purge of two keys ([[graft.sinks.AtomicWarehouse.purgeKeysStr]],
    * the rewrite a key-identity SQL `DELETE` ran before it became a
    * tombstone commit — round 10 generalized
    * [[graft.sinks.AtomicWarehouse]]'s tombstone/purge keys to TYPED
    * long+string lists), then a full
    * sync-MERGE — update / insert / `WHEN NOT MATCHED BY SOURCE THEN
    * DELETE` — whose tombstone addresses the string keys the feed no
    * longer carries, committed atomically with the merge epoch.
    *
    * Pinned in-query: the CoW purge rewrote the epoch (no tombstone for
    * the purge), the sync-MERGE landed epoch+tombstone in ONE version
    * bump, and the delete-key CAP (`graft.merge.maxDeleteKeys`) was
    * enforced — the collect is bounded, a feed outage cannot tombstone
    * the table (the EMPTY-source refusal is spec-pinned in
    * WarehouseCatalogSpec).
    *
    * Scale: string purges prune candidate epochs by the key's
    * lexicographic zone map AND the new string Bloom filter
    * (`bloomstr` slot) — hash-ish string keys defeat zone maps, so the
    * bloom is the pruning that's left at 100 TB; the sync tombstone
    * stays O(deleted keys) with zero epoch rewrites. */
  val c63StringKeyLattice = q("c63_string_key_lattice",
    """WITH base AS (
      |  SELECT 'VID' || CAST(p_partkey AS VARCHAR) AS vid, p_name,
      |         CAST(p_size AS BIGINT) AS p_size,
      |         CAST(p_partkey AS BIGINT) AS k FROM part),
      |surv AS (SELECT * FROM base WHERE vid NOT IN ('VID40', 'VID80'))
      |SELECT vid, p_name, p_size, load_seq FROM (
      |  SELECT vid, p_name, p_size, CAST(1 AS BIGINT) AS load_seq
      |  FROM surv WHERE k % 3 <> 0 AND NOT (p_size < 10)
      |  UNION ALL
      |  SELECT vid, 'UPD-S' || vid, p_size, CAST(2 AS BIGINT)
      |  FROM surv WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT 'VID' || CAST(k + 500000 AS VARCHAR),
      |         'S' || 'VID' || CAST(k + 500000 AS VARCHAR),
      |         NULL, CAST(2 AS BIGINT)
      |  FROM base WHERE k % 250 = 0)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c63")
    val dir = s"$root/vids"
    val base = Tables.part(s, d).select(
      concat(lit("VID"), col("p_partkey").cast("long").cast("string"))
        .as("vid"),
      col("p_name"),
      col("p_size").cast("long").as("p_size"),
      col("p_partkey").cast("long").as("k"))
    AtomicWarehouse.commitEpoch(s, dir,
      base.drop("k").withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("vid"), bloomKey = Some("vid"))
    s.conf.set("spark.sql.catalog.whc63", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc63.root", root)
    s.conf.set("spark.sql.catalog.whc63.mergeKey", "vid")

    // copy-on-write purge on the STRING key, pinned: the epoch was
    // rewritten in place; the only tombstone is the purge LOG the
    // rewrite commits for the change feed (a NO-OP tombstone — it
    // suppresses nothing, the rewrite already removed the rows)
    AtomicWarehouse.purgeKeysStr(s, dir, "vid", Seq("VID40", "VID80"),
      statsKey = Some("vid"), bloomKey = Some("vid"))
    val postDelete = AtomicWarehouse.committedEpochs(s, dir)
    require(postDelete.exists(_.startsWith("epoch_1_p")) &&
      !postDelete.exists(n => AtomicWarehouse.isTombstone(n) &&
        !AtomicWarehouse.isNoopTombstone(n)) &&
      postDelete.exists(AtomicWarehouse.isNoopTombstone),
      s"string DELETE should rewrite copy-on-write; entries: $postDelete")

    // sync-MERGE on the string key: updates (k%3=0), inserts (+500000
    // namespace), and absent-with-p_size<10 deleted as a STRING
    // tombstone in the SAME manifest CAS as the merge epoch
    base.where(col("k") % 3 === 0).select(col("vid"))
      .unionByName(base.where(col("k") % 250 === 0)
        .select(concat(lit("VID"), (col("k") + 500000L).cast("string"))
          .as("vid")))
      .withColumn("tag", concat(lit("S"), col("vid")))
      .createOrReplaceTempView("c63_src")
    val v0 = AtomicWarehouse.currentVersion(s, dir)
    s.sql(
      """MERGE INTO whc63.vids t USING c63_src s ON t.vid = s.vid
        |WHEN MATCHED THEN UPDATE SET p_name = concat('UPD-', s.tag)
        |WHEN NOT MATCHED THEN INSERT (vid, p_name) VALUES (s.vid, s.tag)
        |WHEN NOT MATCHED BY SOURCE AND t.p_size < 10 THEN DELETE
        |""".stripMargin)
    require(AtomicWarehouse.currentVersion(s, dir) == v0 + 1,
      "merge epoch + string tombstone must land in ONE manifest CAS")
    val entries = AtomicWarehouse.committedEpochs(s, dir)
    require(entries.count(_.startsWith("merge_")) == 1 &&
      entries.count(n => AtomicWarehouse.isTombstone(n) &&
        !AtomicWarehouse.isNoopTombstone(n)) == 1,
      s"expected one merge epoch + one REAL tombstone (the earlier CoW " +
        s"purge's log doesn't count); entries: $entries")

    s.sql(
      """SELECT vid, p_name, p_size, load_seq FROM (
        |  SELECT vid, p_name, p_size, load_seq,
        |         row_number() OVER (PARTITION BY vid
        |                            ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc63.vids) WHERE rn = 1""".stripMargin)
  }

  /** C64 — the SQL COMPLIANCE SEQUENCE: `CALL whc.system.purge(t, keys)`
    * (deferred tombstone — O(keys) metadata commit, ZERO epoch rewrites)
    * → `CALL system.compact` (materializes the snapshot minus the keys)
    * → `CALL system.vacuum` (destroys the history that still held them).
    * Round 9 made compact/vacuum/describe SQL verbs; the purge itself
    * was API-only, leaving compliance runbooks half SQL — this closes
    * it: three CALL statements, require-pinned at each step
    * (tombstone entry present and epochs untouched after purge; one
    * fold after compact; pre-purge dirs destroyed by vacuum).
    *
    * Scale: the purge is one tiny parquet write + manifest CAS however
    * large the table; the rewrite cost is deferred into the compaction
    * the table was due anyway — the Delta/Iceberg deletion-vector
    * economics, SQL-driven. */
  val c64SqlCallPurge = q("c64_sql_call_purge",
    """WITH src AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name FROM customer)
      |SELECT k, name, load_seq FROM (
      |  SELECT k, c_name AS name, CAST(1 AS BIGINT) AS load_seq
      |  FROM src WHERE k % 4 <> 0
      |  UNION ALL
      |  SELECT k, 'AUD-' || c_name, CAST(2 AS BIGINT)
      |  FROM src WHERE k % 4 = 0)
      |WHERE k NOT IN (7, 57, 107)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c64")
    s.conf.set("spark.sql.catalog.whc64", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc64.root", root)
    s.sql(
      """CREATE TABLE whc64.cust (k BIGINT, name STRING, load_seq BIGINT)
        |USING `graft-warehouse`
        |TBLPROPERTIES ('mergeKey'='k', 'statsKey'='k', 'bloomKey'='k')
        |""".stripMargin)
    Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("k"), col("c_name"))
      .createOrReplaceTempView("c64_src")
    s.sql("""INSERT INTO whc64.cust
            |SELECT k, c_name, CAST(1 AS BIGINT) FROM c64_src""".stripMargin)
    s.sql("""INSERT INTO whc64.cust
            |SELECT k, 'AUD-' || c_name, CAST(2 AS BIGINT)
            |FROM c64_src WHERE k % 4 = 0""".stripMargin)

    // 1) deferred purge: one tombstone entry, BOTH epochs untouched
    val purged = s.sql(
      "CALL whc64.system.purge('cust', array('7', '57', '107'))").collect()
    require(purged.length == 1 && purged(0).getInt(0) == 3,
      s"purge should tombstone 3 keys, got ${purged.mkString(";")}")
    val hist = s.sql("CALL whc64.system.describe_history('cust')").collect()
    require(hist.count(_.getString(1) == "epoch") == 2 &&
      hist.count(_.getString(1) == "tombstone") == 1,
      s"deferred purge must not rewrite epochs: ${hist.mkString(";")}")

    // 2) compact materializes the snapshot minus the purged keys
    val folded = s.sql("CALL whc64.system.compact('cust')").collect()
    require(folded.length == 1 && folded(0).getInt(1) == 1,
      s"compact should fold to one entry, got ${folded.mkString(";")}")

    // 3) vacuum destroys the pre-purge history (graceMs=0: single
    // process, no drain in flight)
    val vac = s.sql("CALL whc64.system.vacuum('cust', 1, 0)").collect()
    require(vac.length == 1 && vac(0).getInt(1) >= 3,
      s"vacuum should destroy 2 epochs + 1 tombstone dir, got " +
        vac.mkString(";"))

    s.sql(
      """SELECT k, name, load_seq FROM (
        |  SELECT k, name, load_seq,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc64.cust) WHERE rn = 1""".stripMargin)
  }

  val all: Seq[Q] = Seq(c63StringKeyLattice, c64SqlCallPurge)
}
