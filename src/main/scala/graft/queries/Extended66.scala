package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 widening, part 66: the last MERGE clause (NOT MATCHED BY
  * SOURCE THEN DELETE as an atomic tombstone batch), the SQL CALL
  * maintenance verbs, and default-on multi-column zone maps.
  */
object Extended66 {

  /** C60 — `WHEN NOT MATCHED BY SOURCE THEN DELETE`: the sync-MERGE
    * ([[graft.plans.RewriteWarehouseMerge]]) — target rows whose key the
    * source feed no longer carries are deleted, composed from the
    * existing deferred-purge machinery: the key set (target ∖ source,
    * one broadcast anti-join) commits as a TOMBSTONE entry in the SAME
    * manifest CAS as the merge epoch
    * ([[graft.sinks.AtomicWarehouse.commitNamedEpochWithTombstoneTyped]]),
    * so updates, inserts and deletes become visible atomically — a torn
    * pair could serve a half-synced table. This closes the full
    * Delta/Iceberg MERGE clause lattice (the UPDATE form of the clause
    * stays refused with the append-only rationale: rows addressed by
    * absence are unbounded by the delta).
    *
    * The branch condition (`t.p_size < 10`) resolves against the target
    * snapshot; the last-wins window orders by `(load_seq DESC, _pos
    * DESC)` — the `_pos` METADATA COLUMN is the manifest-position
    * tiebreaker the engine read uses, now exposed through the connector
    * so SQL windows are deterministic on self-sequenced seq ties.
    *
    * Scale: O(delta) epoch append + O(deleted keys) tombstone — ZERO
    * epoch rewrites; read-side suppression is one broadcast anti-join
    * folded away by the next compaction. */
  val c60MergeDeleteAbsent = q("c60_merge_delete_absent",
    """WITH base AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name,
      |         CAST(p_size AS BIGINT) AS p_size FROM part),
      |ins AS (SELECT k + 2000000 AS k FROM base WHERE k % 250 = 0)
      |SELECT k, p_name, p_size, load_seq FROM (
      |  SELECT k, p_name, p_size, CAST(1 AS BIGINT) AS load_seq FROM base
      |  WHERE k % 5 <> 0 AND NOT (p_size < 10)
      |  UNION ALL
      |  SELECT k, 'UPD-T' || CAST(k AS VARCHAR), p_size, CAST(2 AS BIGINT)
      |  FROM base WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT k, 'T' || CAST(k AS VARCHAR), NULL, CAST(2 AS BIGINT)
      |  FROM ins)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c60")
    val base = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("k"), col("p_name"),
      col("p_size").cast("long").as("p_size"))
    AtomicWarehouse.commitEpoch(s, s"$root/parts",
      base.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    s.conf.set("spark.sql.catalog.whc60", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc60.root", root)
    s.conf.set("spark.sql.catalog.whc60.mergeKey", "k")
    base.where(col("k") % 5 === 0).select(col("k"))
      .unionByName(base.where(col("k") % 250 === 0)
        .select((col("k") + 2000000L).as("k")))
      .withColumn("tag", concat(lit("T"), col("k").cast("string")))
      .createOrReplaceTempView("c60_src")
    s.sql(
      """MERGE INTO whc60.parts t USING c60_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET p_name = concat('UPD-', s.tag)
        |WHEN NOT MATCHED THEN INSERT (k, p_name) VALUES (s.k, s.tag)
        |WHEN NOT MATCHED BY SOURCE AND t.p_size < 10 THEN DELETE
        |""".stripMargin)
    s.sql(
      """SELECT k, p_name, p_size, load_seq FROM (
        |  SELECT k, p_name, p_size, load_seq,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc60.parts) WHERE rn = 1""".stripMargin)
  }

  /** C61 — the SQL CALL MAINTENANCE VERBS
    * ([[graft.sources.v2.WarehouseProcedures]]): a DDL-born table is
    * drained by INSERTs, then `CALL whc.system.compact('t')` folds its
    * epochs (honoring the CREATE TABLE-persisted write defaults),
    * `CALL whc.system.describe_history('t')` pins the fold (one
    * `compact` entry), `CALL whc.system.vacuum('t', 1, 0)` destroys the
    * folded-away history — the full table lifecycle with no engine API
    * in sight, Iceberg's stored-procedure ergonomics on the epoch
    * store. Every CALL result is require-pinned in-query; the returned
    * rows are the post-maintenance merged read, which maintenance must
    * never change (the oracle replays the two inserts declaratively).
    *
    * Scale: compact is the standard fold (one merge + one write of live
    * rows); vacuum is O(dirs); describe is O(entries) metadata. */
  val c61SqlCallMaintenance = q("c61_sql_call_maintenance",
    """WITH src AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS k, s_name,
      |         CAST(s_acctbal AS DOUBLE) AS bal FROM supplier)
      |SELECT k, s_name, bal, load_seq FROM (
      |  SELECT k, s_name, bal, CAST(1 AS BIGINT) AS load_seq FROM src
      |  WHERE k % 3 <> 0
      |  UNION ALL
      |  SELECT k, 'AUDIT-' || s_name, bal * 1.5, CAST(2 AS BIGINT)
      |  FROM src WHERE k % 3 = 0)""".stripMargin) { (s, d) =>
    val root = freshScratch("c61")
    s.conf.set("spark.sql.catalog.whc61", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc61.root", root)
    s.sql(
      """CREATE TABLE whc61.sup
        |  (k BIGINT, s_name STRING, bal DOUBLE, load_seq BIGINT)
        |USING `graft-warehouse`
        |TBLPROPERTIES ('mergeKey'='k', 'statsKey'='k', 'bloomKey'='k')
        |""".stripMargin)
    Tables.supplier(s, d).select(
        col("s_suppkey").cast("long").as("k"), col("s_name"),
        col("s_acctbal").cast("double").as("bal"))
      .createOrReplaceTempView("c61_src")
    s.sql("""INSERT INTO whc61.sup
            |SELECT k, s_name, bal, CAST(1 AS BIGINT) FROM c61_src""".stripMargin)
    s.sql("""INSERT INTO whc61.sup
            |SELECT k, 'AUDIT-' || s_name, bal * 1.5, CAST(2 AS BIGINT)
            |FROM c61_src WHERE k % 3 = 0""".stripMargin)
    val before = s.sql("CALL whc61.system.describe_history('sup')").collect()
    require(before.length == 2 && before.forall(_.getString(1) == "epoch"),
      s"expected 2 drained epochs pre-fold, got ${before.mkString(";")}")
    val folded = s.sql("CALL whc61.system.compact('sup')").collect()
    require(folded.length == 1 && folded(0).getInt(0) == 2 &&
      folded(0).getInt(1) == 1,
      s"compact should fold 2 entries into 1, got ${folded.mkString(";")}")
    val after = s.sql("CALL whc61.system.describe_history('sup')").collect()
    require(after.length == 1 && after(0).getString(1) == "compact",
      s"expected one compact fold post-OPTIMIZE, got ${after.mkString(";")}")
    // graceMs=0 is safe here: single-process battery, no drain in flight
    val vac = s.sql("CALL whc61.system.vacuum('sup', 1, 0)").collect()
    require(vac.length == 1 && vac(0).getInt(1) >= 2,
      s"vacuum should destroy the 2 folded-away insert dirs, got " +
        vac.mkString(";"))
    s.sql(
      """SELECT k, s_name, bal, load_seq FROM (
        |  SELECT k, s_name, bal, load_seq,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY load_seq DESC, _pos DESC) AS rn
        |  FROM whc61.sup) WHERE rn = 1""".stripMargin)
  }

  /** C62 — MULTI-COLUMN ZONE MAPS BY DEFAULT: three epochs committed
    * with NO declared stats at all ([[graft.sinks.AtomicWarehouse
    * .statsAndBloomOf]] now records footer-derived min/max for every
    * stats-eligible column automatically), then a predicate on the
    * never-declared `ok` column must PLAN exactly one epoch — pinned
    * in-query via the connector's [[graft.sources.v2.WarehouseScan
    * .plannedEpochs]] (the same seam WarehouseSourceSpec pins). At
    * 100 TB this is the difference between "the analyst's ad-hoc
    * predicate scans one epoch" and "the writer had to anticipate every
    * future predicate at commit time".
    *
    * The oracle filters the same rows declaratively — pruning changes
    * I/O, never answers. */
  val c62AutoStatsPrune = q("c62_autostats_prune",
    s"""WITH li AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
      |         CAST(l_partkey AS BIGINT) AS pk,
      |         CAST(l_quantity AS DOUBLE) AS qty,
      |         CAST(l_orderkey AS BIGINT) % 3 AS bucket
      |  FROM lineitem)
      |SELECT bucket, count(*) AS n, ${rnd("sum(qty)", 4)} AS qty,
      |       min(pk) AS mn_pk, max(pk) AS mx_pk
      |FROM (SELECT ok, pk, qty, bucket,
      |             2000000 * (1 + bucket) + ok AS shifted_ok FROM li)
      |WHERE shifted_ok >= 6000000
      |GROUP BY 1""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val wh = freshScratch("c62") + "/wh"
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey").cast("long").as("ok"),
      col("l_partkey").cast("long").as("pk"),
      col("l_quantity").cast("double").as("qty"),
      (col("l_orderkey").cast("long") % 3).as("bucket"))
    // three epochs with DISJOINT shifted_ok ranges (~[2M,4M), [4M,6M),
    // [6M,8M)) and NO statsKey/statsCols/bloomKey declared anywhere
    (0L to 2L).foreach { b =>
      AtomicWarehouse.commitEpoch(s, wh,
        li.where(col("bucket") === b)
          .withColumn("shifted_ok",
            lit(2000000L) * (lit(1L) + col("bucket")) + col("ok"))
          .withColumn("load_seq", lit(b + 1)),
        b + 1)
    }
    // PLAN PIN: the predicate names a column no writer ever declared;
    // the auto-recorded zone maps must prune the scan to ONE epoch
    val sb = new graft.sources.v2.WarehouseScanBuilder(wh, None,
      graft.sources.v2.WarehouseConnector.snapshotSchema(s, wh,
        AtomicWarehouse.currentVersion(s, wh)), "ok", 0)
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("shifted_ok", 6000000L)))
    val planned = sb.build()
      .asInstanceOf[graft.sources.v2.WarehouseScan].plannedEpochs()
    require(planned == Seq("epoch_3"),
      s"auto stats should prune to epoch_3 alone; planned $planned")
    s.read.format("graft-warehouse").option("path", wh).load()
      .where(col("shifted_ok") >= 6000000L)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(sum("qty"), 4).as("qty"),
        min("pk").as("mn_pk"), max("pk").as("mx_pk"))
  }

  val all: Seq[Q] = Seq(c60MergeDeleteAbsent, c61SqlCallMaintenance,
    c62AutoStatsPrune)
}
