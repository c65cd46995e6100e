package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sinks.AtomicWarehouse

/** SQL `CALL` surface for the warehouse MAINTENANCE verbs — the
  * Iceberg-style stored procedures that make the whole table lifecycle
  * SQL-drivable (DDL/DML landed in rounds 7–8; this adds the operator
  * verbs):
  *
  * {{{
  *   CALL whc.system.compact('t')            -- OPTIMIZE: fold epochs
  *   CALL whc.system.vacuum('t', 3)          -- retention pass
  *   CALL whc.system.describe_history('t')   -- DESCRIBE DETAIL report
  * }}}
  *
  * Rides Spark 4's DSv2 procedure API ([[org.apache.spark.sql.connector
  * .catalog.ProcedureCatalog]]): each procedure binds its declared
  * parameters, executes the SAME engine entry point the API exposes
  * ([[AtomicWarehouse.compact]]/[[AtomicWarehouse.vacuum]]/
  * [[AtomicWarehouse.describe]] — no parallel code path to drift), and
  * returns its summary as a [[LocalScan]] of driver-computed rows
  * (O(entries) metadata, never data-sized).
  *
  * `compact` honors the table's persisted write defaults
  * (`table_conf`'s mergeKey/statsKey/statsCols/bloomKey/zorderBy — the
  * same ones INSERT INTO applies), falling back to the catalog-level
  * `mergeKey` option, so a DDL-born table compacts exactly as its
  * declaration intended with no engine API in sight.
  *
  * ref: Python-pipeline/ingestdatainbigquery.py:49-76 — the reference's
  * warehouse maintenance is BigQuery-server-side; this is that
  * ergonomics on the epoch store. */
object WarehouseProcedures {

  /** Resolve a procedure by identifier; procedures live in the `system`
    * namespace (Iceberg's convention) or unqualified. */
  def load(root: String, catalogMergeKey: String,
      ns: Array[String], name: String): UnboundProcedure = {
    require(ns.isEmpty || ns.sameElements(Array("system")),
      s"procedures live in the 'system' namespace; got ${ns.mkString(".")}")
    name.toLowerCase match {
      case "compact" => new CompactProcedure(root, catalogMergeKey)
      case "vacuum" => new VacuumProcedure(root)
      case "describe_history" => new DescribeProcedure(root)
      case "history" => new HistoryProcedure(root)
      case "purge" => new PurgeProcedure(root, catalogMergeKey)
      case "restore" => new RestoreProcedure(root)
      case other => throw new UnsupportedOperationException(
        s"unknown procedure '$other' — available: system.compact(table)," +
          " system.vacuum(table, retain_versions[, grace_ms])," +
          " system.describe_history(table)," +
          " system.history(table)," +
          " system.purge(table, keys array<string>)," +
          " system.restore(table, version)")
    }
  }

  val names: Seq[String] = Seq("compact", "vacuum", "describe_history",
    "history", "purge", "restore")

  private[v2] def str(row: InternalRow, i: Int): String = {
    require(!row.isNullAt(i), s"procedure argument $i must not be NULL")
    row.getUTF8String(i).toString
  }

  private[v2] def dirFor(root: String, table: String): String = {
    // the argument is a BARE TABLE IDENTIFIER, never a path: reject
    // separators and dot-traversal before building the directory —
    // `CALL whc.system.vacuum('../other/t', 1, 0)` must not resolve (and
    // potentially destroy) a directory outside the catalog root, an
    // escape the catalog's own table resolution never offered
    require(table.nonEmpty && !table.contains("/") &&
        !table.contains("\\") && !table.startsWith("."),
      s"invalid table name '$table' — procedures take a bare table " +
        "identifier under the catalog root, not a path")
    val dir = s"$root/$table"
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$dir/_manifest")),
      s"no warehouse table '$table' under $root")
    dir
  }

  private[v2] def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** One-LocalScan result: the procedure's summary rows, driver-held. */
  private[v2] def result(schema: StructType,
      out: Seq[InternalRow]): java.util.Iterator[Scan] = {
    val arr = out.toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = arr
      override def readSchema(): StructType = schema
    }).iterator()
  }
}

/** `CALL whc.system.compact('t')` — fold every committed entry into one
  * pre-merged dir ([[AtomicWarehouse.compact]]), Z-ordered when the
  * table declared `zorderBy`. Returns (entries_before, entries_after,
  * version). */
final class CompactProcedure(root: String, catalogMergeKey: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "compact"
  override def description(): String =
    "fold all committed warehouse entries into one pre-merged snapshot"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())

  private val schema = StructType(Seq(
    StructField("entries_before", IntegerType, nullable = false),
    StructField("entries_after", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = str(input, 0)
    val dir = dirFor(root, table)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val conf = WarehouseCatalog.tableConf(fs, dir)
    val mergeKey = conf.getOrElse("mergeKey", catalogMergeKey)
    require(mergeKey.nonEmpty,
      s"compact('$table') needs a mergeKey (TBLPROPERTIES or the " +
        "catalog's mergeKey option) — the fold materializes the keyed " +
        "last-wins snapshot")
    val split = (k: String) => conf.get(k).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val before = AtomicWarehouse
      .committedEpochs(spark, dir).size
    AtomicWarehouse.compact(spark, dir, mergeKey,
      statsKey = conf.get("statsKey").filter(_.nonEmpty),
      statsCols = split("statsCols"),
      bloomKey = conf.get("bloomKey").filter(_.nonEmpty),
      zorderBy = split("zorderBy"))
    val v = AtomicWarehouse.currentVersion(spark, dir)
    val after = AtomicWarehouse.committedEpochsAt(spark, dir, v).size
    result(schema, Seq(new GenericInternalRow(
      Array[Any](before, after, v))))
  }
}

/** `CALL whc.system.purge('t', array('k1','k2'))` — the DEFERRED
  * (tombstone) purge ([[AtomicWarehouse.purgeKeysDeferred]] /
  * [[AtomicWarehouse.purgeKeysDeferredStr]]): commit the keys as one
  * deletion-vector entry, O(keys) metadata, ZERO epoch rewrites. Key
  * TYPE follows the table's merge-key column — a string column
  * (the reference's video_id) tombstones as strings, an integral one
  * parses the keys as longs (refusing non-numeric input loudly).
  *
  * This makes the documented COMPLIANCE SEQUENCE fully SQL-drivable:
  *
  * {{{
  *   CALL whc.system.purge('t', array('VID123'));  -- suppress now
  *   CALL whc.system.compact('t');                 -- materialize minus keys
  *   CALL whc.system.vacuum('t', 1, 0);            -- destroy history
  * }}}
  *
  * Returns (keys_tombstoned, version). A key-identity DELETE FROM
  * commits the same tombstone; [[AtomicWarehouse.purgeKeys]] is the
  * copy-on-write alternative (same end state after vacuum). */
final class PurgeProcedure(root: String, catalogMergeKey: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "purge"
  override def description(): String =
    "tombstone merge keys (deferred purge; finalize with compact+vacuum)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("keys", ArrayType(StringType)).build())

  private val schema = StructType(Seq(
    StructField("keys_tombstoned", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = str(input, 0)
    val dir = dirFor(root, table)
    require(!input.isNullAt(1), "purge keys must not be NULL")
    val arr = input.getArray(1)
    val keys = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i),
        "purge keys must not contain NULL (null merge keys are never " +
          "purge targets)")
      arr.getUTF8String(i).toString
    }
    require(keys.nonEmpty, s"purge('$table') needs at least one key")
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val conf = WarehouseCatalog.tableConf(fs, dir)
    val mergeKey = conf.getOrElse("mergeKey", catalogMergeKey)
    require(mergeKey.nonEmpty,
      s"purge('$table') needs a mergeKey (TBLPROPERTIES or the " +
        "catalog's mergeKey option) — tombstones address row identity")
    // key TYPE follows the merge-key column's committed type
    val snap = WarehouseConnector.snapshotSchema(spark, dir,
      AtomicWarehouse.currentVersion(spark, dir))
    val n = snap.fields.find(_.name == mergeKey).map(_.dataType) match {
      case Some(StringType) =>
        AtomicWarehouse.purgeKeysDeferredStr(spark, dir, mergeKey, keys)
      case _ =>
        AtomicWarehouse.purgeKeysDeferred(spark, dir, mergeKey,
          keys.map(k => k.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"purge('$table'): key '$k' is not a long — the table's " +
                s"mergeKey '$mergeKey' is integral"))))
    }
    result(schema, Seq(new GenericInternalRow(Array[Any](n,
      AtomicWarehouse.currentVersion(spark, dir)))))
  }
}

/** `CALL whc.system.vacuum('t', retain[, grace_ms])` — the retention
  * pass ([[AtomicWarehouse.vacuum]]): keep the newest `retain` manifest
  * versions, destroy unreferenced data dirs older than `grace_ms`
  * (default 1h — pass 0 only where no drain can be in flight). Returns
  * (manifests_dropped, dirs_dropped). */
final class VacuumProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "vacuum"
  override def description(): String =
    "drop old manifest versions and the data dirs they alone reference"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("retain_versions", IntegerType).build(),
    ProcedureParameter.in("grace_ms", LongType)
      .defaultValue("CAST(3600000 AS BIGINT)").build())

  private val schema = StructType(Seq(
    StructField("manifests_dropped", IntegerType, nullable = false),
    StructField("dirs_dropped", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = str(input, 0)
    val retain = input.getInt(1)
    val grace = if (input.isNullAt(2)) 3600000L else input.getLong(2)
    val (m, d) = AtomicWarehouse.vacuum(spark, dirFor(root, table),
      retainVersions = retain, graceMs = grace)
    result(schema, Seq(new GenericInternalRow(Array[Any](m, d))))
  }
}

/** `CALL whc.system.describe_history('t')` — the `DESCRIBE DETAIL`
  * report ([[AtomicWarehouse.describe]]): one row per committed entry
  * with kind/rows/files/stats columns, metadata-only. */
final class DescribeProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "describe_history"
  override def description(): String =
    "one row per committed manifest entry: kind, rows, files, stats"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())

  private val schema = StructType(Seq(
    StructField("entry_name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("stats_cols", StringType, nullable = false),
    StructField("has_bloom", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val rows = AtomicWarehouse
      .describe(spark, dirFor(root, str(input, 0)))
      .collect() // O(entries) rows, already driver-computed metadata
      .map(r => new GenericInternalRow(Array[Any](
        utf8(r.getString(0)), utf8(r.getString(1)), r.getLong(2),
        r.getLong(3), utf8(r.getString(4)),
        r.getBoolean(5))): InternalRow)
    result(schema, rows.toSeq)
  }
}

/** `CALL whc.system.history('t')` — Delta's `DESCRIBE HISTORY` shape:
  * one row per RETAINED manifest version, newest first, with the
  * commit instant (the manifest file's mtime, the same derivation the
  * change feed's `_commit_timestamp` uses), a classified operation,
  * and the entry names the version added. O(retained versions)
  * manifest reads + one directory listing; a vacuumed prefix simply
  * ends the walk (the earliest retained version reports itself as
  * such rather than diffing against a destroyed manifest). The
  * operational companion of the change feed: consumers pick their
  * `startingVersion`/`startingTimestamp` from exactly this report. */
final class HistoryProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "history"
  override def description(): String =
    "one row per retained manifest version: commit time, operation, " +
      "entries added"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())

  private val schema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("commit_ts", TimestampType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("added_entries", StringType, nullable = false)))

  private def classify(added: Seq[String]): String = {
    def kind(n: String): String =
      if (AtomicWarehouse.isNoopTombstone(n)) "purge (rewrite)"
      else if (AtomicWarehouse.isTombstone(n)) "purge (deferred)"
      else if (AtomicWarehouse.isPurgeRewrite(n)) "purge (rewrite)"
      else if (n.startsWith("compact_")) "compact"
      else if (n.startsWith("insert_")) "sql insert"
      else if (n.startsWith("merge_")) "sql merge"
      else "append"
    added.map(kind).distinct match {
      case Nil => "no-op"
      case one :: Nil => one
      case many if many.contains("purge (rewrite)") => "purge (rewrite)"
      case many if many.contains("compact") => "compact"
      case many => many.mkString("+")
    }
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val dir = dirFor(root, str(input, 0))
    val times = AtomicWarehouse.manifestTimes(spark, dir)
    val retained = times.keys.toSeq.sorted
    val rows = retained.map { v =>
      val names = AtomicWarehouse.committedEpochsAt(spark, dir, v)
      val (op, added) =
        if (times.contains(v - 1)) {
          val prev = AtomicWarehouse.committedEpochsAt(spark, dir, v - 1)
            .toSet
          val add = names.filterNot(prev)
          (classify(add), add)
        } else if (v == retained.min && v > 1)
          ("(earliest retained)", names)
        else (classify(names), names)
      new GenericInternalRow(Array[Any](
        v, times(v), utf8(op), utf8(added.mkString(",")))): InternalRow
    }.reverse // newest first, Delta's DESCRIBE HISTORY order
    result(schema, rows)
  }
}

/** `CALL whc.system.restore('t', version)` — ROLLBACK
  * ([[AtomicWarehouse.restore]], Delta's RESTORE TABLE): make the live
  * table's content equal the manifest at `version`, committed FORWARD
  * as a new version — history preserved, time travel still reaches the
  * undone versions until vacuum. Refuses targets outside retained
  * history and targets whose entry dirs vacuum destroyed. Change-feed
  * consumers crossing the restore refuse loudly (rows they were served
  * cannot be retracted by an append-only feed); `ignoreDeletes` keeps
  * tailing additions. Returns (entries_restored, version). */
final class RestoreProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import WarehouseProcedures._
  override def name(): String = "restore"
  override def description(): String =
    "roll the table back to a prior version (a new forward commit)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  private val schema = StructType(Seq(
    StructField("entries_restored", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val dir = dirFor(root, str(input, 0))
    require(!input.isNullAt(1), "restore version must not be NULL")
    val n = AtomicWarehouse.restore(spark, dir, input.getLong(1))
    result(schema, Seq(new GenericInternalRow(Array[Any](n,
      AtomicWarehouse.currentVersion(spark, dir)))))
  }
}
