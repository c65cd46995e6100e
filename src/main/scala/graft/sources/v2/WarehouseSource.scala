package graft.sources.v2

import java.util.{Map => JMap}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sinks.AtomicWarehouse
import graft.sinks.AtomicWarehouse.{ColStats, EpochEntry}

/** DataSource V2 connector exposing an [[graft.sinks.AtomicWarehouse]]
  * directory as a first-class Spark table — `spark.read.format(
  * "graft-warehouse")` — so the manifest's pruning machinery (per-column
  * zone maps, key Bloom filters, hive-partitioned epoch layout) is driven
  * by ORDINARY Catalyst predicates instead of the explicit
  * `readRange`/`readRangeOn`/`readPoint` APIs. The reference reaches the
  * same ergonomics through BigQuery: its warehouse is just a table and
  * the server prunes from WHERE clauses (ref: Python-pipeline/
  * ingestdatainbigquery.py:49-76); this connector is that contract on the
  * log-structured parquet warehouse.
  *
  * What a plain `.where(...)` now does, with no API cooperation:
  *
  *  - **epoch skipping**: [[SupportsPushDownFilters]] absorbs =, <, <=,
  *    >, >=, IN and BETWEEN-shaped conjunctions on any column the
  *    manifest carries stats for, and `planInputPartitions` opens only
  *    the epochs whose [min,max] (and, for point predicates on the bloom
  *    key, whose Bloom filter) may match — the filters stay RESIDUAL
  *    (Spark re-evaluates them row-level; pruning is epoch-granular, so
  *    rows inside a surviving epoch still need the predicate);
  *  - **runtime (join-driven) skipping**: [[SupportsRuntimeFiltering]] —
  *    when the warehouse sits on the probe side of a broadcast join,
  *    Spark ships the build side's key set as IN filters AFTER planning
  *    and the scan re-prunes, Delta/Iceberg's dynamic file pruning at the
  *    epoch level;
  *  - **column pruning**: [[SupportsPushDownRequiredColumns]] — each
  *    parquet file is opened with a projected read schema, so unselected
  *    columns are never decoded (and never shipped);
  *  - **partition pruning inside epochs**: epochs committed with
  *    `partitionBy` keep their hive layout; the file lister parses the
  *    `col=value` path segments and prunes files whose partition value
  *    fails a pushed predicate, then serves the value back as a column.
  *
  * The connector serves the LOG view: every committed row-version, with
  * `load_seq` — the merged (last-wins) view is one window on top. That
  * split is deliberate: the merge is a shuffle, which a Scan cannot (and
  * should not) hide, and change-data consumers want the raw versions
  * anyway. [[AtomicWarehouse]]'s reads are this scan under that window,
  * handed the manifest entries they resolved ([[WarehouseConnector
  * .EngineRead]]). Pruning a filtered merged read stays sound under
  * readRangeOn's version-stability contract, which the caller owns
  * either way.
  *
  * Time travel: `.option("version", N)` reads the manifest as of version
  * N — same contract as [[AtomicWarehouse.readVersion]].
  *
  * Files are decoded executor-side by Spark's own vectorized parquet
  * reader, each under its physical column names, with pushed filters
  * skipping row groups by footer statistics (the third pruning level,
  * the one `clusterBy` writes feed); [[WarehouseReaderFactory]] maps the
  * decoded rows onto the served schema and applies tombstone drops.
  * Drained epochs are all-string + load_seq by F19/F20; directly-committed
  * epochs keep their primitive types; INT96 and INT64(MILLIS|MICROS)
  * timestamps both decode, never rebased. The CONTRACT — what is pruned, what is
  * projected, what is residual — is what this class pins.
  *
  * Point lookups are answered on the driver: a read whose pushed filters
  * pin the merge key to a few literals and whose planning leaves a few
  * small files decodes them at planning time through the same factory
  * ([[WarehouseScan.driverRead]], [[WarehouseConnector.readOnDriver]]),
  * and runs no Spark job.
  *
  * Scale: planning reads ONE manifest file (O(epochs) entries, kept short
  * by compaction) and lists only surviving epochs' dirs; files BIN-PACK
  * into input partitions by Spark's own maxSplitBytes formula
  * ([[WarehouseConnector.packPartitions]]), so task count tracks
  * bytes/parallelism exactly like the native parquet source — never one
  * task per tiny file. At 100 TB with time-windowed drains, a
  * date-windowed query opens O(window) epochs — the manifest does for the
  * warehouse what partition discovery does for a hive table, without
  * listing a single pruned directory.
  */
class WarehouseSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-warehouse"
  // external metadata = the WRITE path hands us the DataFrame's schema
  // (a first write targets an EMPTY warehouse, which has none to infer)
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    require(dir != null && dir.nonEmpty,
      "graft-warehouse requires .option(\"path\", <warehouse dir>)")
    val spark = SparkSession.active
    // `version`/`timestampAsOf` exclusivity is checked HERE as well as
    // in getTable so both entry points refuse consistently (inferSchema
    // used to silently prefer `version` when both were set)
    require(options.get("version") == null ||
      options.get("timestampAsOf") == null,
      "version and timestampAsOf are mutually exclusive")
    // change-feed reads resolve their schema at the END version —
    // including a timestamp-bounded end (same bracketing newScanBuilder
    // applies: the latest commit AT OR BEFORE the instant);
    // `timestampAsOf` is time travel by instant (the DataFrame face of
    // the catalog's TIMESTAMP AS OF)
    val v = Option(options.get("version")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(
        WarehouseConnector.versionAtTimestamp(spark, dir, _)))
      .orElse(Option(options.get("endingVersion")).map(_.toLong))
      .orElse(Option(options.get("endingTimestamp")).map { raw =>
        val ts = WarehouseConnector.parseTsMicros(raw, "endingTimestamp")
        val cands = AtomicWarehouse.manifestTimes(spark, dir)
          .filter(_._2 <= ts)
        require(cands.nonEmpty,
          s"endingTimestamp $raw precedes the earliest retained commit")
        cands.keys.max
      })
      .getOrElse(AtomicWarehouse.currentVersion(spark, dir))
    val base = WarehouseConnector.snapshotSchema(spark, dir, v)
    if (!options.getBoolean("readChangeFeed", false)) base
    else {
      // row-level feed: data columns + the CDF columns, Delta-style.
      // A data column already named `_change_type`/`_commit_version`
      // would be shadowed — refuse rather than serve ambiguity.
      val cdfCols = Seq(WarehouseConnector.ChangeTypeColumn,
        WarehouseConnector.CommitVersionColumn,
        WarehouseConnector.CommitTimestampColumn)
      require(!base.fieldNames.exists(cdfCols.contains),
        s"readChangeFeed reserves columns ${cdfCols.mkString(", ")}, " +
          s"which this table already has")
      base.add(StructField(WarehouseConnector.ChangeTypeColumn,
          StringType, nullable = false))
        .add(StructField(WarehouseConnector.CommitVersionColumn,
          LongType, nullable = false))
        .add(StructField(WarehouseConnector.CommitTimestampColumn,
          TimestampType, nullable = false))
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val dir = properties.get("path")
    val v = Option(properties.get("version")).map(_.toLong)
      .orElse(Option(properties.get("timestampAsOf")).map(
        WarehouseConnector.versionAtTimestamp(SparkSession.active, dir, _)))
    require(properties.get("version") == null ||
      properties.get("timestampAsOf") == null,
      "version and timestampAsOf are mutually exclusive")
    new WarehouseTable(dir, v, schema,
      Option(properties.get("mergeKey")).getOrElse(""))
  }
}

/** Driver-side planning helpers of [[WarehouseScan]], which plans batch
  * reads, change feeds and every micro-batch of the manifest tail. */
object WarehouseConnector {

  /** Metadata column exposing each row's MANIFEST POSITION — the index
    * of the row's entry in the manifest at the served version. This is
    * the `load_seq` TIEBREAKER [[AtomicWarehouse]]'s merged read orders
    * by (served there as `__pos`): self-sequencing writers (SQL
    * MERGE/INSERT) make equal load_seq values reachable, and manifest
    * order — commit order — decides the winner deterministically. SQL
    * consumers doing their own last-wins window MUST order by
    * `(load_seq DESC, _pos DESC)`; ordering by load_seq alone is
    * nondeterministic on a tie and can disagree with the engine read. Iceberg/Delta expose `_file`-style
    * metadata the same way (SupportsMetadataColumns: only materialized
    * when selected — zero cost otherwise). */
  val PosColumn = "_pos"

  /** Row-level change-feed columns, served only under
    * `.option("readChangeFeed", true)` — the Delta-CDF consumer
    * surface: every fed row carries `_change_type`
    * ('insert' | 'update_postimage' | 'delete') and `_commit_version`
    * (the manifest version whose commit produced it). SQL UPDATE
    * epochs type as postimages ([[feedChangeType]]); delete rows are
    * synthesized from tombstone key lists — deferred purges' and CoW
    * purge logs' alike: the key column populated, every other data
    * column null (the manifest records keys, not pre-images). */
  val ChangeTypeColumn = "_change_type"
  val CommitVersionColumn = "_commit_version"

  /** The `_change_type` a data entry's fed rows carry, by ENTRY NAME:
    * SQL UPDATE epochs (`update_v*`, [[graft.plans
    * .RewriteWarehouseUpdate]]) type as 'update_postimage' — Delta
    * CDF's convention for the new row versions an UPDATE produced (the
    * appended epoch IS the post-image; the engine's manifest records
    * winners, never diffs, so pre-images are not served) — and every
    * other append is 'insert'. Last-wins consumers
    * ([[graft.ops.Merge.applyChangeFeed]]) treat both as upserts;
    * audit/diff consumers can now tell an update from a fresh
    * insert. */
  def feedChangeType(entry: String): String =
    if (AtomicWarehouse.isDeletePreimageLog(entry)) "delete"
    else if (AtomicWarehouse.isPreimageLog(entry)) "update_preimage"
    else if (entry.startsWith("update_v")) "update_postimage"
    else "insert"
  /** Wall-clock commit instant of `_commit_version` — the version's
    * manifest-file mtime, Delta's own derivation. */
  val CommitTimestampColumn = "_commit_timestamp"

  private[v2] object PosMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosColumn
    override def dataType(): DataType = IntegerType
    override def isNullable: Boolean = false
    override def comment(): String =
      "manifest position of the row's entry — the deterministic " +
        "load_seq tiebreaker (ORDER BY load_seq DESC, _pos DESC)"
  }

  /** An [[AtomicWarehouse]] read, resolved by the engine before the
    * scan is built: the manifest entry list it reads against (a
    * version's manifest, or the subset [[AtomicWarehouse
    * .minMaxOfEntries]] re-scans — positions are indexes into it) and
    * its predicate as source filters, each literal typed as the read
    * compares: a `Long` against a string-stored key admits the rows whose
    * key `try_cast`s to it, a `String` against an integral column the
    * rows whose value renders as it. The filters are prune-only:
    * [[WarehouseScan]] judges entries and files by them as by the pushed
    * ones ([[epochMayMatch]], [[pinnedDrops]]) and pins a driver read by
    * them ([[pinnedLiterals]]), but never hands them to the parquet
    * reader; the read's Catalyst predicate filters the rows. Compared by
    * identity: every planning of one read shares it, and a manifest's
    * stats are too large to compare. */
  final class EngineRead(val entries: Seq[EpochEntry],
      val filters: Seq[Filter])

  /** Timestamp-option parser shared by `timestampAsOf` and the change
    * feed's `startingTimestamp`/`endingTimestamp`: ISO-8601 instant or
    * the SQL `yyyy-MM-dd HH:mm:ss[.f…]` rendering, → micros since
    * epoch. */
  def parseTsMicros(s: String, what: String): Long =
    try java.time.Instant.parse(s).toEpochMilli * 1000L
    catch { case _: Exception =>
      try java.sql.Timestamp.valueOf(s).getTime * 1000L
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          s"$what must be an ISO-8601 instant or " +
            s"'yyyy-MM-dd HH:mm:ss[.f…]', got '$s'")
      }
    }

  /** `timestampAsOf` resolution: the newest manifest version committed
    * AT OR BEFORE the instant (manifest mtimes — Delta's derivation and
    * its documented clock caveat). Loud when the instant precedes the
    * earliest retained commit. */
  def versionAtTimestamp(spark: SparkSession, dir: String,
      ts: String): Long = {
    val micros = parseTsMicros(ts, "timestampAsOf")
    val cands = AtomicWarehouse.manifestTimes(spark, dir)
      .filter(_._2 <= micros)
    require(cands.nonEmpty,
      s"timestampAsOf $ts precedes the earliest retained commit of $dir")
    cands.keys.max
  }

  /** The snapshot's schema at manifest version `v`: the UNION of the
    * committed epochs' schemas in commit order (additive evolution — a
    * column present in any epoch appears; epochs that lack it serve
    * nulls). Conflicting types for one name are refused loudly
    * ([[AtomicWarehouse.requireSameType]]) — silent coercion would make
    * the connector's nulls indistinguishable from cast losses. */
  def snapshotSchema(spark: SparkSession, dir: String, v: Long): StructType =
    servedSchema(spark, dir, AtomicWarehouse.committedEntriesAt(spark, dir, v))

  /** [[snapshotSchema]] of the manifest entry list `all`. */
  def servedSchema(spark: SparkSession, dir: String,
      all: Seq[EpochEntry]): StructType = {
    // an EMPTY warehouse (first write's target) has nothing to infer:
    // an empty schema lets the write path proceed (it brings its own
    // schema via supportsExternalMetadata); a read of it is just empty.
    // Tombstone entries are key lists, not data — never part of the
    // table schema. Column-mapping directives resolve each epoch's
    // physical names to the SERVED names (rename) or mask them (drop).
    val ops = AtomicWarehouse.colMapOps(all)
    val posOf = all.map(_.name).zipWithIndex.toMap
    val entries = all.filterNot(e =>
      AtomicWarehouse.isTombstone(e.name) || AtomicWarehouse.isColMap(e.name))
    entries.foldLeft(new StructType()) { (acc, e) =>
      entrySchema(spark, dir, e).foldLeft(acc) { (a, f0) =>
        AtomicWarehouse.effectiveName(f0.name, posOf(e.name), ops) match {
          case None => a // dropped by a later directive
          case Some(served) =>
            val f = f0.copy(name = served)
            a.fields.find(_.name == f.name) match {
              case None => a.add(f.copy(nullable = true))
              case Some(prev) =>
                AtomicWarehouse.requireSameType(dir, f.name, prev.dataType,
                  f.dataType, s"entry ${e.name}")
                a
            }
        }
      }
    }
  }

  // ---- O(1)-job epoch schema resolution -------------------------------
  //
  // `spark.read.parquet(epochDir).schema` launches a driver JOB per epoch
  // (file listing + footer inference), which made connector PLANNING
  // O(entries) × ~60 ms — ~6 s at 100 epochs, a minute at 1000 (the
  // manifest-scale probe's finding). Epoch dirs are publish-once
  // immutable, so the schema is read ONCE per (dir, entry) straight from
  // the first data file's parquet footer (~2 ms, no Spark job) plus the
  // hive partition segments, and memoized in a bounded LRU shared by
  // every scan/catalog/write-validation in the session.

  private val SchemaCacheMax = 4096
  private val schemaCache =
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > SchemaCacheMax
    }

  /** Entry-aware schema resolution: the manifest-recorded read schema
    * ([[AtomicWarehouse.SchemaStat]], zero I/O) when the entry carries
    * one, the footer read otherwise. Seeds the same LRU so legacy
    * name-only lookups hit too. */
  private[graft] def entrySchema(spark: SparkSession, dir: String,
      e: AtomicWarehouse.EpochEntry): StructType =
    e.stats.get(AtomicWarehouse.SchemaStat) match {
      case Some(st) =>
        val key = s"$dir/${e.name}"
        schemaCache.synchronized {
          val hit = schemaCache.get(key)
          if (hit != null) hit
          else {
            val parsed = org.apache.spark.sql.types.DataType
              .fromJson(st.mn).asInstanceOf[StructType]
            schemaCache.put(key, parsed)
            parsed
          }
        }
      case None => epochSchema(spark, dir, e.name)
    }

  private[graft] def epochSchema(spark: SparkSession, dir: String,
      name: String): StructType = {
    val key = s"$dir/$name"
    schemaCache.synchronized {
      val hit = schemaCache.get(key)
      if (hit != null) return hit
    }
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = listEpochFiles(f, dir, name)
    val computed: StructType =
      if (files.isEmpty) new StructType()
      else footerStructType(f, files.head.path) match {
        case Some(dataSchema) =>
          // partition columns come from the path segments, typed over
          // every observed value with Spark's own inference precedence
          // (int → long → double → date → string); they follow the data
          // columns exactly as Spark's partition discovery orders them
          val partCols = files.head.partValues.map(_._1)
          partCols.foldLeft(dataSchema) { (acc, c) =>
            val vals = files.flatMap(_.partValues.collect {
              case (`c`, v) if v != "__HIVE_DEFAULT_PARTITION__" => v
            })
            acc.add(StructField(c, inferPartitionType(vals)))
          }
        case None => spark.read.parquet(key).schema // exotic type: 1 job
      }
    schemaCache.synchronized(schemaCache.put(key, computed))
    computed
  }

  /** Parquet footer → Spark schema for the flat shapes warehouse epochs
    * hold (the exact inverse of [[WarehouseSink.messageType]] plus the
    * reader's decode table). None for anything outside that contract —
    * the caller falls back to Spark's own inference. */
  private def footerStructType(f: FileSystem,
      path: String): Option[StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), f.getConf))
    val msg = try r.getFileMetaData.getSchema finally r.close()
    import scala.jdk.CollectionConverters._
    val fields = msg.getFields.asScala.map { t =>
      if (!t.isPrimitive) return None
      val pt = t.asPrimitiveType()
      val dt: DataType = (pt.getPrimitiveTypeName,
          pt.getLogicalTypeAnnotation) match {
        case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
          if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
        case (INT64, null |
            _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) => LongType
        case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          DateType
        case (INT32, null |
            _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) => IntegerType
        case (BINARY,
            _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) => StringType
        case (DOUBLE, _) => DoubleType
        case (FLOAT, _) => FloatType
        case (BOOLEAN, _) => BooleanType
        case (INT96, _) => TimestampType
        case _ => return None
      }
      StructField(t.getName, dt, nullable = true)
    }
    Some(StructType(fields.toSeq))
  }

  /** Spark's partition-value type inference precedence, restricted to
    * the types the reader's `partValue` can serve back. */
  private def inferPartitionType(vals: Seq[String]): DataType =
    if (vals.isEmpty) StringType
    else if (vals.forall(v => v.toIntOption.isDefined)) IntegerType
    else if (vals.forall(v => v.toLongOption.isDefined)) LongType
    else if (vals.forall(v => v.toDoubleOption.isDefined)) DoubleType
    else if (vals.forall(v =>
      scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) DateType
    else StringType

  /** One data file of one epoch: absolute path plus the hive partition
    * values parsed from `col=value` path segments between the epoch dir
    * and the file (empty for unpartitioned epochs). `len` rides along
    * from the listing so size statistics never re-stat files. */
  final case class WhFile(path: String, epoch: String,
      partValues: Seq[(String, String)], len: Long = 0L)

  /** Hive-style %-unescape (Spark escapes path-hostile chars on write).
    * Decodes to BYTES first and UTF-8-decodes once at the end — a
    * multi-byte character escapes as consecutive %XX pairs, and decoding
    * each pair to a char would mangle it. */
  def unescapePath(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        out.write((Character.digit(s.charAt(i + 1), 16) << 4) |
          Character.digit(s.charAt(i + 2), 16))
        i += 3
      } else {
        val bytes = c.toString.getBytes("UTF-8")
        out.write(bytes, 0, bytes.length)
        i += 1
      }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** The entry's data files from its manifest-recorded file list
    * ([[AtomicWarehouse.FilesStat]], zero filesystem calls) when it
    * carries one, the recursive walk otherwise. Partition `col=value`
    * segments are parsed from the recorded relative paths exactly as
    * the walk would parse them. */
  def entryFiles(f: FileSystem, dir: String,
      e: AtomicWarehouse.EpochEntry): Seq[WhFile] =
    e.stats.get(AtomicWarehouse.FilesStat) match {
      case Some(st) if st.mn.nonEmpty =>
        st.mn.split('\n').toSeq.map { line =>
          val Array(len, rel) = line.split("\t", 2)
          val parts = rel.split('/').dropRight(1).toSeq.flatMap {
            _.split("=", 2) match {
              case Array(k, v) => Seq(unescapePath(k) -> unescapePath(v))
              case _ => Nil
            }
          }
          WhFile(s"$dir/${e.name}/$rel", e.name, parts, len.toLong)
        }
      case Some(_) => Nil // recorded-empty epoch: no data files
      case None => listEpochFiles(f, dir, e.name)
    }

  /** Version `v`'s entry REMOVALS that its own additions do not
    * explain. A fold removes its base behind a `compact_*` addition; a
    * CoW purge renames each victim to `<name>_p<V>*`. Anything else —
    * in practice a RESTORE rollback — dropped entries a feed consumer
    * may already have been served, which an append-only feed cannot
    * express: callers refuse loudly (or skip under `ignoreDeletes`,
    * the purge trade — the consumer keeps rows the table dropped). */
  def unexplainedRemovals(prevNames: Seq[String], curNames: Seq[String],
      namesAt: Long => Seq[String]): Seq[String] = {
    val cur = curNames.toSet
    val prev = prevNames.toSet
    val removed = prevNames.filterNot(cur)
    if (removed.isEmpty) Nil
    else {
      // A NEW `compact_vN` entry explains exactly the removals it FOLDED
      // — the entries committed as of the manifest it was built against
      // (the fold's CAS requires its base to be a verbatim prefix of the
      // manifest it replaces, so base == namesAt(N)). "Any new compact
      // explains ALL removals" (the pre-round-14 rule) misclassified a
      // RESTORE FORWARD to a previously-compacted state: re-adding the
      // compact also removes epochs committed AFTER it — rows consumers
      // were served and the fold does NOT contain — and the feed sailed
      // across the rollback without the refusal. A vacuumed base
      // manifest (namesAt throws) explains nothing: the walk then
      // refuses loudly, the safe direction.
      val CompactName = """compact_v(\d+)""".r
      val folded: Set[String] = curNames.collect {
        case n @ CompactName(bv) if !prev(n) =>
          try namesAt(bv.toLong).toSet
          catch { case _: Exception => Set.empty[String] }
      }.foldLeft(Set.empty[String])(_ ++ _)
      removed.filterNot(r => folded(r) ||
        curNames.exists(n => n.startsWith(r + "_p") && !prev(n)))
    }
  }

  private def refuseRollback(v: Long, removed: Seq[String]): Nothing =
    throw new UnsupportedOperationException(
      s"graft-warehouse change feed hit a ROLLBACK at manifest v$v " +
        s"(entries dropped without a fold or purge: " +
        s"${removed.mkString(", ")}): already-served rows cannot be " +
        "retracted by an append-only feed — restart the consumer from " +
        "a fresh snapshot, or set .option(\"ignoreDeletes\", true) to " +
        "keep tailing additions only")

  /** Entry names ADDED to the manifest in the version range (s, e], in
    * commit order — the STEPPED change-feed walk. It serves every NEW
    * data entry — drained `epoch_*`, SQL `insert_*`/`merge_*` — but
    * never a `compact_*` fold (a re-materialization of rows the
    * consumer already has). Purge rewrites, tombstones and rollbacks
    * inside the range REFUSE unless `ignoreDeletes`: an append-only feed
    * cannot retract already-served rows. `namesAt` supplies each
    * version's committed names. */
  def steppedEntriesBetween(s: Long, e: Long, ignoreDeletes: Boolean,
      namesAt: Long => Seq[String]): Seq[String] =
    (s + 1 to e).flatMap { v =>
      val prev = namesAt(v - 1).toSet
      val added = namesAt(v).filterNot(prev)
      val rolledBack = unexplainedRemovals(namesAt(v - 1), namesAt(v), namesAt)
      if (rolledBack.nonEmpty && !ignoreDeletes) refuseRollback(v, rolledBack)
      // an UPDATE's preimage log is not a retraction — the stepped walk
      // neither refuses on it nor serves it (the postimage epoch is the
      // appended data)
      val purgeSwaps = added.filter(n => (AtomicWarehouse.isPurgeRewrite(n) ||
        AtomicWarehouse.isTombstone(n)) && !AtomicWarehouse.isPreimageLog(n))
      if (purgeSwaps.nonEmpty && !ignoreDeletes)
        throw new UnsupportedOperationException(
          s"graft-warehouse change feed hit a PURGE at manifest v$v " +
            s"(${purgeSwaps.mkString(", ")}): an append-only feed " +
            "cannot retract already-served rows — restart from a fresh " +
            "snapshot, set .option(\"ignoreDeletes\", true) to skip " +
            "purge rewrites, or set .option(\"readChangeFeed\", true) " +
            "to receive deletes as _change_type='delete' rows")
      added.filterNot(n => n.startsWith("compact_") ||
        AtomicWarehouse.isPurgeRewrite(n) ||
        AtomicWarehouse.isTombstone(n) ||
        AtomicWarehouse.isColMap(n)) // manifest-only metadata, never rows
    }.distinct

  /** Sentinel name of a restore's delete INSTANCE of entry `n` at
    * version `v` — distinct from `n` itself (which the feed also served
    * as an insert), so the interleaved order assigns it its OWN
    * position: strictly above the insert's (first appearance is
    * earlier), strictly below every end-manifest entry (all folded
    * names go negative). The NUL separator cannot appear in entry names. */
  def restoreDelSentinel(n: String, v: Long): String = n + "\u0000restore" + v

  /** COLUMN-MAPPING resolution shipped per file partition: for an entry
    * at manifest position `pos`, (renames served→physical, masked
    * physical names). Only names a directive mentions can differ from
    * identity, so per-entry physical schemas are never consulted —
    * O(directives) per distinct position. */
  def colMapResolution(pos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)])
      : (Array[(String, String)], Array[String]) =
    if (ops.isEmpty) (Array.empty, Array.empty)
    else {
      val physNames = ops.flatMap {
        case (_, AtomicWarehouse.RenameOp(o, n)) => Seq(o, n)
        case (_, AtomicWarehouse.DropOp(c)) => Seq(c)
      }.distinct
      val renames = Seq.newBuilder[(String, String)]
      val masked = Seq.newBuilder[String]
      physNames.foreach { c =>
        AtomicWarehouse.effectiveName(c, pos, ops) match {
          case Some(n) if n != c => renames += (n -> c); masked += c
          case None => masked += c
          case _ => ()
        }
      }
      (renames.result().toArray, masked.result().toArray)
    }

  /** ROW-LEVEL change-feed classification of the version range (s, e]:
    * `(data, deletes)` — data entries (`epoch_*`/`insert_*`/`merge_*`,
    * each an `_change_type='insert'` batch) and TOMBSTONE entries (each
    * a batch of `_change_type='delete'` key rows — the deferred purge's
    * key list IS the delete set, already in the manifest), both tagged
    * with the manifest version that committed them (`_commit_version`).
    * Compaction folds are skipped (no logical change). CoW purge
    * rewrites serve their retraction through the PURGE LOG committed
    * with them (a no-op tombstone holding the key list —
    * [[AtomicWarehouse.isNoopTombstone]]); only UNLOGGED rewrites
    * (pre-log history) still refuse — they record the 8-hex key-set
    * digest, not the keys. `ignoreDeletes` keeps its meaning: skip
    * every retraction (no delete rows, rewrites skipped) and serve
    * appends only.
    *
    * Returns `(data, deletes, order, restoreDeletes)`. `order` is the
    * served names in INTERLEAVED COMMIT ORDER (version ascending,
    * within-version manifest order), the order folded-out entries'
    * negative `_pos` values must follow: assigning all data entries
    * below all delete entries regardless of commit order would let a
    * purge's delete row outrank a LATER re-insert folded out by the same
    * compaction, wrongly suppressing the re-added key in every
    * `__dpos > _pos` consumer merge. `restoreDeletes` are the entries a
    * restore removed, each with the version that removed it
    * (`restoreAsDeletes`). */
  def cdfAddsBetween(s: Long, e: Long, ignoreDeletes: Boolean,
      namesAt: Long => Seq[String], includePreimages: Boolean = false,
      restoreAsDeletes: Boolean = false)
      : (Seq[(String, Long)], Seq[(String, Long)], Seq[String],
         Seq[(String, Long)]) = {
    val restoreDels = Seq.newBuilder[(String, Long)]
    val adds = (s + 1 to e).flatMap { v =>
      val prev = namesAt(v - 1)
      // ROLLBACK detection, same contract as the stepped walk: a
      // restore drops entries this feed may already have served.
      // `.option("restoreAsDeletes", true)` serves the rollback as
      // ROW-LEVEL RETRACTIONS instead (c83): each removed DATA entry's
      // rows become `_change_type='delete'` rows (the entry's own
      // files, re-planned with a delete position above the insert's) —
      // Delta's CDF-by-file-diff for RESTORE. Threshold suppression
      // (`__dpos > _pos`) converges because every SURVIVING entry holds
      // an end-manifest position ABOVE the delete's negative one, so a
      // key's older surviving version falls back exactly like the
      // engine's own merged read. Refused shapes (the cases where the
      // position argument breaks): a restore FORWARD (re-added
      // entries), undone RETRACTIONS (removed tombstones/rewrites —
      // un-deleting is not expressible), and a range that also
      // contains a compaction (folded-out survivors would sort below
      // the delete and be wrongly suppressed).
      val rolledBack = unexplainedRemovals(prev, namesAt(v), namesAt)
      if (rolledBack.nonEmpty && !ignoreDeletes) {
        if (!restoreAsDeletes) refuseRollback(v, rolledBack)
        val readded = namesAt(v).filterNot(prev.toSet)
        if (readded.nonEmpty)
          throw new UnsupportedOperationException(
            s"graft-warehouse change feed: restoreAsDeletes cannot serve " +
              s"the restore FORWARD at v$v (re-adds ${readded.mkString(", ")}" +
              ") — re-added rows are indistinguishable from the copies " +
              "already served; restart the consumer from a fresh snapshot")
        val undoneRetractions = rolledBack.filter(n =>
          AtomicWarehouse.isTombstone(n) || AtomicWarehouse.isPurgeRewrite(n))
        if (undoneRetractions.nonEmpty)
          throw new UnsupportedOperationException(
            s"graft-warehouse change feed: restoreAsDeletes cannot serve " +
              s"the rollback at v$v — it UNDOES retractions " +
              s"(${undoneRetractions.mkString(", ")}), and an append-only " +
              "feed cannot un-delete; restart from a fresh snapshot")
        rolledBack.filterNot(_.startsWith("compact_"))
          .foreach(n => restoreDels += (n -> v))
      }
      val prevSet = prev.toSet
      namesAt(v).filterNot(prevSet).map(_ -> v)
    }.distinctBy(_._1)
    val rDels = restoreDels.result()
    if (rDels.nonEmpty && adds.exists(_._1.startsWith("compact_")))
      throw new UnsupportedOperationException(
        "graft-warehouse change feed: restoreAsDeletes cannot share a " +
          "version range with a COMPACTION (folded-out pre-restore " +
          "survivors would sort below the restore's delete position and " +
          "be wrongly suppressed) — restart from a fresh snapshot, or " +
          "read the restore and the fold in separate ranges")
    val rewrites = adds.filter(p => AtomicWarehouse.isPurgeRewrite(p._1))
    // a CoW purge commits a NO-OP tombstone — its purge LOG, the key
    // list verbatim — in the SAME manifest version as its rewrites
    // ([[AtomicWarehouse.purgeKeysImpl]]), so a rewrite version carrying
    // one serves its retraction through that tombstone's
    // `_change_type='delete'` rows exactly like a deferred purge.
    // UNLOGGED rewrites (pre-log warehouses) still refuse: they name
    // only the key-set digest, so the deleted keys are gone.
    val loggedVersions = adds.collect {
      case (n, v) if AtomicWarehouse.isNoopTombstone(n) &&
        !AtomicWarehouse.isPreimageLog(n) &&
        !AtomicWarehouse.isDeletePreimageLog(n) => v
    }.toSet
    val unlogged = rewrites.filterNot(p => loggedVersions(p._2))
    if (unlogged.nonEmpty && !ignoreDeletes)
      throw new UnsupportedOperationException(
        s"graft-warehouse change feed hit an UNLOGGED copy-on-write " +
          s"PURGE at manifest v${unlogged.head._2} " +
          s"(${unlogged.map(_._1).mkString(", ")}): the rewrite names " +
          "only its key-set digest and carries no purge log, so the " +
          "deleted keys cannot be served as _change_type='delete' rows " +
          "— purges committed by this engine version log their keys; " +
          "for this history, purge with purgeKeysDeferred (tombstones) " +
          "or set .option(\"ignoreDeletes\", true) to skip retractions")
    // UPDATE preimage logs ride the tombstone_noop_ namespace but are
    // NOT retractions: never serve them as delete rows; serve them as
    // 'update_preimage' DATA entries only when the consumer asked
    // (includePreimages — Delta CDF's full update contract). DELETE
    // preimage logs (c86, `graft.delete.logPreimages`) hold the purged
    // keys' winner rows: behind includePreimages they are served as
    // FULL-PAYLOAD `_change_type='delete'` DATA and their tombstone's
    // key-only rows are dropped (serving both would double the
    // deletes); without the opt-in they are skipped and the key-only
    // tombstone serves as before. Never treat them as key lists.
    val (delPres, rest0) = adds
      .filterNot(p => AtomicWarehouse.isPurgeRewrite(p._1))
      .partition(p => AtomicWarehouse.isDeletePreimageLog(p._1))
    val (pres, nonPre) = rest0
      .partition(p => AtomicWarehouse.isPreimageLog(p._1))
    val (tombs, rest) = nonPre
      .partition(p => AtomicWarehouse.isTombstone(p._1))
    val servedDelPres =
      if (includePreimages && !ignoreDeletes) delPres else Nil
    val loggedTombs = servedDelPres
      .map(_._1.stripPrefix("tombstone_noop_delpre_")).toSet
    // COLUMN-MAPPING directives are manifest-only metadata, never rows.
    // A batch feed range may contain them (every served entry's columns
    // resolve to the END version's names) — UNLESS the range also holds
    // a compaction: entries folded out BEFORE a folded-away directive
    // would serve raw pre-mapping names, silently forking the feed.
    if (rest.exists(p => AtomicWarehouse.isColMap(p._1)) &&
        adds.exists(_._1.startsWith("compact_")))
      throw new UnsupportedOperationException(
        "graft-warehouse change feed: a version range holding BOTH a " +
          "column-mapping directive and a compaction cannot be served " +
          "(folded-out entries would bypass the mapping) — read them in " +
          "separate ranges, or restart from a fresh snapshot")
    val data = rest.filterNot(p => p._1.startsWith("compact_") ||
      AtomicWarehouse.isColMap(p._1)) ++
      (if (includePreimages) pres else Nil) ++ servedDelPres
    val dels =
      if (ignoreDeletes) Nil else tombs.filterNot(p => loggedTombs(p._1))
    val served = (data ++ dels).map(_._1).toSet
    // interleaved commit order, restore-delete SENTINELS spliced in at
    // their version (after that version's additions — irrelevant in
    // practice since a pure rollback version adds nothing)
    val delsAt = rDels.groupBy(_._2)
    val order = (s + 1 to e).flatMap { v =>
      adds.filter(p => p._2 == v && served(p._1)).map(_._1) ++
        delsAt.getOrElse(v, Nil).map(p => restoreDelSentinel(p._1, v))
    }
    (data, dels, order, rDels)
  }

  /** Spark's own FilePartition BIN-PACKING applied to the connector's
    * planned files: one task per FILE made every tiny-file epoch pay
    * ~2 ms of scheduler overhead per file — the round-11 probe's 28 s
    * scan floor at 12.8k files was task scheduling, not I/O. Packing
    * follows the native formula (`maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, totalBytes / defaultParallelism))`, greedy
    * first-fit over size-descending files) so the connector schedules
    * the same O(bytes) task count the built-in parquet source would,
    * while small tables still fan out across cores. Files are whole
    * units here (never split by row-group range) — for the MB-scale
    * parts the sized drains write, a file fits one bin anyway. */
  def packPartitions(spark: SparkSession, files: Seq[WarehouseFilePartition])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val maxBytes = sqlConf.filesMaxPartitionBytes
    val openCost = sqlConf.filesOpenCostInBytes
    val parallelism = spark.sparkContext.defaultParallelism.toLong max 1L
    val total = files.map(_.len + openCost).sum
    val maxSplit = math.min(maxBytes,
      math.max(openCost, total / parallelism))
    val bins = Array.newBuilder[org.apache.spark.sql.connector.read.InputPartition]
    val cur = Array.newBuilder[WarehouseFilePartition]
    var curBytes = 0L
    var curN = 0
    def flush(): Unit = if (curN > 0) {
      val fs = cur.result()
      bins += (if (fs.length == 1) fs(0) else WarehouseFilesPartition(fs))
      cur.clear(); curBytes = 0L; curN = 0
    }
    files.sortBy(-_.len).foreach { fp =>
      val cost = fp.len + openCost
      if (curN > 0 && curBytes + cost > maxSplit) flush()
      cur += fp; curBytes += cost; curN += 1
    }
    flush()
    bins.result()
  }

  /** Recursive listing of an epoch dir's parquet files, collecting
    * partition `col=value` segments along the way. Hidden files/dirs and
    * markers are skipped, as Spark's own file index does. */
  def listEpochFiles(f: FileSystem, dir: String, epoch: String): Seq[WhFile] = {
    def walk(p: Path, parts: Seq[(String, String)]): Seq[WhFile] =
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (st.isDirectory) {
          val kv = n.split("=", 2) match {
            case Array(k, v) => Seq(unescapePath(k) -> unescapePath(v))
            case _ => Nil
          }
          walk(st.getPath, parts ++ kv)
        } else if (n.endsWith(".parquet"))
          Seq(WhFile(st.getPath.toString, epoch, parts, st.getLen))
        else Nil
      }
    walk(new Path(s"$dir/$epoch"), Nil)
  }

  /** Can entry `e` hold a row that every one of `filters` admits? The one
    * pruning verdict of every read of the warehouse — connector SQL,
    * engine reads ([[EngineRead]]), purges and tombstone counts.
    * Conservative: unknown filter shapes, stat-less columns and
    * unparseable values keep the entry. Zone maps compare as the stats
    * were recorded: numeric stats as longs, string stats in UTF-8 byte
    * order (date/timestamp literals render to their ISO forms first, the
    * encoding [[AtomicWarehouse.colStatsOf]] recorded). Where the
    * literal's type differs from the column's stored one, equality is
    * judged as the read compares:
    *
    *  - a string literal against long stats pins the column's rendering,
    *    a canonical decimal: it compares numerically when it parses as a
    *    long and matches nothing when it does not;
    *  - a long literal against string stats fixes only the key's
    *    `try_cast` to long, which also admits non-canonical renderings
    *    (`"07"`, `" 7"`, `"+7"`) outside the lexicographic bounds of the
    *    canonical one: the zone map is inconclusive.
    *
    * Equality then consults the entry's Bloom filters (no false
    * negatives, so a miss excludes the entry): the long bloom, which
    * hashes the key's cast to long, for any literal with a long form,
    * and the string bloom for a string literal. Each bloom is decoded at
    * most once per call, however many literals probe it. */
  def epochMayMatch(e: EpochEntry, mergeKey: String,
      filters: Seq[Filter]): Boolean = {
    val blooms = scala.collection.mutable.HashMap
      .empty[String, Option[org.apache.spark.util.sketch.BloomFilter]]
    def bloom(slot: String, typ: String) = blooms.getOrElseUpdate(slot,
      e.stats.get(slot).collect { case ColStats(`typ`, b64, _) =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b64)))
      })
    def eq(c: String, v: Any): Boolean =
      mayHold(e, mergeKey, c, v, atLeast = true, atMost = true) &&
        longLit(v).orElse(v match {
          case s: String => s.toLongOption
          case _ => None
        }).forall(l => bloom(AtomicWarehouse.bloomStatsCol(c), "bloom")
          .forall(_.mightContain(l))) &&
        (v match {
          case s: String => bloom(AtomicWarehouse.bloomStrStatsCol(c),
            "bloomstr").forall(_.mightContainString(s))
          case _ => true
        })
    def may(f: Filter): Boolean = f match {
      case EqualTo(c, v) => eq(c, v)
      case EqualNullSafe(c, v) if v != null => eq(c, v)
      case In(c, vs) => vs.exists(v => v != null && eq(c, v))
      case GreaterThan(c, v) => mayHold(e, mergeKey, c, v, atLeast = true, atMost = false)
      case GreaterThanOrEqual(c, v) => mayHold(e, mergeKey, c, v, atLeast = true, atMost = false)
      case LessThan(c, v) => mayHold(e, mergeKey, c, v, atLeast = false, atMost = true)
      case LessThanOrEqual(c, v) => mayHold(e, mergeKey, c, v, atLeast = false, atMost = true)
      case And(l, r) => may(l) && may(r)
      case Or(l, r) => may(l) || may(r)
      case _ => true
    }
    filters.forall(may)
  }

  /** Zone-map verdict for "column `c` may hold a value {>=|<=|within} the
    * literal". `atLeast`: the epoch needs some value >= v (so check
    * max >= v); `atMost`: some value <= v (check min <= v). Strict
    * comparisons are relaxed to their inclusive forms — equality at the
    * bound keeps the epoch, which only ever over-scans. */
  private def mayHold(e: EpochEntry, mergeKey: String, c: String, v: Any,
      atLeast: Boolean, atMost: Boolean): Boolean =
    // with NO configured merge key, pass a sentinel no column can equal:
    // passing `c` itself would let statsFor fall back to the legacy `*`
    // stats entry (which records the MERGE KEY's min/max) for ANY
    // filtered column, wrongly pruning epochs on an unrelated column's
    // filter — degrade conservatively to no pruning instead
    e.statsFor(c, if (mergeKey.nonEmpty) mergeKey else "\u0000") match {
      case None => true
      case Some(st) if st.typ == "long" =>
        (longLit(v), v) match {
          case (Some(l), _) =>
            (!atLeast || st.mx.toLong >= l) && (!atMost || st.mn.toLong <= l)
          // a rendering equality; a string RANGE orders renderings
          // lexicographically, which no numeric bound decides
          case (None, s: String) if atLeast && atMost =>
            s.toLongOption.exists(l => st.mx.toLong >= l && st.mn.toLong <= l)
          case _ => true
        }
      case Some(st) if st.typ == "string" =>
        stringLit(v) match {
          case None => true
          case Some(s) =>
            // UTF-8 byte order — the order the stats were recorded in
            // (parquet footers / Spark min-max); Java String order
            // disagrees above the BMP ([[AtomicWarehouse.utf8Cmp]])
            (!atLeast || AtomicWarehouse.utf8Cmp(st.mx, s) >= 0) &&
              (!atMost || AtomicWarehouse.utf8Cmp(st.mn, s) <= 0)
        }
      case _ => true
    }

  private def longLit(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Literal → the lexicographic encoding the stats were recorded in
    * (Spark's cast-to-string): dates as ISO `uuuu-MM-dd`, timestamps as
    * `uuuu-MM-dd HH:mm:ss[.fraction]` with trailing fraction zeros
    * TRIMMED (a `.0` suffix that Spark never renders would mis-compare
    * at exact bounds). The harness runs UTC; instants format in UTC to
    * match the session-tz cast. */
  private[v2] def stringLit(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(trimTs(t.toInstant))
    case t: java.time.Instant => Some(trimTs(t))
    case t: java.time.LocalDateTime =>
      Some(trimTs(t.toInstant(java.time.ZoneOffset.UTC)))
    case _ => None
  }

  private def trimTs(i: java.time.Instant): String = {
    val base = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val s = base.format(java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS"))
    s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
  }

  /** One tombstone entry's payload: its position in the manifest entry
    * list (tombstones suppress keys only in entries ordered BEFORE them),
    * the key column it addresses (the tombstone parquet's own column
    * name) and the purged key values — LONG or STRING per the tombstone
    * parquet's own column type (the engine writes the comparison type:
    * long purges cast-compare, string purges — the reference's video_id
    * — compare raw). O(purged keys) — driver-sized by the purge
    * contract. */
  final case class TombstoneKeys(pos: Int, keyCol: String,
      keys: Array[Long], strKeys: Array[String] = Array.empty)

  /** Load every tombstone entry's key list, tagged with its manifest
    * position. DRIVER-SIDE parquet reads
    * ([[AtomicWarehouse.readTombstoneKeys]]) — zero Spark jobs, so scan
    * PLANNING stays flat in tombstone count (a collect() per tombstone
    * cost ~100 ms of job overhead each; at T uncompacted tombstones
    * that was O(T×100ms) of pure scheduling per plan). */
  def loadTombstones(spark: SparkSession, dir: String,
      allEntries: Seq[EpochEntry]): Seq[TombstoneKeys] = {
    // NO-OP tombstones (a CoW purge's change-feed log,
    // [[AtomicWarehouse.isNoopTombstone]]) never reach drop lists or
    // the MIN/MAX dirty check: the rewrite committed with them already
    // removed every matching row, so they suppress nothing — skipping
    // them keeps the CoW purge's zero-read-overhead property
    val tombs = allEntries.zipWithIndex.filter(p =>
      AtomicWarehouse.isTombstone(p._1.name) &&
        !AtomicWarehouse.isNoopTombstone(p._1.name))
    if (tombs.isEmpty) return Nil
    // cache misses (first plan after a purge) load in PARALLEL — each
    // read is ~45 ms of fs round-trips, serial loading made the first
    // plan O(T × 45 ms); repeat plans hit the engine's tombstone cache
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(tombs) { case (e, i) =>
      Future {
        val keyCol = AtomicWarehouse.tombstoneKeyCol(spark, dir, e.name)
          .getOrElse("")
        val (_, ls, ss) =
          AtomicWarehouse.readTombstoneKeys(spark, dir, e.name)
        TombstoneKeys(i, keyCol, ls, ss)
      }
    }, scala.concurrent.duration.Duration(600, "s"))
  }

  /** Session-global memo of metadata MIN/MAX decisions, keyed by
    * (manifest-file identity, column, end, rendered type) — the scan
    * builder's `minMax` consults it so repeat plans at an unchanged
    * version skip both the T × epochs dirty-entry probes and the dirty
    * rescan job. Values: Some(internal) = answered (the internal value
    * may itself be null — every live row null), None = refused (also
    * deterministic in the manifest content). Bounded LRU; entries are
    * a few hundred bytes, so the cap is generous. */
  private[v2] val minMaxMemo: java.util.Map[String, Option[Any]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[Any]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[Any]]): Boolean =
          size > 4096
      })

  /** The PHYSICAL column name one part of a tombstone's key resolves to
    * for a file at `filePos`: the tombstone recorded its key under the
    * name SERVED at its own commit position, so the directives committed
    * between the file and the tombstone are walked BACKWARDS, inverting
    * renames. None = the column the tombstone addresses did not exist at
    * the file's position (renamed-away original, dropped-then-re-added
    * identity, or additively-evolved later) — such files hold null keys
    * for it and the drop cannot apply. Without this resolution a
    * deferred purge committed AFTER a key rename silently skipped every
    * pre-rename file (the footer lacks the new name), resurfacing the
    * rows the tombstone was committed to suppress. */
  def tombKeyPhysName(part: String, filePos: Int, tombPos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)]): Option[String] = {
    var cur = part
    ops.filter { case (p, _) => p > filePos && p < tombPos }
      .sortBy(-_._1)
      .foreach {
        case (_, AtomicWarehouse.RenameOp(o, n)) =>
          if (n == cur) cur = o
          // the tombstone's name matches the rename's VACATED source: it
          // can only address a column re-added after the rename — a new
          // identity this file predates
          else if (o == cur) return None
        case (_, AtomicWarehouse.DropOp(c)) if c == cur =>
          // dropped at opPos: any later column of this name is a new
          // identity; the file's own `cur` values are masked
          return None
        case _ => ()
      }
    Some(cur)
  }

  /** The name a tombstone's key column SERVES under at the end version:
    * each composite part resolved forward through the directives
    * committed AFTER the tombstone ([[AtomicWarehouse.effectiveName]]).
    * A readChangeFeed range crossing a key RENAME serves delete rows
    * under the END schema's name — without this the partition's raw
    * recorded name matched nothing and the retraction identities
    * silently served as null. None = a part was dropped later: the feed
    * cannot express the retraction's identity (callers refuse loudly
    * unless deletes are ignored). */
  def tombKeyServedName(keyCol: String, tombPos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)]): Option[String] =
    if (ops.isEmpty) Some(keyCol)
    else {
      val parts = AtomicWarehouse.keyParts(keyCol)
        .map(AtomicWarehouse.effectiveName(_, tombPos, ops))
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.mkString(","))
    }

  /** The key-drop lists a file of the entry at `pos` must apply: every
    * tombstone ordered AFTER it, its key column RESOLVED to this file's
    * physical name through the mapping directives between them
    * ([[tombKeyPhysName]] per composite part; an unresolvable part means
    * the file cannot hold the key — skipped), grouped by resolved key
    * column, split by key type. Empty for a tombstone-free warehouse —
    * the common fast path. */
  def dropsFor(tombstones: Seq[TombstoneKeys], pos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)] = Nil)
      : Array[(String, Array[Long], Array[String])] =
    resolvedTombstones(tombstones, pos, ops).groupBy(_.keyCol)
      .map { case (c, ts) => (c, ts.flatMap(_.keys).distinct.toArray,
        ts.flatMap(_.strKeys).distinct.toArray) }
      .toArray

  /** The literals the filters pin each column to: every `EqualTo`,
    * non-null `EqualNullSafe` and `In` conjunct on the column itself, the
    * shortest list when several pin one column, and the union of both
    * sides' lists for a column each side of an `Or` pins. A row the
    * filters admit holds one of its columns' pinned literals (a null
    * never equals one). */
  def pinnedLiterals(filters: Seq[Filter]): Map[String, Seq[Any]] = {
    def shortest(a: Map[String, Seq[Any]], b: Map[String, Seq[Any]]) =
      b.foldLeft(a) { case (m, (c, vs)) =>
        m.updated(c, m.get(c).filter(_.size <= vs.size).getOrElse(vs)) }
    def of(f: Filter): Map[String, Seq[Any]] = f match {
      case EqualTo(c, v) if v != null => Map(c -> Seq(v))
      case EqualNullSafe(c, v) if v != null => Map(c -> Seq(v))
      case In(c, vs) => Map(c -> vs.toSeq.filter(_ != null))
      case And(l, r) => shortest(of(l), of(r))
      case Or(l, r) =>
        val (a, b) = (of(l), of(r))
        a.collect { case (c, vs) if b.contains(c) => c -> (vs ++ b(c)).distinct }
      case _ => Map.empty
    }
    filters.map(of).foldLeft(Map.empty[String, Seq[Any]])(shortest)
  }

  /** What the `pins` ([[pinnedLiterals]]) let file `p`'s drop lists
    * (its [[dropsFor]]) decide: Some(true) when one list drops every row
    * the pins admit, so the file need not be opened; Some(false) when no
    * list drops any of them, so the file is read without drops; None
    * otherwise. `physical` is the file's entry schema ([[entrySchema]]).
    * A literal is judged as the reader's drop check judges the rows it
    * admits: a string literal admits the rows rendering as it, judged by
    * its value and its `try_cast` to long; an int or long literal against
    * an integral column admits the rows holding it, judged by its value
    * and its decimal rendering. Against a string-stored column a long
    * literal admits every rendering that `try_cast`s to it, so only a long
    * drop of it drops them all, and a string drop of one such rendering
    * leaves the verdict open. A composite list needs every part pinned
    * and judges every combination of the parts' renderings (at most
    * [[MaxPinCombos]]). Other literal types, key columns the file holds
    * as hive partition values, and lists on unpinned columns decide
    * nothing. */
  def pinnedDrops(drops: Array[(String, Array[Long], Array[String])],
      pins: Map[String, Seq[Any]], p: WarehouseFilePartition,
      physical: StructType): Option[Boolean] = {
    if (drops.isEmpty || pins.isEmpty) return None
    val parted = p.partValues.map(_._1).toSet
    // the pinned literals under the physical names the drops compare
    val phys = pins.flatMap { case (c, vs) =>
      p.physOf(c).filterNot(parted).map(_ -> vs) }
    def stringStored(c: String) =
      physical.find(_.name == c).exists(_.dataType == StringType)
    // the one rendering of the rows `v` admits in column `c`, if fixed
    def render(c: String, v: Any): Option[String] = v match {
      case s: String => Some(s)
      case l: Long if !stringStored(c) => Some(l.toString)
      case i: Int if !stringStored(c) => Some(i.toString)
      case _ => None
    }
    def asLong(v: Any): Option[Long] = v match {
      case s: String => AtomicWarehouse.sparkLongCast(s)
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    // per list: are all / none of the admitted rows dropped?
    val verdicts = drops.toSeq.map { case (c, ls0, ss0) =>
      val (ls, ss) = (ls0.toSet, ss0.toSet)
      lazy val ssLongs = ss.flatMap(AtomicWarehouse.sparkLongCast)
      val parts = AtomicWarehouse.keyParts(c)
      val hits: Option[Seq[Option[Boolean]]] =
        if (parts.size > 1) {
          val vals = parts.flatMap(pc => phys.get(pc).map(_.map(render(pc, _))))
          if (vals.size < parts.size || vals.exists(_.exists(_.isEmpty)) ||
              vals.map(_.size.toLong).product > MaxPinCombos) None
          else Some(vals.map(_.flatten)
            .foldLeft(Seq(Seq.empty[String])) { (acc, vs) =>
              for (a <- acc; v <- vs) yield a :+ v }
            .map(vs => Some(ss(vs.mkString(AtomicWarehouse.CompositeSep)))))
        } else phys.get(c).map(_.map(v => (render(c, v), asLong(v)) match {
          case (Some(r), l) => Some(ss(r) || l.exists(ls))
          case (None, Some(l)) =>
            if (ls(l)) Some(true) else if (ssLongs(l)) None else Some(false)
          case (None, None) => None
        }))
      hits.filterNot(_.contains(None)).map(_.flatten).collect {
        case h if !h.contains(false) => true
        case h if !h.contains(true) => false
      }
    }
    if (verdicts.contains(Some(true))) Some(true)
    else if (verdicts.forall(_.contains(false))) Some(false)
    else None
  }

  /** Cap on the composite renderings [[pinnedDrops]] judges. */
  private val MaxPinCombos = 1024L

  /** The physical key columns [[dropsFor]] compares for `pos`, without
    * gathering any key lists — what the planner needs to decide which
    * columns a file is read with. */
  def dropKeyCols(tombstones: Seq[TombstoneKeys], pos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)]): Seq[String] =
    resolvedTombstones(tombstones, pos, ops).map(_.keyCol).distinct
      .flatMap(AtomicWarehouse.keyParts).distinct

  private def resolvedTombstones(tombstones: Seq[TombstoneKeys], pos: Int,
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)]): Seq[TombstoneKeys] =
    tombstones.filter(_.pos > pos).flatMap { t =>
      if (ops.isEmpty) Some(t)
      else {
        val resolved = AtomicWarehouse.keyParts(t.keyCol)
          .map(tombKeyPhysName(_, pos, t.pos, ops))
        if (resolved.exists(_.isEmpty)) None
        else Some(t.copy(keyCol = resolved.flatten.mkString(",")))
      }
    }

  /** The physical columns a planned file is decoded with — the schema
    * [[WarehouseReaderFactory]] asks Spark's parquet reader for: every
    * projected served column the file holds, under the name the file
    * stores it (column mapping), typed as served; then the tombstone key
    * columns its drops compare, typed as the file holds them. `physical`
    * is the file's entry schema ([[entrySchema]]); hive partition values
    * and the per-file constants are served by the factory, never read. */
  def fileReadSchema(required: StructType, physical: StructType,
      p: WarehouseFilePartition, dropCols: Seq[String]): StructType = {
    val parts = p.partValues.map(_._1).toSet
    val held = physical.fieldNames.filterNot(parts).toSet
    val served = required.fields.toSeq.flatMap { f =>
      if (f.name == PosColumn) None
      else p.physOf(f.name).filter(held).map(StructField(_, f.dataType))
    }
    val keys = dropCols.filter(c => held(c) && !served.exists(_.name == c))
      .map(c => physical(c).copy(nullable = true))
    StructType((served ++ keys).distinctBy(_.name))
  }

  /** The distinct read schemas one scan's files are decoded with.
    * Spark's parquet reader takes its requested schema from the Hadoop
    * conf, so each schema is broadcast ONCE inside its own conf — never
    * once per file. Files carry an index into the list
    * ([[WarehouseFilePartition.read]]); it only grows, so an index stays
    * valid for every reader factory built after the file was planned. */
  final class FileReads(required: StructType) {
    private val schemas =
      scala.collection.mutable.ArrayBuffer.empty[StructType]
    private val confs = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration]]

    /** `p` with its read schema registered. */
    def plan(p: WarehouseFilePartition, physical: StructType,
        dropCols: => Seq[String]): WarehouseFilePartition = synchronized {
      val s = fileReadSchema(required, physical, p,
        if (p.applyDrops) dropCols else Nil)
      val i = schemas.indexOf(s) match {
        case -1 => schemas += s; schemas.size - 1
        case i => i
      }
      p.copy(read = i)
    }

    /** Every registered schema with its broadcast reader conf. */
    def broadcast(spark: SparkSession): Array[WarehouseReaderFactory.Read] =
      synchronized {
        while (confs.size < schemas.size)
          confs += spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              readerConf(spark, schemas(confs.size))))
        schemas.zip(confs).map { case (s, c) =>
          WarehouseReaderFactory.Read(s, c) }.toArray
      }

    /** Every registered schema with a reader conf built on the driver
      * and never broadcast: what [[readOnDriver]] decodes with. */
    def onDriver(spark: SparkSession): Array[WarehouseReaderFactory.Read] =
      synchronized {
        schemas.map(s => WarehouseReaderFactory.Read(s, new DriverConf(
          new org.apache.spark.util.SerializableConfiguration(
            readerConf(spark, s))))).toArray
      }
  }

  /** A reader conf held by the driver itself: the `Broadcast` face
    * Spark's parquet reader factory asks for, with nothing shipped. */
  private final class DriverConf(
      c: org.apache.spark.util.SerializableConfiguration)
      extends org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration](-1L) {
    override protected def getValue() = c
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** Driver-answered reads: a key-pinned read pinning at most this many
    * key literals (the product over a composite key's parts) … */
  val DriverMaxKeys = 64L
  /** … whose planning leaves at most this many files … */
  val DriverMaxFiles = 16
  /** … of at most this many bytes in all is decoded on the driver at
    * planning time instead of in a Spark job. A plan choice by size:
    * decoding one 0.9 MB, 15k-row epoch file on the driver took about
    * 24 ms on a 4-vCPU host, and dispatching the job that would decode
    * it about 59 ms, so the bytes bound keeps the driver's decode under
    * a job's fixed cost; the files bound caps the per-file opens of
    * many small parts. */
  val DriverMaxBytes = 2L << 20

  /** The driver-side reader: decodes `files` (planned partitions, read
    * schemas registered in `reads`) on the driver through the per-file
    * logic executors run ([[WarehouseReaderFactory]]: tombstone drops,
    * renames, masks, `_pos` and hive partition constants), with reader
    * confs built locally ([[FileReads.onDriver]]). Each row is handed
    * to `visit` and reused afterwards: copy what you keep. */
  def readOnDriver(spark: SparkSession, required: StructType,
      filters: Array[Filter], reads: FileReads,
      tombstones: Seq[TombstoneKeys],
      ops: Seq[(Int, AtomicWarehouse.ColMapOp)],
      files: Seq[WarehouseFilePartition])(visit: InternalRow => Unit): Unit =
    if (files.nonEmpty) {
      val factory = new WarehouseReaderFactory(required, filters,
        reads.onDriver(spark), tombstones, ops)
      files.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) visit(r.get()) finally r.close()
      }
    }

  /** The Hadoop conf Spark's own `ParquetScan.createReaderFactory` hands
    * its reader: the session's conf plus the requested schema and the
    * schema-conversion flags. */
  private def readerConf(spark: SparkSession, schema: StructType) = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val sql = spark.sessionState.conf
    val c = spark.sessionState.newHadoopConf()
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sql.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    c
  }

  /** Does the file's hive partition value satisfy `filter`? Only exact
    * column matches prune; comparisons run on the RAW path string for
    * equality/IN and for ranges, numerically when both sides parse as
    * longs and in UTF-8 byte order (a string column's order) against a
    * string or date literal — anything else keeps the file
    * (conservative). */
  def fileMayMatch(file: WhFile, filter: Filter): Boolean = {
    val pv = file.partValues.toMap
    def cmp(c: String, v: Any)(ok: Int => Boolean): Boolean =
      pv.get(c).filter(_ != "__HIVE_DEFAULT_PARTITION__")
        .forall(raw => (longLit(v), v) match {
          case (Some(l), _) =>
            raw.toLongOption.forall(r => ok(java.lang.Long.compare(r, l)))
          case (None, _: String | _: java.sql.Date | _: java.time.LocalDate) =>
            ok(AtomicWarehouse.utf8Cmp(raw, stringLit(v).get))
          case _ => true
        })
    filter match {
      case EqualTo(c, v) => pv.get(c).forall(raw =>
        longLit(v).flatMap(l => raw.toLongOption.map(_ == l))
          .getOrElse(stringLit(v).forall(_ == raw)))
      case In(c, vs) => pv.get(c).forall(raw =>
        vs.exists(v => longLit(v).flatMap(l => raw.toLongOption.map(_ == l))
          .getOrElse(stringLit(v).forall(_ == raw))))
      case GreaterThan(c, v) => cmp(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v)(_ >= 0)
      case LessThan(c, v) => cmp(c, v)(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v)(_ <= 0)
      case And(l, r) => fileMayMatch(file, l) && fileMayMatch(file, r)
      case Or(l, r) => fileMayMatch(file, l) || fileMayMatch(file, r)
      case _ => true
    }
  }
}

class WarehouseTable(val dir: String, version: Option[Long],
    schema0: StructType, val mergeKey: String,
    writeDefaults: Map[String, String] = Map.empty,
    engineRead: Option[WarehouseConnector.EngineRead] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String =
    s"graft-warehouse($dir${version.fold("")(v => s"@v$v")})"

  /** `_pos` — the manifest-position tiebreaker
    * ([[WarehouseConnector.PosColumn]]), materialized only when
    * selected. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(WarehouseConnector.PosMetadataColumn)
  /** The pinned time-travel version, None for the live table (named to
    * avoid Table's own `version()` metadata method). */
  def timeTravelVersion: Option[Long] = version
  override def schema(): StructType = schema0

  /** `DELETE FROM <catalog>.<table> WHERE <mergeKey> = v | IN (…)` maps
    * to [[AtomicWarehouse.purgeKeysDeferredTyped]] — the SQL face of the
    * right-to-be-forgotten purge: every version of the named keys is
    * suppressed by ONE tombstone commit (a key-list file and one
    * manifest CAS, no epoch rewritten), which reads apply as a
    * merge-on-read drop and [[AtomicWarehouse.compact]] folds away.
    * [[AtomicWarehouse.purgeKeys]] stays the explicit copy-on-write
    * verb. ONLY key-identity predicates qualify here (the named keys are
    * the tombstone, including keys no row holds); every other
    * predicate is served by [[graft.plans.RewriteWarehouseDelete]] as a
    * tombstone of the matched winners' keys. The catalog must be
    * configured with `mergeKey`, and time-travel targets are refused at
    * analysis via [[canDeleteWhere]]. History keeps the rows until
    * compact + vacuum, exactly like the API purge. */
  private def deleteKeys(filters: Array[Filter])
      : Option[(String, Seq[String])] = {
    if (mergeKey.isEmpty || version.isDefined) return None
    // a key literal with its comparison type: integral literals purge as
    // longs (the original surface), string literals as strings — the
    // reference's own merge key is a string (video_id, ref:
    // Python-pipeline/ingestdatainbigquery.py:89)
    def litOf(v: Any): Option[(String, String)] = v match {
      case n: Number => Some(("long", n.longValue().toString))
      case s: String => Some(("string", s))
      case _ => None
    }
    // Per-filter verdict: None = unsupported shape (refuse the whole
    // DELETE); Some(None) = no key constraint (the implied IsNotNull
    // guard); Some(Some((typ, ks))) = exactly the rows whose key ∈ ks.
    // Spark passes the filter array as a CONJUNCTION, so key sets
    // INTERSECT across top-level filters (and And nodes): `k = 5 AND
    // k = 6` matches nothing and must purge nothing. Key sets combine
    // only within ONE type — a mixed `k = 5 OR k = 'x'` refuses rather
    // than guessing cast semantics.
    type KeySet = Option[(String, Set[String])]
    def combine(a: KeySet, b: KeySet,
        op: (Set[String], Set[String]) => Set[String]): Option[KeySet] =
      (a, b) match {
        case (Some((t1, x)), Some((t2, y))) if t1 == t2 =>
          Some(Some((t1, op(x, y))))
        case (Some(_), Some(_)) => None // mixed key types
        case _ => Some(a.orElse(b))
      }
    def keysOf(f: Filter): Option[KeySet] = f match {
      case EqualTo(c, v) if c == mergeKey =>
        litOf(v).map(kv => Some((kv._1, Set(kv._2))))
      case In(c, vs) if c == mergeKey && vs.nonEmpty =>
        val lits = vs.toSeq.map(litOf)
        val flat = lits.flatten
        if (flat.size != lits.size || flat.map(_._1).distinct.size != 1) None
        else Some(Some((flat.head._1, flat.map(_._2).toSet)))
      // null keys are never purge targets, so IsNotNull(key) constrains
      // nothing — but ONLY as a conjunct: inside an Or it would match
      // every non-null-key row, which no key set can express
      case IsNotNull(c) if c == mergeKey => Some(None)
      case And(l, r) => (keysOf(l), keysOf(r)) match {
        case (Some(a), Some(b)) => combine(a, b, _ intersect _)
        case _ => None
      }
      case Or(l, r) => (keysOf(l), keysOf(r)) match {
        case (Some(a @ Some(_)), Some(b @ Some(_))) =>
          combine(a, b, _ union _)
        case _ => None // an unconstrained Or side matches non-key rows
      }
      case _ => None
    }
    filters.toSeq.foldLeft(Option(Option.empty[(String, Set[String])])) {
      (acc, f) =>
        (acc, keysOf(f)) match {
          case (Some(a), Some(b)) => combine(a, b, _ intersect _)
          case _ => None
        }
    }.flatten.map { case (t, ks) => (t, ks.toSeq.sorted) }
    // None when only IsNotNull / no filters: "all rows" is not
    // key-addressable. An EMPTY intersection is kept — the predicate
    // matches nothing, so the delete is a no-op success.
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deleteKeys(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (typ, keys) = deleteKeys(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-warehouse DELETE supports only $mergeKey = v / IN (...) " +
          "key-identity predicates (configure the catalog's mergeKey); " +
          "arbitrary-predicate deletes need an epoch rewrite pipeline"))
    if (keys.nonEmpty)
      AtomicWarehouse.purgeKeysDeferredTyped(SparkSession.active, dir,
        mergeKey, typ, keys)
  }

  /** Surfaced in `DESCRIBE TABLE EXTENDED`: where the table lives, the
    * manifest version served, and the committed entry count — the
    * at-a-glance facts before reaching for the full
    * [[graft.sinks.AtomicWarehouse.describe]] report. */
  override def properties(): java.util.Map[String, String] = {
    val spark = SparkSession.active
    val v = version.getOrElse(AtomicWarehouse.currentVersion(spark, dir))
    val entries = AtomicWarehouse.committedEntriesAt(spark, dir, v)
    java.util.Map.of(
      "location", dir,
      "manifestVersion", v.toString,
      "committedEntries", entries.size.toString,
      "provider", "graft-warehouse")
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `startingVersion = "latest"` (Delta's streaming sugar): serve only
    // changes committed AFTER now — current version + 1. On a stream
    // that's "tail from here, no snapshot"; on a batch feed it's a
    // legitimate empty poll until something commits.
    val verStart = Option(options.get("startingVersion")).map {
      case s if s.equalsIgnoreCase("latest") =>
        AtomicWarehouse.currentVersion(SparkSession.active, dir) + 1
      case s => s.toLong
    }
    val verEnd = Option(options.get("endingVersion")).map(_.toLong)
    // TIMESTAMP bounds (Delta's startingTimestamp/endingTimestamp):
    // resolved here to the version whose manifest mtime brackets the
    // instant — start = earliest commit AT OR AFTER, end = latest
    // commit AT OR BEFORE — then the feed machinery is version-only.
    val tsStartOpt = Option(options.get("startingTimestamp"))
      .map(WarehouseConnector.parseTsMicros(_, "startingTimestamp"))
    val tsEndOpt = Option(options.get("endingTimestamp"))
      .map(WarehouseConnector.parseTsMicros(_, "endingTimestamp"))
    require(tsStartOpt.isDefined || tsEndOpt.isEmpty,
      "endingTimestamp requires startingTimestamp")
    require((tsStartOpt.isEmpty && tsEndOpt.isEmpty) ||
      (verStart.isEmpty && verEnd.isEmpty),
      "startingVersion/endingVersion and startingTimestamp/" +
        "endingTimestamp are mutually exclusive")
    lazy val times = AtomicWarehouse.manifestTimes(SparkSession.active, dir)
    val changeStart = verStart.orElse(tsStartOpt.map { ts =>
      val cands = times.filter(_._2 >= ts)
      require(cands.nonEmpty,
        s"startingTimestamp ${options.get("startingTimestamp")} is after " +
          "the latest commit — nothing to serve (use startingVersion " +
          "for open-ended polling)")
      cands.keys.min
    })
    val changeEnd = verEnd.orElse(tsEndOpt.map { ts =>
      val cands = times.filter(_._2 <= ts)
      require(cands.nonEmpty,
        s"endingTimestamp ${options.get("endingTimestamp")} precedes the " +
          "earliest retained commit")
      cands.keys.max
    })
    require(changeStart.isDefined || changeEnd.isEmpty,
      "endingVersion requires startingVersion (use .option(\"version\", " +
        "N) for a plain time-travel read)")
    require(changeStart.isEmpty || version.isEmpty,
      "startingVersion/endingVersion (change feed) and version " +
        "(time travel) are mutually exclusive")
    val cdf = options.getBoolean("readChangeFeed", false)
    require(!cdf || changeStart.isDefined,
      "readChangeFeed requires .option(\"startingVersion\", s) or " +
        ".option(\"startingTimestamp\", t) — a row-level feed needs an " +
        "explicit history start (Delta CDF's own contract)")
    val includePreimages = options.getBoolean("includePreimages", false)
    require(!includePreimages || cdf,
      "includePreimages requires .option(\"readChangeFeed\", true) — " +
        "preimages are row-level change-feed rows")
    val restoreAsDeletes = options.getBoolean("restoreAsDeletes", false)
    require(!restoreAsDeletes || cdf,
      "restoreAsDeletes requires .option(\"readChangeFeed\", true) — " +
        "a restore's retractions are row-level change-feed rows")
    new WarehouseScanBuilder(dir, version, schema0, mergeKey,
      options.getInt("maxVersionsPerBatch", 0),
      options.getBoolean("ignoreDeletes", false),
      changeStart = changeStart, changeEnd = changeEnd, cdf = cdf,
      includePreimages = includePreimages,
      restoreAsDeletes = restoreAsDeletes, engineRead = engineRead)
  }
  /** Write options default to the CREATE TABLE-persisted table conf
    * (mergeKey/stats/bloom/cluster/zorder) so a SQL `INSERT INTO`
    * behaves as if every write carried them; per-write options win. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WarehouseWriteBuilder(dir, info, writeDefaults)
}

class WarehouseScanBuilder(dir: String, version: Option[Long],
    fullSchema: StructType, mergeKey: String, maxVersionsPerBatch: Int,
    ignoreDeletes: Boolean = false,
    changeStart: Option[Long] = None, changeEnd: Option[Long] = None,
    cdf: Boolean = false, includePreimages: Boolean = false,
    restoreAsDeletes: Boolean = false,
    engineRead: Option[WarehouseConnector.EngineRead] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  private var pruneFilters: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var pushedAgg: Option[(StructType, Array[Any])] = None
  /** Memos for the tombstone-tolerant MIN/MAX path: translateAgg runs
    * twice (supportCompletePushDown, then pushAggregation) and an
    * Aggregation can hold both MIN(c) and MAX(c) — the key lists load
    * once and the pruned dirty-entry scan (a real job) runs once per
    * column. */
  private val tombstonesMemo = scala.collection.mutable.HashMap
    .empty[Long, Seq[WarehouseConnector.TombstoneKeys]]
  private val dirtyMinMax =
    scala.collection.mutable.HashMap.empty[String, (Any, Any)]

  /** METADATA-ONLY aggregation: unfiltered global `COUNT(*)` /
    * `MIN(col)` / `MAX(col)` answered from the manifest alone — COUNT
    * from the exact per-entry row counts ([[AtomicWarehouse
    * .RowCountStat]]), MIN/MAX from the zone-map stats the entries
    * already carry (they are computed FROM the data at commit time, so
    * they are exact, not estimates) — zero data files opened, the
    * `SELECT count(*) FROM wh.t` an operator fires constantly against a
    * 100 TB store for free. COMPLETE pushdown (Spark plans no aggregate
    * of its own), mirroring the video connector's report pushdown.
    *
    * Sound only when nothing can perturb the metadata view, so every
    * condition below refuses otherwise: no filters (all our pushed
    * filters stay residual, so a filtered scan can never be
    * metadata-answered), no GROUP BY, and EVERY entry must carry the
    * needed stat — an entry committed without stats, or an all-null
    * column (which records no min/max), degrades to a normal scan.
    * COUNT(*) survives TOMBSTONES: every tombstone records the total
    * rows it newly suppresses at commit time
    * ([[AtomicWarehouse.SuppTotalStat]]), so live rows stay a manifest
    * subtraction; MIN/MAX still refuse under tombstones (a suppressed
    * row may hold the extremum). */
  private def translateAgg(a: Aggregation): Option[(StructType, Array[Any])] = {
    // an engine read scans the entries it was handed, which the
    // manifest's whole-version stats do not describe
    if (a.groupByExpressions.nonEmpty || pruneFilters.nonEmpty ||
        engineRead.isDefined) return None
    // a change-feed read serves a version RANGE's appended rows — entry
    // stats describe whole entries at one version, so no metadata answer
    if (changeStart.isDefined) return None
    val spark = SparkSession.active
    val v = version.getOrElse(AtomicWarehouse.currentVersion(spark, dir))
    val allEntries = AtomicWarehouse.committedEntriesAt(spark, dir, v)
    val (tombEntries, all) =
      allEntries.partition(e => AtomicWarehouse.isTombstone(e.name))
    if (all.isEmpty) return None
    lazy val aggTombstones: Seq[WarehouseConnector.TombstoneKeys] =
      tombstonesMemo.getOrElseUpdate(v,
        WarehouseConnector.loadTombstones(spark, dir, allEntries))
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    /** (field, internal value) for MIN/MAX of `c`, or None to refuse.
      *
      * TOMBSTONES no longer refuse outright (the c70 trade, extending
      * c65's COUNT): a tombstone can only perturb MIN/MAX through
      * entries committed BEFORE it that may CONTAIN one of its keys --
      * checked against the entries' zone maps + blooms on the
      * tombstone's key column. Only those DIRTY entries' extrema are
      * recomputed, by one pruned planning-time job over exactly the
      * suspect epochs with drops applied
      * ([[AtomicWarehouse.minMaxOfEntries]]); every clean entry keeps
      * serving its recorded stats. At T tombstones over a 100 TB store
      * this keeps `MIN(col)` a manifest answer plus a scan of the few
      * bloom-positive epochs instead of a full-table scan. Refusals
      * that remain: any entry without stats for `c`, unsupported type
      * renderings, and tombstones with heterogeneous key columns (the
      * engine's log-view drop join applies one key column). */
    def minMax(c: String, wantMin: Boolean): Option[(StructField, Any)] = {
      val field = fullSchema.fields.find(_.name == c).getOrElse(return None)
      // SESSION-GLOBAL memo per (manifest-file identity, column, end):
      // the dirty-entry determination costs T × epochs zone/bloom
      // probes and the dirty rescan a real job — both deterministic in
      // the manifest version's content, so repeat MIN/MAX plans at the
      // same version answer from the memo (~flat in T instead of the
      // probe's 220 → 669 ms growth at T=400). The key carries the
      // manifest FILE's content digest: a recreated warehouse re-using
      // version numbers writes a new file whose digest differs (even
      // inside one mtime-granularity tick, the round-13 hazard), so
      // stale hits are unreachable; a racing vacuum fails the read and
      // skips the memo.
      val memoKey = scala.util.Try(
        AtomicWarehouse.manifestStamp(spark, dir, v)).toOption
        .map { dg =>
          s"$dir|$v|$dg|$c|$wantMin|${field.dataType.catalogString}" }
      memoKey.flatMap(k =>
        Option(WarehouseConnector.minMaxMemo.get(k))).foreach { cached =>
        return cached.map(iv => (StructField(
          s"${if (wantMin) "min" else "max"}($c)", field.dataType), iv))
      }
      def memoize(r: Option[(StructField, Any)])
          : Option[(StructField, Any)] = {
        memoKey.foreach(k =>
          WarehouseConnector.minMaxMemo.put(k, r.map(_._2)))
        r
      }
      def statsOf(e: EpochEntry) = e.statsFor(c,
        if (mergeKey.nonEmpty) mergeKey else "\u0000")
      val stats = all.map(statsOf)
      if (stats.exists(_.isEmpty)) return memoize(None)
      val typ = stats.flatten.head.typ
      val supported = (field.dataType, typ) match {
        case (LongType, "long") | (IntegerType, "long") |
            (StringType, "string") | (DateType, "string") => true
        case _ => false // timestamps etc: rendering round-trip unsafe
      }
      if (!supported) return memoize(None)
      // Entries whose REQUESTED extremum a LATER tombstone could have
      // suppressed. When the aggregated column IS the tombstone's key
      // column (min/max of the merge key — the common shape), the test
      // is exact: suppression removes whole key-value groups, so the
      // entry's recorded extremum moves only if that VALUE is itself a
      // purged key — scattered purges elsewhere in the entry leave the
      // extremum attained. Otherwise (aggregating a different column)
      // any possibly-present purged key taints the entry, zone/bloom
      // checked.
      val dirty: Seq[EpochEntry] =
        if (tombEntries.isEmpty) Nil
        else {
          val tombs = aggTombstones
          if (tombs.map(_.keyCol).distinct.size > 1) return memoize(None)
          val posOfAll = allEntries.map(_.name).zipWithIndex.toMap
          def extremumSuppressible(e: EpochEntry,
              t: WarehouseConnector.TombstoneKeys): Boolean =
            if (t.keyCol == c) {
              val st = statsOf(e).get
              val endVal = if (wantMin) st.mn else st.mx
              typ match {
                case "long" =>
                  val v = endVal.toLong
                  t.keys.contains(v) || t.strKeys.exists(s =>
                    AtomicWarehouse.sparkLongCast(s).contains(v))
                case _ =>
                  t.strKeys.contains(endVal) ||
                    AtomicWarehouse.sparkLongCast(endVal)
                      .exists(t.keys.contains)
              }
            } else
              WarehouseConnector.epochMayMatch(e, mergeKey, Seq(Or(
                In(t.keyCol, t.keys.map(Long.box(_): Any)),
                In(t.keyCol, t.strKeys.toArray[Any]))))
          all.filter { e =>
            val p = posOfAll(e.name)
            tombs.exists(t => t.pos > p && extremumSuppressible(e, t))
          }
        }
      val dirtyNames = dirty.map(_.name).toSet
      // candidate extrema, all in the stats' RENDERED string form:
      // recorded stats for clean entries + the pruned scan's result for
      // dirty ones (memoized per column -- min and max share one job,
      // and the two translateAgg passes share the memo)
      val cleanRendered: Seq[String] = all
        .filterNot(e => dirtyNames(e.name))
        .map(e => statsOf(e).get)
        .map(s => if (wantMin) s.mn else s.mx)
      val scannedRendered: Seq[String] =
        if (dirty.isEmpty) Nil
        else {
          val keyName = aggTombstones.head.keyCol
          // keyed per (column, end): the exact extremum test makes the
          // min-dirty and max-dirty entry sets differ
          val (mnv, mxv) = dirtyMinMax.getOrElseUpdate(s"$c#$wantMin", {
            val subset = allEntries.filter(e =>
              dirtyNames(e.name) || (AtomicWarehouse.isTombstone(e.name) &&
                !AtomicWarehouse.isNoopTombstone(e.name)))
            AtomicWarehouse.minMaxOfEntries(spark, dir, keyName, subset, c)
          })
          def render(v: Any): Option[String] = v match {
            case null => None
            case l: java.lang.Long => Some(l.toString)
            case i: java.lang.Integer => Some(i.toString)
            case s: String => Some(s)
            case d: java.sql.Date => Some(d.toString)
            case d: java.time.LocalDate => Some(d.toString)
            case _ => None
          }
          render(if (wantMin) mnv else mxv).toSeq
        }
      val candidates = cleanRendered ++ scannedRendered
      val internal: Any =
        if (candidates.isEmpty) null // every live row holds null `c`
        else (field.dataType, typ) match {
        case (LongType, "long") =>
          val vs = candidates.map(_.toLong)
          if (wantMin) vs.min else vs.max
        case (IntegerType, "long") =>
          val vs = candidates.map(_.toLong)
          (if (wantMin) vs.min else vs.max).toInt
        case (StringType, "string") =>
          // Compare candidates as UTF-8 bytes (UTF8String's ordering),
          // matching how the stats were RECORDED (Spark min/max over
          // UTF8String = unsigned byte order). Scala's String.min would
          // use UTF-16 code-unit order, which disagrees for non-BMP
          // characters (surrogates sort above U+E000..U+FFFF in UTF-16
          // but below them in UTF-8).
          val vs = candidates.map(UTF8String.fromString)
          import scala.math.Ordering.comparatorToOrdering
          implicit val ord: Ordering[UTF8String] =
            comparatorToOrdering(
              java.util.Comparator.naturalOrder[UTF8String]())
          if (wantMin) vs.min else vs.max
        case (DateType, "string") =>
          java.time.LocalDate.parse(
            if (wantMin) candidates.min else candidates.max)
            .toEpochDay.toInt
        case _ => return memoize(None)
      }
      memoize(Some((StructField(s"${if (wantMin) "min" else "max"}($c)",
        field.dataType), internal)))
    }
    val parts: Seq[(StructField, Any)] = a.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        // tombstone-durable: live rows = Σ data-entry exact counts −
        // Σ per-tombstone newly-suppressed totals (recorded at tombstone
        // commit — [[AtomicWarehouse.SuppTotalStat]]); EVERY tombstone
        // must carry one (a legacy/stripped entry degrades to a scan)
        val counts = all.map(_.stats.get(AtomicWarehouse.RowCountStat))
        if (counts.exists(_.isEmpty)) return None
        // NO-OP tombstones (CoW purge logs) suppress 0 rows BY
        // CONSTRUCTION — exact with or without a recorded total (a
        // later purge's stripSuppStats may have removed theirs)
        val supp = tombEntries
          .filterNot(e => AtomicWarehouse.isNoopTombstone(e.name))
          .map(_.stats.get(AtomicWarehouse.SuppTotalStat))
        if (supp.exists(_.isEmpty)) return None
        (StructField("count(*)", LongType, nullable = false),
          (counts.flatten.map(_.mn.toLong).sum -
            supp.flatten.map(_.mn.toLong).sum): Any)
      case m: Min =>
        colName(m.column).flatMap(minMax(_, wantMin = true))
          .getOrElse(return None)
      case m: Max =>
        colName(m.column).flatMap(minMax(_, wantMin = false))
          .getOrElse(return None)
      case _ => return None
    }
    Some((StructType(parts.map(_._1)), parts.map(_._2).toArray))
  }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    translateAgg(a).isDefined
  override def pushAggregation(a: Aggregation): Boolean =
    translateAgg(a) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  /** Filters the MANIFEST can prune on. All pushed filters stay residual
    * (pruning is epoch/file-granular; Spark re-applies row-level), so
    * accepting a shape here can only reduce I/O, never change results —
    * which is why the supported set is generous: any comparison/IN over
    * any column, plus conjunctions/disjunctions of those. Stat-less
    * columns degrade to no pruning inside [[WarehouseConnector
    * .epochMayMatch]]. */
  private def prunable(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: In | _: GreaterThan |
        _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual => true
    case And(l, r) => prunable(l) && prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruneFilters = filters.filter(prunable)
    filters // ALL residual: the scan prunes storage, Spark filters rows
  }
  override def pushedFilters(): Array[Filter] = pruneFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new WarehouseScan(dir, version, mergeKey, required, pruneFilters,
      maxVersionsPerBatch, ignoreDeletes, pushedAgg, changeStart, changeEnd,
      cdf, includePreimages, restoreAsDeletes, engineRead)
}

/** One planned read of the warehouse: the entries and files the pushed
  * and runtime filters leave, bin-packed into input partitions that
  * [[WarehouseReaderFactory]] decodes in Spark tasks — or, for a
  * key-pinned snapshot read within the driver bound
  * ([[WarehouseConnector.DriverMaxKeys]], [[WarehouseConnector
  * .DriverMaxFiles]], [[WarehouseConnector.DriverMaxBytes]]), decoded on
  * the driver at planning time ([[driverRead]], planned by
  * [[graft.plans.DriverAnswerStrategy]] as a local table with no Spark
  * job). Streaming, change-feed and aggregate-pushed scans, and reads
  * past the bound, always run as tasks. An engine read
  * (`engineRead`) plans the manifest entries it was handed instead of
  * the served version's, pruned by its filters as by the pushed ones.
  * A change feed reads each version's entry names through `namesAt`
  * when given — the micro-batch stream passes its per-stream memo —
  * and through a per-read memo otherwise. */
class WarehouseScan(dir: String, version: Option[Long], mergeKey: String,
    required: StructType, pruneFilters: Array[Filter],
    maxVersionsPerBatch: Int, ignoreDeletes: Boolean = false,
    pushedAgg: Option[(StructType, Array[Any])] = None,
    changeStart: Option[Long] = None, changeEnd: Option[Long] = None,
    cdf: Boolean = false, includePreimages: Boolean = false,
    restoreAsDeletes: Boolean = false,
    engineRead: Option[WarehouseConnector.EngineRead] = None,
    namesAt: Option[Long => Seq[String]] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {
  import WarehouseConnector._

  private var runtimeFilters: Array[Filter] = Array.empty

  /** Two plannings of one read are one scan, as Spark's own file scans
    * are: each planning builds a fresh Scan, and Catalyst compares plans
    * by value (`sameResult`, exchange reuse). `namesAt` changes how the
    * manifests are read, never what is read, so it is left out. */
  private def fields = (dir, version, mergeKey, required,
    pruneFilters.toSeq, runtimeFilters.toSeq, maxVersionsPerBatch,
    ignoreDeletes, pushedAgg.map { case (s, vs) => (s, vs.toSeq) },
    changeStart, changeEnd, cdf, includePreimages, restoreAsDeletes,
    engineRead)
  override def equals(o: Any): Boolean = o match {
    case w: WarehouseScan => fields == w.fields
    case _ => false
  }
  override def hashCode(): Int = fields.hashCode

  override def readSchema(): StructType =
    pushedAgg.map(_._1).getOrElse(required)
  override def toBatch: Batch = this

  /** POST-PRUNING size statistics from the manifest + file lengths, so
    * Catalyst's join planning sees the warehouse read at its pruned
    * size: a date-sliced or key-sliced read that fits under
    * `autoBroadcastJoinThreshold` gets planned as the BROADCAST side
    * with no hint — the decision Delta/Iceberg feed the same way. Row
    * count comes from the bloom entries' recorded key counts when every
    * planned epoch carries one (conservative: absent otherwise).
    *
    * Catalyst may ask repeatedly during planning; the O(files) listing
    * is computed ONCE per runtime-filter state via [[listPlannedFiles]]
    * (shared with [[planInputPartitions]]) and file lengths ride the
    * listing itself — no per-file stat round trips. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = listPlannedFiles()
    private val planned = files.map(_.epoch).toSet
    private val bytes: Long = files.map(_.len).sum
    // rows each tombstone newly suppresses, per epoch — subtracting for
    // exactly the PLANNED epochs keeps the estimate tight after pruning
    // (missing slices just leave a conservative overestimate)
    private val suppByEpoch: Map[String, Long] = allEntries
      .filter(e => AtomicWarehouse.isTombstone(e.name))
      .flatMap(_.stats.collect {
        case (k, st) if k.startsWith("supp(") && k.endsWith(")") =>
          k.stripPrefix("supp(").stripSuffix(")") -> st.mn.toLong
      })
      .groupMapReduce(_._1)(_._2)(_ + _)
    private val rowCounts: Seq[Option[Long]] =
      entries.filter(e => planned.contains(e.name)).map(e =>
        // exact row count when the entry carries one (null keys
        // included); bloom key counts as the legacy fallback
        e.stats.get(AtomicWarehouse.RowCountStat).map(_.mn.toLong)
          .orElse(e.stats.collectFirst {
            case (c, ColStats("bloom", _, n)) if c.startsWith("bloom(") =>
              n.toLong
          })
          .map(n => math.max(0L, n - suppByEpoch.getOrElse(e.name, 0L))))
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      if (rowCounts.nonEmpty && rowCounts.forall(_.isDefined))
        java.util.OptionalLong.of(rowCounts.flatten.sum)
      else java.util.OptionalLong.empty()
  }

  private def spark = SparkSession.active
  private lazy val resolvedVersion: Long = {
    val cur = AtomicWarehouse.currentVersion(spark, dir)
    val v = changeEnd.orElse(version).getOrElse(cur)
    require(v <= cur,
      s"requested manifest version $v of $dir does not exist yet " +
        s"(current is $cur)")
    v
  }
  private[v2] lazy val allEntries: Seq[EpochEntry] = engineRead.fold(
    AtomicWarehouse.committedEntriesAt(spark, dir, resolvedVersion))(_.entries)
  /** CHANGE FEED (`.option("startingVersion", s)` [+ endingVersion]):
    * the entries appended in manifest versions [s, resolvedVersion] —
    * INCLUSIVE of the starting version, Delta CDF's convention for the
    * identically-named option. Every micro-batch of the manifest tail is
    * this plan too ([[WarehouseMicroBatchStream]]), so the composition
    * rule lives here alone:
    *
    *  - `startingVersion = 0` is the initial SNAPSHOT: every data entry
    *    of the end manifest, folds included, with tombstone drops
    *    applied — the documented extension beyond Delta's surface, and a
    *    default-start stream's first batch;
    *  - `startingVersion >= 1` is the stepped walk of versions [s, e]
    *    ([[WarehouseConnector.steppedEntriesBetween]]): the ORIGINAL
    *    commits, `compact_*` folds skipped (a fold changes no logical
    *    content, and its rows were served as the entries it folded), no
    *    drops applied, and purges and rollbacks refused unless
    *    `ignoreDeletes` — `s = 1` is "everything since the table's
    *    birth", never the snapshot;
    *  - `readChangeFeed` is the row-level walk
    *    ([[WarehouseConnector.cdfAddsBetween]]): tombstone key lists
    *    become `_change_type='delete'` rows, and no drops apply.
    *
    * `_pos` stays the END-version manifest position for entries the end
    * manifest still lists; an in-range entry FOLDED OUT by a compaction
    * gets a stable NEGATIVE position ([[foldedPos]]).
    *
    * The plan is `(data entries with their commit versions, delete
    * entries, served names in interleaved commit order, restore
    * deletes)`; the last three are nonempty only under
    * `readChangeFeed`. */
  private lazy val changePlan
      : Option[(Seq[(String, Long)], Seq[(String, Long)], Seq[String],
                Seq[(String, Long)])] =
    changeStart.map { s0 =>
      // == resolvedVersion + 1 is a legitimate empty poll ("anything
      // after what I have?"); BEYOND that is a corrupt/foreign
      // checkpoint and must fail loudly — an empty feed would be
      // indistinguishable from "no new data" and stall forever
      require(s0 >= 0L && s0 <= resolvedVersion + 1,
        s"startingVersion $s0 is outside this table's history (served " +
          s"end version is $resolvedVersion)")
      // the diff reads each version twice: memoized per read unless the
      // caller brought its own lookup
      val at = namesAt.getOrElse {
        val memo = scala.collection.mutable.HashMap.empty[Long, Seq[String]]
        (v: Long) => memo.getOrElseUpdate(v,
          AtomicWarehouse.committedEpochsAt(spark, dir, v))
      }
      val sExcl = math.max(s0 - 1, 0L)
      if (cdf)
        WarehouseConnector.cdfAddsBetween(sExcl, resolvedVersion,
          ignoreDeletes, at, includePreimages, restoreAsDeletes)
      else {
        val d = (if (s0 == 0L) allEntries.map(_.name).filterNot(n =>
            AtomicWarehouse.isTombstone(n) || AtomicWarehouse.isColMap(n))
          else WarehouseConnector.steppedEntriesBetween(sExcl,
            resolvedVersion, ignoreDeletes, at)).map(_ -> -1L)
        (d, Nil, d.map(_._1), Nil)
      }
    }
  /** Stable positions for served entries missing from the end manifest
    * (folded out mid-range): [-m, -1] in INTERLEAVED COMMIT ORDER
    * (the plan's `order` — data and delete entries by (commit version,
    * within-version manifest index), NOT data-then-deletes: a purge
    * folded out alongside a later re-insert must keep its delete row
    * BELOW the re-insert's `_pos`, or the consumer's `__dpos > _pos`
    * anti-join wrongly retracts the re-added key). */
  private lazy val foldedPos: Map[String, Int] = changePlan match {
    case None => Map.empty
    case Some((_, _, order, _)) =>
      val endNames = allEntries.map(_.name).toSet
      val folded = order.filterNot(endNames)
      val m = folded.size
      folded.zipWithIndex.map { case (n, i) => n -> (i - m) }.toMap
  }
  // DATA entries only — tombstones are split out and applied as per-file
  // key-drop lists (merge-on-read deletion vectors)
  private lazy val entries: Seq[EpochEntry] = changePlan match {
    case None => allEntries.filter(e => !AtomicWarehouse.isTombstone(e.name) &&
      !AtomicWarehouse.isColMap(e.name))
    case Some((data, _, _, _)) =>
      // an in-range entry FOLDED OUT of the end manifest (auto-compact
      // landed inside the range) is still servable — its dir outlives
      // the fold until vacuum. Synthesize a stats-less entry so its
      // files are listed directly (the tail's byName fallback); a
      // vacuumed dir fails LOUDLY at listing instead of silently
      // dropping the appended rows from the feed.
      val byName = allEntries.map(e => e.name -> e).toMap
      data.map(_._1).sorted.map(n => byName.getOrElse(n, EpochEntry(n)))
  }
  private lazy val tombstones: Seq[TombstoneKeys] =
    // drops apply only to SNAPSHOT reads. A stepped range serves
    // appended rows only (a tombstone in range refused or was
    // ignoreDeletes-skipped); a readChangeFeed range serves retractions
    // as explicit delete rows — applying drops there too would silently
    // remove purged keys' HISTORICAL insert rows from the feed while
    // still serving their delete rows (an incomplete history for
    // audit/replay consumers).
    if (cdf || changeStart.exists(_ > 0L)) Nil
    else WarehouseConnector.loadTombstones(spark, dir, allEntries)

  // listing cache, keyed by the planned epoch set (runtime filters can
  // shrink it after planning — filter() invalidates by key mismatch)
  private var filesCache: Option[(Seq[String], Seq[WhFile])] = None
  private def listPlannedFiles(): Seq[WhFile] = synchronized {
    val planned = plannedEpochs()
    filesCache match {
      case Some((p, fl)) if p == planned => fl
      case _ =>
        val f = new Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val byName = entries.map(en => en.name -> en).toMap
        val fl = planned.flatMap(n => byName.get(n)
          .map(entryFiles(f, dir, _))
          .getOrElse(listEpochFiles(f, dir, n)))
        filesCache = Some((planned, fl))
        fl
    }
  }

  /** An engine read's filters ([[EngineRead]]): prune-only, beside the
    * pushed ones. */
  private def engineFilters: Seq[Filter] =
    engineRead.fold(Seq.empty[Filter])(_.filters)

  /** The entries the pushed and engine filters leave, judged once. */
  private lazy val staticPlanned: Seq[EpochEntry] = {
    val all = pruneFilters.toSeq ++ engineFilters
    entries.filter(epochMayMatch(_, mergeKey, all))
  }

  /** Epochs surviving the pushed, engine and runtime filters
    * ([[epochMayMatch]]), in manifest order — what a read of the
    * warehouse plans, and what specs pin its pruning by. */
  def plannedEpochs(): Seq[String] =
    (if (runtimeFilters.isEmpty) staticPlanned
     else staticPlanned.filter(epochMayMatch(_, mergeKey, runtimeFilters)))
      .map(_.name)

  /** Runtime (join-pushed) filters may reference any column the manifest
    * keeps stats or blooms for — with auto stats (round 9) that is most
    * columns, so the list is capped to columns surviving COLUMN PRUNING:
    * Spark resolves each filter attribute against the scan's output, and
    * advertising a pruned-away column fails analysis outright. */
  override def filterAttributes(): Array[NamedReference] =
    if (pushedAgg.isDefined) Array.empty
    else entries.flatMap(_.stats.keys).distinct.collect {
      case c if c.startsWith("bloomstr(") && c.endsWith(")") =>
        c.stripPrefix("bloomstr(").stripSuffix(")")
      case c if c.startsWith("bloom(") && c.endsWith(")") =>
        c.stripPrefix("bloom(").stripSuffix(")")
      case "*" if mergeKey.nonEmpty => mergeKey
      case c if c != "*" && !c.startsWith("bloom(") &&
        !c.startsWith("bloomstr(") &&
        !c.startsWith("#") => c // "#rows" is a reserved slot, not a column
    }.distinct.filter(c => required.fieldNames.contains(c))
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private lazy val posOf: Map[String, Int] =
    allEntries.map(_.name).zipWithIndex.toMap
  // commit instants (manifest mtimes), one listing — CDF only
  private lazy val tsOf: Map[Long, Long] =
    if (cdf) AtomicWarehouse.manifestTimes(spark, dir) else Map.empty
  // column-mapping directives: resolution per manifest position is the
  // identity (two empty arrays) when the manifest carries none
  private[v2] lazy val ops = AtomicWarehouse.colMapOps(allEntries)
  private lazy val byName: Map[String, EpochEntry] =
    (allEntries ++ entries).map(e => e.name -> e).toMap
  private val resoMemo = scala.collection.concurrent.TrieMap
    .empty[Int, (Array[(String, String)], Array[String])]
  private def resoFor(pos: Int) =
    resoMemo.getOrElseUpdate(pos, colMapResolution(pos, ops))
  private val dropColsMemo =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[String]]
  private val dropsMemo = scala.collection.concurrent.TrieMap
    .empty[Int, Array[(String, Array[Long], Array[String])]]

  /** `p` with its read schema registered. */
  private def planned(p: WarehouseFilePartition, epoch: String) =
    fileReads.plan(p, entrySchema(spark, dir,
      byName.getOrElse(epoch, EpochEntry(epoch))),
      dropColsMemo.getOrElseUpdate(p.pos, dropKeyCols(tombstones, p.pos, ops)))

  /** The data files `filters` and the engine filters leave, each with
    * its read schema registered. */
  private def dataFiles(filters: Array[Filter]): Seq[WarehouseFilePartition] = {
    val all = filters.toSeq ++ engineFilters
    val versionOf: Map[String, Long] =
      changePlan.fold(Map.empty[String, Long])(p => p._1.toMap)
    val files = listPlannedFiles()
      .filter(file => all.forall(fileMayMatch(file, _)))
    // a point lookup never opens a file whose every admitted row a
    // later tombstone drops (a deleted key's epochs), and reads
    // without drops a file whose admitted rows none drops
    val pins =
      if (tombstones.isEmpty) Map.empty[String, Seq[Any]]
      else pinnedLiterals(all)
    files.flatMap { file =>
      val v = versionOf.getOrElse(file.epoch, -1L)
      // a stable NEGATIVE position for an epoch folded out of the
      // end manifest mid-range (change feeds only; same contract
      // as the tail) — first-appearance order below position 0
      val pos = posOf.getOrElse(file.epoch, foldedPos.getOrElse(file.epoch, 0))
      val (rn, mk) = resoFor(pos)
      val p = WarehouseFilePartition(file.path, file.len,
        file.partValues.toArray, pos,
        commitVersion = v,
        commitTsMicros = tsOf.getOrElse(v, -1L),
        changeType =
          WarehouseConnector.feedChangeType(file.epoch),
        renames = rn, masked = mk)
      val verdict =
        if (pins.isEmpty) None
        else pinnedDrops(dropsMemo.getOrElseUpdate(pos,
          dropsFor(tombstones, pos, ops)), pins, p, entrySchema(spark, dir,
          byName.getOrElse(file.epoch, EpochEntry(file.epoch))))
      verdict match {
        case Some(true) => None
        case Some(false) => Some(planned(p.copy(applyDrops = false), file.epoch))
        case None => Some(planned(p, file.epoch))
      }
    }
  }

  /** This scan answered on the driver, at planning time: a snapshot
    * batch read (no pushed aggregate, change feed or runtime filter)
    * whose pushed and engine filters pin every merge key part
    * ([[pinnedLiterals]]), to at most [[DriverMaxKeys]] key literals in
    * all, and whose planning leaves at most [[DriverMaxFiles]] files of
    * at most [[DriverMaxBytes]] bytes.
    * Some(source): `source(visit)` decodes the planned files through
    * [[readOnDriver]] and hands `visit` every row the scan would
    * produce, in [[readSchema]] order (the pushed filters stay residual,
    * as on the scan path). None: the scan runs as Spark tasks.
    * [[graft.plans.DriverAnswerStrategy]] plans the answer as a local
    * table. */
  def driverRead: Option[(InternalRow => Unit) => Unit] = {
    val parts = AtomicWarehouse.keyParts(mergeKey)
    lazy val pins = pinnedLiterals(pruneFilters.toSeq ++ engineFilters)
    val pinned = pushedAgg.isEmpty && changeStart.isEmpty &&
      runtimeFilters.isEmpty && parts.nonEmpty &&
      parts.forall(pins.contains) &&
      parts.map(pins(_).size.toLong).product <= DriverMaxKeys
    if (!pinned) return None
    val files = dataFiles(pruneFilters)
    if (files.size > DriverMaxFiles || files.map(_.len).sum > DriverMaxBytes)
      None
    else Some(visit => readOnDriver(spark, required, pruneFilters,
      fileReads, tombstones, ops, files)(visit))
  }

  override def planInputPartitions(): Array[InputPartition] =
    pushedAgg match {
      case Some((_, values)) =>
        // metadata-answered aggregate: ONE partition, ONE precomputed
        // row, ZERO data files opened
        Array(WarehouseAggPartition(values))
      case None =>
        val packed = WarehouseConnector.packPartitions(spark,
          dataFiles(pruneFilters ++ runtimeFilters))
        // readChangeFeed: each in-range tombstone's key list becomes one
        // partition of synthesized _change_type='delete' rows — O(purged
        // keys) rows, no files opened (the keys ARE the manifest's
        // deletion vector). Residual row filters still apply Spark-side.
        val deletes: Array[InputPartition] = changePlan match {
          case Some((_, dels, _, _)) if dels.nonEmpty =>
            dels.map { case (name, v) =>
              val keyCol0 = AtomicWarehouse.tombstoneKeyCol(spark, dir, name)
                .getOrElse("")
              val dpos = posOf.getOrElse(name, foldedPos.getOrElse(name, 0))
              // serve the retraction under the END schema's key name —
              // directives after the tombstone may have renamed it
              val keyCol = WarehouseConnector
                .tombKeyServedName(keyCol0, dpos, ops)
                .getOrElse(throw new UnsupportedOperationException(
                  s"graft-warehouse change feed: the key column " +
                    s"'$keyCol0' of tombstone $name was DROPPED by a " +
                    "later column-mapping directive — the retraction's " +
                    "identity cannot be served; read the range up to " +
                    "the directive separately, or set " +
                    ".option(\"ignoreDeletes\", true)"))
              val (_, ls, ss) =
                AtomicWarehouse.readTombstoneKeys(spark, dir, name)
              WarehouseDeleteKeysPartition(keyCol, ls, ss, dpos, v,
                tsOf.getOrElse(v, -1L))
                : InputPartition
            }.toArray
          case _ => Array.empty
        }
        // restoreAsDeletes (c83): each entry a RESTORE removed is
        // re-planned — its own files — as `_change_type='delete'` rows
        // at the sentinel's position (above the entry's insert, below
        // every survivor). O(removed entries) extra file reads, zero
        // driver-side key collection.
        val restoreDeleteFiles: Seq[WarehouseFilePartition] =
          changePlan match {
            case Some((_, _, _, rDels)) if rDels.nonEmpty =>
              val f = new Path(dir).getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              rDels.flatMap { case (n, v) =>
                val dfiles = byName.get(n)
                  .map(WarehouseConnector.entryFiles(f, dir, _))
                  .getOrElse(WarehouseConnector.listEpochFiles(f, dir, n))
                val pos = foldedPos.getOrElse(
                  WarehouseConnector.restoreDelSentinel(n, v), 0)
                val (rn, mk) = resoFor(posOf.getOrElse(n, pos))
                dfiles.map(file => planned(WarehouseFilePartition(file.path,
                  file.len, file.partValues.toArray, pos, applyDrops = false,
                  commitVersion = v,
                  commitTsMicros = tsOf.getOrElse(v, -1L),
                  changeType = "delete", renames = rn, masked = mk), n))
              }
            case _ => Nil
          }
        packed ++
          WarehouseConnector.packPartitions(spark, restoreDeleteFiles) ++
          deletes
    }

  /** The read schemas of this scan's planned files ([[planInputPartitions]]
    * registers them; Spark plans the partitions before it asks for the
    * reader factory). */
  private lazy val fileReads = new FileReads(required)

  override def createReaderFactory(): PartitionReaderFactory =
    if (pushedAgg.isDefined) new WarehouseAggReaderFactory
    else new WarehouseReaderFactory(required, pruneFilters ++ runtimeFilters,
      fileReads.broadcast(spark), tombstones, ops)

  override def description(): String =
    s"graft-warehouse($dir ${engineRead.fold(s"v$resolvedVersion")(_ =>
      s"${staticPlanned.size} of ${allEntries.size} entries")}) " +
      s"PushedFilters: [${pruneFilters.mkString(", ")}], " +
      pushedAgg.map { case (sch, _) =>
        s"PushedAggregates: [${sch.fieldNames.mkString(", ")}], "
      }.getOrElse("") +
      s"ReadSchema: ${readSchema().simpleString}"

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pushedAgg.isEmpty,
      "graft-warehouse streaming read supports filter/column pushdown only")
    // a stream tracks its own end offsets — a silent ignore here would
    // re-serve the full snapshot a startingVersion consumer already has
    require(changeEnd.isEmpty,
      "endingVersion is a batch-only option: a readStream tracks its " +
        "own end offsets (use Trigger.AvailableNow to drain to a point)")
    new WarehouseMicroBatchStream(dir, required, pruneFilters, mergeKey,
      maxVersionsPerBatch, ignoreDeletes, startVersion = changeStart,
      cdf = cdf, includePreimages = includePreimages,
      restoreAsDeletes = restoreAsDeletes)
  }
}

object WarehouseScan {
  /** The warehouse scans `df` reads, from its optimized plan (a
    * driver-answered read plans no `BatchScanExec`): the handle on what a
    * read plans ([[WarehouseScan.plannedEpochs]]). */
  def of(df: org.apache.spark.sql.DataFrame): Seq[WarehouseScan] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation if r.scan.isInstanceOf[WarehouseScan] =>
        r.scan.asInstanceOf[WarehouseScan]
    }
}

/** The single metadata-computed row of a pushed-down aggregate. */
final case class WarehouseAggPartition(values: Array[Any])
    extends InputPartition

class WarehouseAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WarehouseAggPartition]
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean = { val r = !served; served = true; r }
      override def get(): InternalRow = new GenericInternalRow(p.values)
      override def close(): Unit = ()
    }
  }
}

/** One data file to read. Tombstone key-drop lists are NOT carried
  * here: at T tombstones × F files, per-partition drop arrays cost
  * O(T·F) driver CPU to build and O(keys) serialized bytes PER TASK
  * (~200 MB through the scheduler at the probe's T=400 × 12.8k files).
  * The factory ships the tombstone list ONCE in the stage's task
  * binary and derives each position's drops memoized; the partition
  * carries only its manifest position and whether drops apply (not
  * when the read's pins show no drop can touch it, nor for a restore's
  * delete rows). `len` is the file's byte length; `read` indexes the
  * factory's read schemas ([[WarehouseConnector.FileReads]]). */
final case class WarehouseFilePartition(path: String,
    len: Long,
    partValues: Array[(String, String)],
    pos: Int = 0,
    applyDrops: Boolean = true,
    commitVersion: Long = -1L,
    commitTsMicros: Long = -1L,
    changeType: String = "insert",
    // COLUMN MAPPING resolution for this file's entry (both empty when
    // the manifest carries no directives): `renames` maps a SERVED name
    // to the PHYSICAL column this file stores it under; `masked` lists
    // physical names that must NOT serve under their own name (renamed
    // away or dropped after this entry committed — a later re-added
    // column of the same name is a different column).
    renames: Array[(String, String)] = Array.empty,
    masked: Array[String] = Array.empty,
    read: Int = -1)
    extends InputPartition {
  /** The physical column this file stores served column `n` under: the
    * rename indirection first, the name itself unless a later directive
    * remapped or dropped it. */
  def physOf(n: String): Option[String] =
    renames.collectFirst { case (`n`, ph) => ph }
      .orElse(if (masked.contains(n)) None else Some(n))
}

/** Several bin-packed small files served by ONE task (see
  * [[WarehouseConnector.packPartitions]]); the reader chains the
  * per-file readers lazily, so memory stays one-file-bounded. */
final case class WarehouseFilesPartition(files: Array[WarehouseFilePartition])
    extends InputPartition

/** One in-range TOMBSTONE served as `_change_type='delete'` rows
  * (`readChangeFeed` only): the purged key values ride the partition
  * itself — O(purged keys) by the purge contract, zero files opened.
  * Every data column except the key is null (the manifest records the
  * retracted IDENTITIES, not pre-images — exactly what a downstream
  * merge needs to apply the retraction). */
final case class WarehouseDeleteKeysPartition(keyCol: String,
    keys: Array[Long], strKeys: Array[String],
    pos: Int, commitVersion: Long, commitTsMicros: Long = -1L)
    extends InputPartition

object WarehouseReaderFactory {
  /** One distinct file read schema and the broadcast Hadoop conf that
    * carries it to Spark's parquet reader. */
  final case class Read(schema: StructType,
      conf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration])
}

/** Executor-side decode through Spark's own parquet reader
  * (`ParquetPartitionReaderFactory`, the reader behind
  * `spark.read.parquet`): vectorized
  * decode, row-group skipping from the pushed filters (Spark's
  * `ParquetFilters` over each footer's statistics), and nulls for
  * requested columns a file lacks. Each file is read under its PHYSICAL
  * schema ([[WarehouseConnector.fileReadSchema]], one of `reads`); this
  * factory maps the decoded rows onto the served schema — renamed
  * columns under their served names, masked and absent columns null,
  * hive partition values and the per-file `_pos`/change-feed columns as
  * constants — and applies the tombstone key drops to the decoded
  * values. Every filter stays residual: Spark re-filters the rows of the
  * row groups that survive. */
class WarehouseReaderFactory(required: StructType,
    filters: Array[Filter],
    reads: Array[WarehouseReaderFactory.Read],
    tombstones: Seq[WarehouseConnector.TombstoneKeys] = Nil,
    colMapOps: Seq[(Int, graft.sinks.AtomicWarehouse.ColMapOp)] = Nil)
    extends PartitionReaderFactory {
  import WarehouseConnector.{ChangeTypeColumn, CommitTimestampColumn,
    CommitVersionColumn, PosColumn}

  /** Per-position drop lists derived from the factory-shipped tombstone
    * list — key columns resolved through the column-mapping directives
    * between each tombstone and the file's entry — memoized: entries
    * share positions, so each is computed once per executor instead of
    * once per file on the driver. */
  @transient private lazy val dropsByPos = new java.util.concurrent
    .ConcurrentHashMap[Integer, Array[(String, Array[Long], Array[String])]]()
  private def dropsAt(pos: Int): Array[(String, Array[Long], Array[String])] =
    if (tombstones.isEmpty) Array.empty
    else dropsByPos.computeIfAbsent(pos,
      p => WarehouseConnector.dropsFor(tombstones, p, colMapOps))

  /** The task's session conf (Spark propagates it to executor tasks;
    * a driver-side SQLConf does not survive serialization). */
  @transient private lazy val sqlConf =
    org.apache.spark.sql.internal.SQLConf.get

  /** Epochs decode exactly as written: no calendar rebase of dates,
    * timestamps or INT96 values. */
  @transient private lazy val parquetOptions = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
    new ParquetOptions(Map(
      ParquetOptions.DATETIME_REBASE_MODE -> "CORRECTED",
      ParquetOptions.INT96_REBASE_MODE -> "CORRECTED"), sqlConf)
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case m: WarehouseFilesPartition => new PartitionReader[InternalRow] {
      private var i = 0
      private var cur: PartitionReader[InternalRow] = _
      @annotation.tailrec
      override final def next(): Boolean = {
        if (cur == null) {
          if (i >= m.files.length) return false
          cur = fileReader(m.files(i)); i += 1
        }
        if (cur.next()) true
        else { cur.close(); cur = null; next() }
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }
    case p: WarehouseFilePartition => fileReader(p)
    case d: WarehouseDeleteKeysPartition => new PartitionReader[InternalRow] {
      private val total = d.keys.length + d.strKeys.length
      private var i = -1
      /** Key value coerced to the TABLE's key-column type: long keys
        * render to string columns in canonical decimal form and string
        * keys parse to long columns with the engine's cast semantics —
        * the same correspondences the scan-time drop checks use, so a
        * consumer anti-joining the delete rows retracts exactly the
        * rows the engine suppresses. */
      private def keyAt(dt: DataType, j: Int): Any =
        if (j < d.keys.length) dt match {
          case LongType => d.keys(j)
          case IntegerType =>
            val k = d.keys(j); if (k.isValidInt) k.toInt else null
          case StringType => UTF8String.fromString(d.keys(j).toString)
          case _ => null
        } else {
          val s = d.strKeys(j - d.keys.length)
          dt match {
            case StringType => UTF8String.fromString(s)
            case LongType => AtomicWarehouse.sparkLongCast(s).orNull
            case IntegerType => AtomicWarehouse.sparkLongCast(s)
              .collect { case k if k.isValidInt => k.toInt }.orNull
            case _ => null
          }
        }
      /** COMPOSITE tombstone (keyCol "k1,k2"): the rendering splits back
        * into its parts, each coerced to ITS column's type — the delete
        * row carries every key-part column populated, so a consumer
        * anti-joining on the parts retracts exactly the engine's rows. */
      private val keyCols = AtomicWarehouse.keyParts(d.keyCol)
      private def partAt(dt: DataType, partIdx: Int, j: Int): Any = {
        if (j < d.keys.length) return null // composite keys are strings
        val vs = d.strKeys(j - d.keys.length)
          .split(AtomicWarehouse.CompositeSep, -1)
        if (vs.length != keyCols.size) return null
        val s = vs(partIdx)
        dt match {
          case StringType => UTF8String.fromString(s)
          case LongType => AtomicWarehouse.sparkLongCast(s).orNull
          case IntegerType => AtomicWarehouse.sparkLongCast(s)
            .collect { case k if k.isValidInt => k.toInt }.orNull
          case _ => null
        }
      }
      private val getters: Array[Int => Any] = required.fields.map { f =>
        if (f.name == WarehouseConnector.PosColumn) (_: Int) => d.pos
        else if (f.name == WarehouseConnector.ChangeTypeColumn) {
          val v = UTF8String.fromString("delete"); (_: Int) => v
        } else if (f.name == WarehouseConnector.CommitVersionColumn)
          (_: Int) => d.commitVersion
        else if (f.name == WarehouseConnector.CommitTimestampColumn)
          (_: Int) => d.commitTsMicros
        else if (keyCols.size > 1 && keyCols.contains(f.name)) {
          val pi = keyCols.indexOf(f.name)
          (j: Int) => partAt(f.dataType, pi, j)
        } else if (f.name == d.keyCol) (j: Int) => keyAt(f.dataType, j)
        else (_: Int) => null
      }
      override def next(): Boolean = { i += 1; i < total }
      override def get(): InternalRow =
        new GenericInternalRow(getters.map(_(i)))
      override def close(): Unit = ()
    }
    case other => throw new IllegalStateException(
      s"unexpected partition type ${other.getClass.getName}")
  }

  /** The pushed filters over this file's PHYSICAL columns: served names
    * rewritten to the name the file stores them under; a conjunct naming
    * a column the file cannot serve (masked) is dropped — a weaker
    * predicate only reads more row groups, and Spark re-filters rows.
    * Columns the file lacks (additive evolution, partition values) pass
    * through: Spark's reader skips filters on columns absent from the
    * footer. Under `Not`, conjuncts must translate whole. */
  private def physicalFilter(f: Filter, p: WarehouseFilePartition,
      partial: Boolean = true): Option[Filter] = {
    def on(c: String)(mk: String => Filter) = p.physOf(c).map(mk)
    f match {
      case And(l, r) =>
        (physicalFilter(l, p, partial), physicalFilter(r, p, partial)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (a, b) => if (partial) a.orElse(b) else None
        }
      case Or(l, r) => for {
        a <- physicalFilter(l, p, partial = false)
        b <- physicalFilter(r, p, partial = false)
      } yield Or(a, b)
      case Not(c) => physicalFilter(c, p, partial = false).map(Not)
      case EqualTo(c, v) => on(c)(EqualTo(_, v))
      case EqualNullSafe(c, v) => on(c)(EqualNullSafe(_, v))
      case GreaterThan(c, v) => on(c)(GreaterThan(_, v))
      case GreaterThanOrEqual(c, v) => on(c)(GreaterThanOrEqual(_, v))
      case LessThan(c, v) => on(c)(LessThan(_, v))
      case LessThanOrEqual(c, v) => on(c)(LessThanOrEqual(_, v))
      case In(c, vs) => on(c)(In(_, vs))
      case IsNull(c) => on(c)(IsNull)
      case IsNotNull(c) => on(c)(IsNotNull)
      case StringStartsWith(c, v) => on(c)(StringStartsWith(_, v))
      case StringEndsWith(c, v) => on(c)(StringEndsWith(_, v))
      case StringContains(c, v) => on(c)(StringContains(_, v))
      case _ => None
    }
  }

  private def fileReader(p: WarehouseFilePartition)
      : PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.ProjectingInternalRow
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
    val read = reads(p.read)
    val decoded = read.schema.fieldNames
    val partMap = p.partValues.toMap

    // each served column is an ordinal into (decoded columns ++ this
    // file's constants)
    val consts = scala.collection.mutable.ArrayBuffer.empty[Any]
    def const(v: Any): Int = { consts += v; decoded.length + consts.size - 1 }
    val ordinals = required.fields.toIndexedSeq.map { f =>
      // `_pos`: the partition's manifest position, a per-file constant
      // (every row in a file belongs to one entry)
      if (f.name == PosColumn) const(p.pos)
      else partMap.get(f.name) match {
        case Some(raw) => const(partValue(f, raw))
        case None => p.physOf(f.name).map(decoded.indexOf(_)).filter(_ >= 0)
          .getOrElse(f.name match {
            // readChangeFeed: every row decoded from a data file is an
            // append — per-file constants like `_pos`: 'insert' for plain
            // epochs, 'update_postimage' for SQL UPDATE epochs
            // ([[WarehouseConnector.feedChangeType]], Delta CDF's typing)
            case ChangeTypeColumn => const(UTF8String.fromString(p.changeType))
            case CommitVersionColumn => const(p.commitVersion)
            case CommitTimestampColumn => const(p.commitTsMicros)
            case _ => const(null) // additively-evolved column: this epoch predates it
          })
      }
    }
    val dropped = dropCheck(p, read.schema, partMap)

    val file = PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(p.path), 0L, p.len,
      Array.empty[String], 0L, p.len, Map.empty)
    val in = ParquetPartitionReaderFactory(sqlConf, read.conf, read.schema,
      read.schema, new StructType(), filters.flatMap(physicalFilter(_, p)),
      None, parquetOptions).buildReader(file)
    val constRow = new GenericInternalRow(consts.toArray)
    val joined = new JoinedRow()
    val out = ProjectingInternalRow(required, ordinals)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        var more = in.next()
        while (more && dropped(in.get())) more = in.next()
        more
      }
      override def get(): InternalRow = {
        out.project(joined(in.get(), constRow)); out
      }
      override def close(): Unit = in.close()
    }
  }

  /** Hive partition path value → Spark internal value per the schema's
    * type for that column. */
  private def partValue(f: StructField, raw: String): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else f.dataType match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case BooleanType => raw.toBoolean
      case DateType =>
        java.time.LocalDate.parse(raw).toEpochDay.toInt
      case dt => throw new IllegalArgumentException(
        s"graft-warehouse partition column '${f.name}' of type $dt is " +
          "unsupported — partition on string/int/long/double/boolean/date")
    }

  /** TOMBSTONE key drops (merge-on-read): whether a decoded row's key is
    * in one of the file's drop lists — the connector's deletion-vector
    * application. LONG drops cast-compare (a string-stored key parses
    * with the engine's `try_cast` semantics,
    * [[AtomicWarehouse.sparkLongCast]] — trim + sign, so connector and
    * engine reads suppress the same rows); STRING drops compare the
    * canonical rendering (a numeric key matches its decimal form).
    * COMPOSITE tombstones (keyCol = "k1,k2") compare the parts'
    * renderings joined with the engine's separator. A null key part, or
    * one this file predates, never matches (null keys are never purge
    * targets). Hive partition key values are per-file constants. */
  private def dropCheck(p: WarehouseFilePartition, schema: StructType,
      partMap: Map[String, String]): InternalRow => Boolean = {
    if (!p.applyDrops) return _ => false
    val drops = dropsAt(p.pos)
    if (drops.isEmpty) return _ => false
    def getter[T](c: String, fromRaw: String => Option[T])(
        decode: PartialFunction[DataType, (InternalRow, Int) => Option[T]])
        : InternalRow => Option[T] = partMap.get(c) match {
      case Some(raw) => val v = fromRaw(raw); _ => v
      case None => schema.fieldNames.indexOf(c) match {
        case i if i >= 0 && decode.isDefinedAt(schema(i).dataType) =>
          val d = decode(schema(i).dataType)
          r => if (r.isNullAt(i)) None else d(r, i)
        case _ => _ => None // the epoch predates the key column
      }
    }
    def render(c: String) = getter[String](c, Some(_)) {
      case StringType => (r, i) => Some(r.getUTF8String(i).toString)
      case LongType => (r, i) => Some(r.getLong(i).toString)
      case IntegerType => (r, i) => Some(r.getInt(i).toString)
    }
    def asLong(c: String) = getter[Long](c, AtomicWarehouse.sparkLongCast) {
      case LongType => (r, i) => Some(r.getLong(i))
      case IntegerType => (r, i) => Some(r.getInt(i).toLong)
      case StringType => (r, i) =>
        AtomicWarehouse.sparkLongCast(r.getUTF8String(i).toString)
    }
    def setOf[T](xs: Seq[T]) = new java.util.HashSet[T](
      java.util.Arrays.asList(xs: _*))
    val checks: Seq[InternalRow => Boolean] = drops.toSeq.flatMap {
      case (c, keys, strKeys) =>
        val parts = AtomicWarehouse.keyParts(c)
        if (parts.size > 1) {
          if (strKeys.isEmpty) Nil
          else {
            val set = setOf(strKeys.toSeq)
            val rs = parts.map(render)
            Seq((r: InternalRow) => {
              val vs = rs.map(_(r))
              vs.forall(_.isDefined) &&
                set.contains(vs.flatten.mkString(AtomicWarehouse.CompositeSep))
            })
          }
        } else {
          val longCheck = if (keys.isEmpty) None else {
            val set = setOf(keys.toSeq.map(Long.box)); val get = asLong(c)
            Some((r: InternalRow) => get(r).exists(k => set.contains(k)))
          }
          val strCheck = if (strKeys.isEmpty) None else {
            val set = setOf(strKeys.toSeq); val get = render(c)
            Some((r: InternalRow) => get(r).exists(set.contains))
          }
          longCheck.toSeq ++ strCheck
        }
    }
    r => checks.exists(_(r))
  }
}

/** Manifest version as a streaming offset: "the logical content of
  * manifest v is fully served". */
final case class WarehouseVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = v.toString
}

/** The warehouse as a STREAMING source — `spark.readStream.format(
  * "graft-warehouse")` tails the manifest, Delta-style: offsets are
  * manifest versions checkpointed by the engine, so a restarted query
  * resumes at the exact version it left off — exactly-once tailing with
  * no marker columns in the data.
  *
  * Each micro-batch (s, e] is the batch change feed of that version
  * range: one [[WarehouseScan]] plans and decodes it, so what a batch
  * serves is [[WarehouseScan.changePlan]]'s rule. A default-start,
  * non-CDF stream's first batch is the initial snapshot (the feed's
  * `startingVersion = 0`); every other batch serves the changes of
  * versions s+1 to e. What only a stream has stays here:
  *
  *  - offsets: a fresh stream starts at version 0, or at s−1 under
  *    `.option("startingVersion", s)`;
  *  - admission control: `.option("maxVersionsPerBatch", k)` caps how
  *    many manifest versions one micro-batch advances — bounding batch
  *    size by drain cadence; `Trigger.AvailableNow` snapshots the
  *    current version and drains to exactly there;
  *  - the RETENTION CONTRACT: stepping reads the intermediate manifests,
  *    so [[AtomicWarehouse.vacuum]]'s `retainVersions` must exceed the
  *    stream's maximum version lag (a lagging stream whose manifests
  *    were vacuumed fails loudly at the missing version rather than
  *    silently skipping);
  *  - the pinned schema: a column-mapping directive that renames or
  *    drops a served column after the stream started is refused. */
class WarehouseMicroBatchStream(dir: String, required: StructType,
    pruneFilters: Array[Filter], mergeKey: String, maxVersionsPerBatch: Int,
    ignoreDeletes: Boolean = false,
    startVersion: Option[Long] = None, cdf: Boolean = false,
    includePreimages: Boolean = false, restoreAsDeletes: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset, ReadLimit}
  import WarehouseConnector._

  private def spark = SparkSession.active
  private var availableNowTarget: Option[Long] = None
  /** The scan that planned the latest batch, whose reader factory
    * decodes it: Spark plans a batch's partitions before it asks for
    * the factory. */
  @volatile private var batchScan: Option[WarehouseScan] = None

  /** Per-STREAM memo of each version's committed entry names: the tail
    * diffs consecutive manifests, so without it a batch of V versions
    * re-read+parsed ~2×V manifest files of O(entries × stats-cols)
    * lines — the connstream probe measured per-batch cost GROWING with
    * manifest length from exactly this (1.0 s/batch at 100 epochs vs
    * 2.3 s at 1000). Manifests are immutable for the life of a tail
    * (folds/purges fail it loudly or are ignoreDeletes-skipped), so the
    * memo is sound here where a session-global cache would not be (a
    * recreated warehouse may re-use version numbers). Names only —
    * O(versions × avg names) strings per stream. */
  private val names =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Seq[String]]()
  private val namesAt: Long => Seq[String] = v => names.computeIfAbsent(v,
    _ => AtomicWarehouse.committedEpochsAt(spark, dir, v))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(AtomicWarehouse.currentVersion(spark, dir))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** A fresh stream starts at version 0 (initial snapshot, then tail) —
    * or, with `.option("startingVersion", s)`, at s−1 (serve the
    * changes OF version s and later, INCLUSIVE like Delta's
    * identically-named streaming option, with no snapshot). Checked
    * against live history here because a too-new start would otherwise
    * plan empty batches forever — indistinguishable from "no new
    * data". */
  override def initialOffset(): StreamOffset = {
    val s = startVersion.map(v => math.max(v - 1, 0L)).getOrElse(0L)
    if (s > 0L) {
      val cur = AtomicWarehouse.currentVersion(spark, dir)
      require(s <= cur + 1,
        s"startingVersion ${startVersion.get} is outside this table's " +
          s"history (current version is $cur)")
    }
    WarehouseVersionOffset(s)
  }
  override def deserializeOffset(json: String): StreamOffset =
    WarehouseVersionOffset(json.toLong)

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled path")

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val s = start.asInstanceOf[WarehouseVersionOffset].v
    val cur = availableNowTarget
      .getOrElse(AtomicWarehouse.currentVersion(spark, dir))
    val end =
      if (maxVersionsPerBatch > 0) math.min(cur, s + maxVersionsPerBatch)
      else cur
    WarehouseVersionOffset(math.max(s, end))
  }

  override def reportLatestOffset(): StreamOffset =
    WarehouseVersionOffset(AtomicWarehouse.currentVersion(spark, dir))

  override def planInputPartitions(start: StreamOffset,
      end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[WarehouseVersionOffset].v
    val e = end.asInstanceOf[WarehouseVersionOffset].v
    // offset 0 is the initial snapshot only for a default-start plain
    // stream: an explicit startingVersion asked for the changes of
    // version s and later, so even its first batch is a stepped walk
    val scan = new WarehouseScan(dir, None, mergeKey, served, pruneFilters,
      maxVersionsPerBatch, ignoreDeletes,
      changeStart = Some(if (s == 0L && startVersion.isEmpty && !cdf) 0L
        else s + 1),
      changeEnd = Some(e), cdf = cdf, includePreimages = includePreimages,
      restoreAsDeletes = restoreAsDeletes, namesAt = Some(namesAt))
    // a STREAM's schema is pinned at stream start: a column-mapping
    // directive landing after that re-shapes what the end version serves
    // under the consumer's fixed names — detected as a pinned data
    // column the END-version effective schema no longer carries, and
    // refused loudly (Delta refuses streaming over rename/drop the same
    // way); restart the stream to pick up the mapped schema. Directives
    // wholly before the pinned schema are fine — the scan reads old
    // epochs through them.
    if (scan.ops.nonEmpty) {
      val mapped = servedSchema(spark, dir, scan.allEntries).fieldNames.toSet
      val metaCols = Set(PosColumn, ChangeTypeColumn, CommitVersionColumn,
        CommitTimestampColumn)
      val stale = required.fieldNames
        .filterNot(n => mapped.contains(n) || metaCols.contains(n))
      if (stale.nonEmpty)
        throw new UnsupportedOperationException(
          s"graft-warehouse stream: column(s) ${stale.mkString(", ")} " +
            "were renamed or dropped by a column-mapping directive after " +
            "this stream's schema was pinned — restart the stream to " +
            "read through the new mapping")
    }
    batchScan = Some(scan)
    scan.planInputPartitions()
  }

  // `_pos` THROUGH THE TAIL: the streaming plan keeps the RELATION's
  // output — data columns plus any resolved metadata column appended
  // LAST — but (unlike batch) column pruning never reaches the scan
  // builder, so `required` here is the bare table schema. Serve `_pos`
  // as an extra TRAILING field whenever it isn't already projected: a
  // consumer that selected it reads the appended ordinal (the relation
  // layout puts metadata columns last), one that didn't never reads past
  // its own schema width — so the tiebreaker has identical semantics on
  // the tail path (position in the END-version manifest; stable across
  // batches because the tail path's manifest is append-only:
  // folds/purges fail the tail or are skipped).
  private val served =
    if (required.fieldNames.contains(PosColumn)) required
    else required.add(StructField(PosColumn, IntegerType, nullable = false))

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan.getOrElse(throw new IllegalStateException(
      "graft-warehouse stream: a reader factory was asked for before " +
        "any batch was planned")).createReaderFactory()

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}
