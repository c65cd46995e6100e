package graft.sources.v2

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sinks.AtomicWarehouse

/** The WRITE half of the `graft-warehouse` connector:
  *
  * {{{
  *   df.write.format("graft-warehouse")
  *     .option("path", whDir).option("seq", 7)
  *     .option("statsKey", "k").option("bloomKey", "k")
  *     .mode("append").save()
  * }}}
  *
  * drains `df` as epoch 7 through the SAME atomic commit protocol every
  * other writer uses ([[AtomicWarehouse.commitStagedEpoch]]): executor
  * tasks stream parquet parts into a hidden stage dir under the
  * warehouse, the job commit drops any uncommitted task attempt's
  * leftovers (only files named in task COMMIT messages survive — the
  * task-retry dedup the two-phase protocol exists for), moves the stage
  * into place with one atomic dir rename, and publishes the manifest via
  * the CAS loop. A crash anywhere before the manifest rename leaves the
  * warehouse exactly as it was; re-running the same write converges
  * (same-seq replay adopts the committed epoch and drops its stage).
  *
  * Zone-map/bloom options ride the write: `statsKey`/`statsCols`/
  * `bloomKey` feed the manifest entry exactly as commitEpoch's
  * parameters do, so epochs written through the connector prune
  * identically on read.
  *
  * Append-only by design: an epoch is an immutable delta, so
  * `mode("overwrite")` is refused by Spark itself (no SupportsTruncate)
  * — warehouse-wide rewrites are [[AtomicWarehouse.compact]]'s job, with
  * its own concurrency story.
  *
  * Executor-side encoding streams [[InternalRow]]s STRAIGHT into
  * parquet-mr's column writers through a custom public-API
  * `WriteSupport` ([[InternalRowWriteSupport]]) — no intermediate Group
  * materialization, no per-value name lookups (the pre-round-8 example
  * Group writer allocated a SimpleGroup per row and resolved every
  * field by string, the connector probe's dominant write cost). Flat
  * long/int/string/double/float/boolean/date/timestamp(micros) columns,
  * refused loudly at PLANNING time otherwise. Scale: one part file per
  * task, streamed row-by-row (no buffering of the partition), stage →
  * epoch is one rename, manifest commit is O(delta stats). */
object WarehouseSink {

  /** Spark schema → parquet MessageType, the exact inverse of the read
    * side's decode table. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case DateType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case TimestampType | TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw new IllegalArgumentException(
          s"graft-warehouse cannot write column '${f.name}' of type $other" +
            " — warehouse epochs hold flat primitive columns only")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }
}

/** Parquet `WriteSupport` that encodes Spark [[InternalRow]]s directly
  * via the RecordConsumer API — public parquet-mr surface, zero
  * intermediate allocation per row beyond the string-bytes copy parquet
  * requires anyway. Per-column closures are resolved ONCE from the
  * schema; the hot loop is index-addressed primitive appends, the same
  * shape parquet-mr's own column writers expect. */
class InternalRowWriteSupport(schema: StructType)
    extends org.apache.parquet.hadoop.api.WriteSupport[InternalRow] {
  import org.apache.parquet.io.api.RecordConsumer

  private val msg = WarehouseSink.messageType(schema)
  private var consumer: RecordConsumer = _
  private val names = schema.fieldNames
  private val appenders: Array[(RecordConsumer, InternalRow, Int) => Unit] =
    schema.fields.map { f =>
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          (c, r, i) => c.addLong(r.getLong(i))
        case IntegerType | DateType => (c, r, i) => c.addInteger(r.getInt(i))
        case StringType => (c, r, i) =>
          c.addBinary(Binary.fromConstantByteArray(r.getUTF8String(i).getBytes))
        case DoubleType => (c, r, i) => c.addDouble(r.getDouble(i))
        case FloatType => (c, r, i) => c.addFloat(r.getFloat(i))
        case BooleanType => (c, r, i) => c.addBoolean(r.getBoolean(i))
        case other => throw new IllegalStateException(
          s"unreachable: $other passed builder validation")
      }
    }

  override def init(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
    new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(msg,
      java.util.Collections.emptyMap[String, String]())

  override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

  override def write(row: InternalRow): Unit = {
    consumer.startMessage()
    var i = 0
    while (i < appenders.length) {
      if (!row.isNullAt(i)) {
        consumer.startField(names(i), i)
        appenders(i)(consumer, row, i)
        consumer.endField(names(i), i)
      }
      i += 1
    }
    consumer.endMessage()
  }
}

/** Public-API `ParquetWriter` builder over [[InternalRowWriteSupport]]. */
class InternalRowParquetWriterBuilder(
    file: org.apache.parquet.io.OutputFile, schema: StructType)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, InternalRowParquetWriterBuilder](file) {
  override def self(): InternalRowParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new InternalRowWriteSupport(schema)
}

class WarehouseWriteBuilder(dir: String, info: LogicalWriteInfo,
    defaults: Map[String, String] = Map.empty)
    extends WriteBuilder {
  override def build(): Write = {
    // catalog tables (CREATE TABLE ... USING graft-warehouse) persist
    // write defaults as table properties; per-write options win
    val o = new CaseInsensitiveStringMap({
      val m = new java.util.HashMap[String, String]()
      defaults.foreach { case (k, v) => m.put(k, v) }
      m.putAll(info.options())
      m
    })
    WarehouseSink.messageType(info.schema()) // fail unsupported types NOW
    // SCHEMA ENFORCEMENT at planning: additive evolution may add
    // columns, never retype them — an incompatible epoch would commit
    // fine and then fail EVERY subsequent read at schema resolution,
    // the worst possible failure point. Checked against the CURRENT
    // manifest (a racing evolver can still slip through the
    // read-check-write window; the read side's resolution error is the
    // backstop, this check is the ergonomics).
    locally {
      val spark = SparkSession.active
      val existing = WarehouseConnector.snapshotSchema(spark, dir,
        graft.sinks.AtomicWarehouse.currentVersion(spark, dir))
      info.schema().fields.foreach { f =>
        existing.fields.find(_.name == f.name).foreach(prev =>
          graft.sinks.AtomicWarehouse.requireSameType(dir, f.name,
            prev.dataType, f.dataType, "the written data"))
      }
    }
    val statsCols = Option(o.get("statsCols")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val seq = Option(o.get("seq")).flatMap(_.toLongOption)
    val seqBase = Option(o.get("seqBase")).flatMap(_.toLongOption)
      .getOrElse(1L)
    val clusterBy = Option(o.get("clusterBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    clusterBy.foreach(c => require(info.schema().fieldNames.contains(c),
      s"clusterBy column '$c' is not in the written schema"))
    val zorderBy = Option(o.get("zorderBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    zorderBy.foreach(c => require(info.schema().fieldNames.contains(c),
      s"zorderBy column '$c' is not in the written schema"))
    // fail-at-planning, like messageType above: an unsupported z-order
    // column type would otherwise only surface in zorderFrame's numeric
    // embedding AFTER the whole write job ran, leaving the staged dir
    // to leak until vacuum
    zorderBy.foreach { c =>
      info.schema()(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
            TimestampType | TimestampNTZType => ()
        case other => throw new IllegalArgumentException(
          s"zorderBy column '$c' of type $other is unsupported: integral, " +
            "date and timestamp columns have the numeric embedding " +
            "bucketing needs")
      }
    }
    require(zorderBy.isEmpty || clusterBy.isEmpty,
      "clusterBy and zorderBy are alternative layouts — pick one")
    require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
      s"zorderBy interleaves 2-4 columns; got ${zorderBy.mkString(",")}")
    new WarehouseWrite(dir, seq, seqBase, info.schema(),
      Option(o.get("statsKey")), statsCols, Option(o.get("bloomKey")),
      clusterBy, o.getInt("writePartitions", 0), zorderBy)
  }
}

class WarehouseWrite(dir: String, seqOpt: Option[Long], seqBase: Long,
    schema: StructType, statsKey: Option[String], statsCols: Seq[String],
    bloomKey: Option[String], clusterBy: Seq[String] = Nil,
    writePartitions: Int = 0, zorderBy: Seq[String] = Nil)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite
    with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}

  override def toBatch: BatchWrite = this

  /** `.option("clusterBy", "a,b")` — the engine RANGE-partitions and
    * sorts the rows on the named columns BEFORE the sink sees them
    * (Spark's own `RequiresDistributionAndOrdering` contract, the API
    * Iceberg's sorted tables use): each part file then holds one tight
    * key slice, so parquet row-group min/max stats are disjoint and the
    * read side's row-group pushdown skips almost everything — the
    * CLUSTER BY half of c10's z-order story, owned by the sink instead
    * of the query author. Empty = no requirement (rows land as
    * distributed). */
  private def sortOrders: Array[V2SortOrder] =
    clusterBy.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  override def requiredDistribution(): Distribution =
    if (clusterBy.isEmpty) Distributions.unspecified()
    else Distributions.ordered(sortOrders)
  override def requiredOrdering(): Array[V2SortOrder] = sortOrders
  /** `.option("writePartitions", n)` pins the clustered shuffle's
    * partition count (= part files per epoch); 0 lets AQE size it.
    * Only meaningful WITH clusterBy — Spark rejects a partition count
    * on an unspecified distribution (an unclustered write's layout is
    * the query plan's own). */
  override def requiredNumPartitions(): Int =
    if (clusterBy.isEmpty) 0 else writePartitions

  // BatchWrite and StreamingWrite both default this; diamond rule wants
  // an explicit pick (same value either way)
  override def useCommitCoordinator(): Boolean = true

  /** Batch epoch identity. With `.option("seq", N)` the caller owns the
    * sequence and replays converge on `epoch_N` (the drain contract).
    * WITHOUT it — the SQL `INSERT INTO wh.t` path, which has nowhere to
    * carry an option — the write AUTO-SEQUENCES: `load_seq` floor + 1
    * ([[AtomicWarehouse.maxLoadSeq]]), committed under the
    * collision-free `insert_v<base>_<writeId>` entry namespace so it
    * can never swallow (or be swallowed by) an external drain counter's
    * `epoch_<seq>` commit. A re-run INSERT is a SECOND append — standard
    * SQL INSERT semantics; idempotent replays are what `seq` is for. */
  private lazy val seqAndName: (Long, Option[String]) = seqOpt match {
    case Some(s) => (s, None)
    case None =>
      val spark = SparkSession.active
      val baseV = AtomicWarehouse.currentVersion(spark, dir)
      val s = AtomicWarehouse.maxLoadSeq(spark, dir).getOrElse(0L) + 1
      (s, Some(s"insert_v${baseV}_${writeId.toString.take(8)}"))
  }
  private def seq: Long = seqAndName._1

  // one write instance = one job; the UUID keeps concurrent same-seq
  // writers' stages apart (the loser adopts at commit)
  private val writeId = UUID.randomUUID
  private def stageFor(s: Long) = s"$dir/.stage_epoch_${s}_$writeId"

  private def fsOf(spark: SparkSession) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def commitStage(stage: String, s: Long,
      messages: Array[WriterCommitMessage],
      entryName: Option[String] = None): Unit = {
    val spark = SparkSession.active
    val f = fsOf(spark)
    val committed = messages.collect {
      case WhPartFile(Some(name)) => name
    }.toSet
    // drop failed/duplicate task attempts' parts: only files a task
    // COMMIT named are epoch data
    f.listStatus(new Path(stage)).foreach { st =>
      val n = st.getPath.getName
      if (!committed.contains(n) && n != "_SUCCESS")
        f.delete(st.getPath, false)
    }
    // an all-empty batch write still commits its epoch (the caller asked
    // for seq N to exist — replay idempotence depends on it), but a
    // parquet-less dir would break every union read: write one
    // schema-only empty part so the epoch reads as 0 rows
    if (committed.isEmpty) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      new InternalRowParquetWriterBuilder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new Path(s"$stage/part-00000-empty.parquet"), conf), schema)
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build().close()
    }
    // `.option("zorderBy", "a,b[,c[,d]]")`: the V2 write API can declare
    // a SORT (clusterBy rides RequiresDistributionAndOrdering) but not a
    // Morton-curve shuffle — the curve value is a derived expression the
    // API cannot resolve. So z-order is a COMMIT-TIME layout pass on the
    // staged delta: one read + range-partitioned rewrite of the epoch's
    // own rows (O(delta), exactly what OPTIMIZE ZORDER costs after any
    // ingest), swapped in before the atomic publish. Crash anywhere
    // leaves only unreferenced stage dirs, same as today.
    val finalStage =
      if (zorderBy.isEmpty || committed.isEmpty) stage
      else {
        val staged = spark.read.schema(schema).parquet(stage)
        val z = s"${stage}_z"
        AtomicWarehouse.zorderFrame(spark, staged, zorderBy)
          .write.mode("overwrite").parquet(z)
        f.delete(new Path(stage), true)
        z
      }
    // auto-named entries record load_seq stats so the NEXT
    // self-sequencing writer derives its floor from the manifest alone
    val allStatsCols = if (entryName.isDefined &&
        schema.fieldNames.contains("load_seq"))
      (statsCols :+ "load_seq").distinct else statsCols
    AtomicWarehouse.commitStagedEpoch(spark, dir, new Path(finalStage), s,
      statsKey, allStatsCols, bloomKey, entryName)
  }

  // the session's Hadoop configuration, shipped to executor-side
  // writers — a fresh Configuration() there would drop session-configured
  // fs.* settings (ABFS credentials etc.) on any non-default filesystem
  private def serializableConf =
    new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    fsOf(SparkSession.active).mkdirs(new Path(stageFor(seq)))
    new WarehouseWriterFactory(stageFor(seq), schema, serializableConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStage(stageFor(seq), seq, messages, seqAndName._2)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fsOf(SparkSession.active).delete(new Path(stageFor(seq)), true)

  /** The STREAMING write half: `writeStream.format("graft-warehouse")`
    * commits ONE EPOCH PER MICRO-BATCH at `seq = seqBase + epochId` —
    * the engine's replayable epochId IS the epoch identity, so a batch
    * re-run after a checkpoint restart converges on the already-
    * committed epoch (commitStagedEpoch's same-seq adoption) instead of
    * double-loading: exactly-once warehouse appends with no marker
    * columns, the c19 contract as a connector. Tasks stage per-epoch
    * (the factory embeds epochId in the stage path), the driver's
    * per-epoch commit publishes atomically. Append-only output mode. */
  override def toStreaming: StreamingWrite = this

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new WarehouseStreamingWriterFactory(dir, seqBase, writeId.toString,
      schema, serializableConf)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val s = seqBase + epochId
    val stage = stageFor(s)
    val f = fsOf(SparkSession.active)
    // an EMPTY batch commits no epoch at all (an epoch dir with no
    // parquet would break every union read) — the seq is simply skipped,
    // and a replay of the empty batch skips it again
    val hasData = messages.exists {
      case WhPartFile(Some(_)) => true
      case _ => false
    }
    if (!hasData) { f.delete(new Path(stage), true); return }
    commitStage(stage, s, messages)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    fsOf(SparkSession.active)
      .delete(new Path(stageFor(seqBase + epochId)), true)
}

class WarehouseStreamingWriterFactory(dir: String, seqBase: Long,
    writeId: String, schema: StructType,
    hadoopConf: org.apache.spark.util.SerializableConfiguration) extends
    org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val stage = s"$dir/.stage_epoch_${seqBase + epochId}_$writeId"
    val f = new Path(stage).getFileSystem(hadoopConf.value)
    f.mkdirs(new Path(stage))
    new WarehouseDataWriter(stage, schema, partitionId, taskId, hadoopConf)
  }
}

final case class WhPartFile(name: Option[String]) extends WriterCommitMessage

class WarehouseWriterFactory(stage: String, schema: StructType,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new WarehouseDataWriter(stage, schema, partitionId, taskId, hadoopConf)
}

/** One parquet part per task, created LAZILY (an empty partition commits
  * no file) and named uniquely per attempt — a retried task's orphan is
  * dropped at job commit because only the committed attempt's name
  * reaches the driver. */
class WarehouseDataWriter(stage: String, schema: StructType,
    partitionId: Int, taskId: Long,
    hadoopConf: org.apache.spark.util.SerializableConfiguration = null)
    extends DataWriter[InternalRow] {
  private def newConf(): Configuration =
    if (hadoopConf == null) new Configuration()
    else new Configuration(hadoopConf.value)
  private val fileName =
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID}.parquet"
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _

  private def open(): Unit = {
    val conf = newConf()
    writer = new InternalRowParquetWriterBuilder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(s"$stage/$fileName"), conf), schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) open()
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    WhPartFile(if (writer == null) None else Some(fileName))
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val conf = newConf()
    val p = new Path(s"$stage/$fileName")
    val f = p.getFileSystem(conf)
    if (f.exists(p)) f.delete(p, false)
  }

  override def close(): Unit = ()
}
