package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The graft-warehouse DSv2 connector: ordinary Catalyst predicates must
  * drive the manifest's epoch pruning (zone maps + blooms + hive
  * partitions), column pruning must reach the parquet decode, additive
  * schema evolution must serve nulls, and the micro-batch stream must
  * tail the manifest exactly-once, skipping compaction folds. */
class WarehouseSourceSpec extends SparkSuite {
  import spark.implicits._

  /** Planned FILE paths regardless of bin-packing shape. */
  private def plannedPaths(parts: Array[
      org.apache.spark.sql.connector.read.InputPartition]): Seq[String] =
    parts.toSeq.flatMap {
      case f: WarehouseFilePartition => Seq(f.path)
      case m: WarehouseFilesPartition => m.files.toSeq.map(_.path)
      case _ => Nil
    }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"wh_src_$tag").toString + "/wh"

  private def typedRows(lo: Int, hi: Int, seq: Long): DataFrame =
    (lo to hi).map { i =>
      (i.toLong, s"name $i", i * 1.5, i % 2 == 0,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-05-${(i % 28) + 1}%02dT10:30:00Z")),
        java.sql.Date.valueOf(f"2024-05-${(i % 28) + 1}%02d"), seq)
    }.toDF("k", "name", "score", "flag", "ts", "d", "load_seq")

  private def connRead(dir: String, extra: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-warehouse").option("path", dir)
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  private def scanOf(df: DataFrame): WarehouseScan = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[WarehouseScan] =
      p.collect {
        case b: BatchScanExec => Seq(b.scan.asInstanceOf[WarehouseScan])
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
      }.flatten
    val scans = find(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.head
  }

  test("log view round-trips typed epochs, all supported types") {
    val dir = freshDir("rt")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 50, 1L), 1L)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(40, 80, 2L), 2L)
    val back = connRead(dir)
    val expected = typedRows(1, 50, 1L).unionByName(typedRows(40, 80, 2L))
    assert(back.count() == 91)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      expected.schema.map(f => f.name -> f.dataType))
    assert(back.except(expected).isEmpty && expected.except(back).isEmpty)
  }

  test("timestamps decode under both INT96 and INT64-micros encodings") {
    for (enc <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val dir = freshDir(s"ts_$enc")
      val old = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", enc)
      try AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", old)
      val got = connRead(dir).select("k", "ts").as[(Long, java.sql.Timestamp)]
        .collect().toMap
      assert(got(3L) == java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-04T10:30:00Z")), s"enc=$enc")
    }
  }

  test("zone-map epoch pruning fires from a plain .where") {
    val dir = freshDir("prune")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 100, 1L), 1L,
      statsKey = Some("k"), statsCols = Seq("d"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1000, 1100, 2L), 2L,
      statsKey = Some("k"), statsCols = Seq("d"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(5000, 5100, 3L), 3L,
      statsKey = Some("k"), statsCols = Seq("d"))

    val q = connRead(dir).where(col("k").between(1000, 1100))
    assert(q.count() == 101)
    assert(scanOf(q).plannedEpochs() == Seq("epoch_2"))

    // range across two epochs
    val q2 = connRead(dir).where(col("k") >= 90 && col("k") <= 1005)
    assert(q2.count() == 11 + 6)
    assert(scanOf(q2).plannedEpochs() == Seq("epoch_1", "epoch_2"))

    // IN list: only matching epochs
    val q3 = connRead(dir).where(col("k").isin(5, 5050))
    assert(q3.count() == 2)
    assert(scanOf(q3).plannedEpochs() == Seq("epoch_1", "epoch_3"))

    // pushdown is visible in the plan text
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
  }

  test("string/date zone maps prune too, and filters stay residual") {
    val dir = freshDir("dprune")
    def shifted(lo: Int, hi: Int, seq: Long, month: String) =
      typedRows(lo, hi, seq)
        .withColumn("d", to_date(concat(lit(s"2024-$month-"),
          lpad((col("k") % 28 + 1).cast("string"), 2, "0"))))
    AtomicWarehouse.commitEpoch(spark, dir, shifted(1, 50, 1L, "05"), 1L,
      statsKey = Some("k"), statsCols = Seq("d"))
    AtomicWarehouse.commitEpoch(spark, dir, shifted(51, 90, 2L, "07"), 2L,
      statsKey = Some("k"), statsCols = Seq("d"))
    val q = connRead(dir).where(col("d").between("2024-07-01", "2024-07-31"))
    assert(scanOf(q).plannedEpochs() == Seq("epoch_2"))
    assert(q.count() == 40)
    // residual check: a predicate inside a surviving epoch still filters
    val q2 = connRead(dir).where(col("d") === "2024-05-03")
    assert(scanOf(q2).plannedEpochs() == Seq("epoch_1"))
    assert(q2.select("k").as[Long].collect().toSet == Set(2L, 30L, 58L)
      .filter(_ <= 50L))
  }

  test("bloom filters exclude epochs the zone map cannot") {
    val dir = freshDir("bloom")
    // interleaved keys: both epochs span [1..1000], zone maps are useless
    val e1 = spark.range(1, 1001, 2).select(col("id").as("k"),
      lit("odd").as("tag"), lit(1L).as("load_seq"))
    val e2 = spark.range(2, 1001, 2).select(col("id").as("k"),
      lit("even").as("tag"), lit(2L).as("load_seq"))
    AtomicWarehouse.commitEpoch(spark, dir, e1, 1L, statsKey = Some("k"),
      bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir, e2, 2L, statsKey = Some("k"),
      bloomKey = Some("k"))
    val q = connRead(dir).where(col("k") === 501)
    assert(q.count() == 1)
    // epoch_2 (evens) excluded by its bloom with ~1% fp chance; this
    // fixed key is deterministic across runs (bloom hashing is seeded)
    assert(scanOf(q).plannedEpochs() == Seq("epoch_1"))
  }

  test("column pruning reaches the parquet decode") {
    val dir = freshDir("cols")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 20, 1L), 1L)
    val q = connRead(dir).select("k", "name")
    assert(scanOf(q).readSchema().fieldNames.toSeq == Seq("k", "name"))
    assert(q.count() == 20)
  }

  test("additive schema evolution serves nulls for pre-evolution epochs") {
    val dir = freshDir("evolve")
    AtomicWarehouse.commitEpoch(spark, dir,
      typedRows(1, 10, 1L).drop("score"), 1L)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 20, 2L), 2L)
    val back = connRead(dir)
    assert(back.schema.fieldNames.contains("score"))
    assert(back.where(col("score").isNull).count() == 10)
    assert(back.where(col("k") <= 10 && col("score").isNull).count() == 10)
  }

  test("hive-partitioned epochs: partition column round-trips and prunes files") {
    val dir = freshDir("hive")
    val df = typedRows(1, 60, 1L)
      .withColumn("bucket", (col("k") % 3).cast("int"))
    AtomicWarehouse.commitEpoch(spark, dir, df, 1L, partitionBy = Seq("bucket"))
    val all = connRead(dir)
    assert(all.count() == 60)
    assert(all.groupBy("bucket").count().count() == 3)
    val q = connRead(dir).where(col("bucket") === 1)
    assert(q.count() == 20)
    // file-level pruning: only bucket=1 subdir files planned
    val paths = plannedPaths(scanOf(q).planInputPartitions())
    assert(paths.nonEmpty && paths.forall(_.contains("bucket=1")))
  }

  test("tiny files bin-pack into O(parallelism) input partitions") {
    // one task per FILE made a 12.8k-tiny-file scan pay ~2 ms scheduler
    // overhead each (the probe's 28 s floor); packing follows Spark's
    // own maxSplitBytes formula, so task count tracks bytes/parallelism
    val dir = freshDir("pack")
    for (s <- 1L to 20L)
      AtomicWarehouse.commitEpoch(spark, dir,
        typedRows(s.toInt * 10, s.toInt * 10 + 9, s).repartition(4), s)
    val q = connRead(dir)
    val parts = scanOf(q).planInputPartitions()
    assert(plannedPaths(parts).size == 80, "every file still planned")
    // the formula yields ~min(files, parallelism) bins for tiny files —
    // a fixed threshold would fail on high-core machines where
    // total/parallelism drops below openCost (one file per bin is then
    // exactly Spark's native answer)
    val par = spark.sparkContext.defaultParallelism
    assert(parts.length <= math.min(80, par + 1) && parts.length > 1,
      s"80 tiny files should pack to ~min(files, parallelism=$par) " +
        s"bins, got ${parts.length}")
    assert(q.count() == 200)
    // packed reads keep per-file semantics: partition values, _pos,
    // tombstone drops all ride the per-file sub-readers
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(105L))
    assert(connRead(dir).count() == 199)
  }

  test("batch change feed: startingVersion serves appended entries only") {
    val dir = freshDir("cdf")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(5, 15, 2L), 2L) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(20, 25, 3L), 3L) // v3
    // INCLUSIVE bounds, Delta CDF's convention: [2, end]
    val cdf = connRead(dir, "startingVersion" -> "2")
    assert(cdf.count() == 11 + 6, "versions 2..3's appends only")
    assert(cdf.agg(min("k")).head.getLong(0) == 5L)
    // endingVersion bounds the range (and fixes the served schema)
    val mid = connRead(dir, "startingVersion" -> "2", "endingVersion" -> "2")
    assert(mid.count() == 11)
    // startingVersion = 0 is the initial snapshot
    assert(connRead(dir, "startingVersion" -> "0").count() == 27)
    // one-past-the-end is a legitimate empty poll, not corruption
    assert(connRead(dir, "startingVersion" -> "4").count() == 0)
    // _pos rides along with END-manifest positions (same tiebreaker as
    // snapshot and tail reads)
    assert(cdf.where(col("k") === 20L).select(col("_pos"))
      .head.getInt(0) == 2)
    // time travel and change feed are mutually exclusive
    intercept[IllegalArgumentException] {
      connRead(dir, "version" -> "2", "startingVersion" -> "2").count()
    }
  }

  test("change feed refuses purge ranges unless ignoreDeletes") {
    val dir = freshDir("cdf2")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 20, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(3L)) // v3
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(21, 25, 3L), 3L,
      statsKey = Some("k"), bloomKey = Some("k")) // v4
    val err = intercept[UnsupportedOperationException] {
      connRead(dir, "startingVersion" -> "3").count()
    }
    assert(err.getMessage.contains("PURGE"))
    // ignoreDeletes skips the tombstone; appended rows only, no drops
    val skipped = connRead(dir, "startingVersion" -> "3",
      "ignoreDeletes" -> "true")
    assert(skipped.count() == 5)
    assert(skipped.agg(min("k")).head.getLong(0) == 21L)
    // the 0-snapshot still applies the tombstone drop
    assert(connRead(dir, "startingVersion" -> "0").count() == 24)
  }

  test("change feed serves epochs folded out of the end manifest") {
    // an auto-compact landing INSIDE the consumer's range replaces the
    // appended epochs in the end manifest; their dirs outlive the fold
    // until vacuum, and the feed must serve them (silently returning an
    // empty feed would lose the appended rows forever)
    val root = java.nio.file.Files.createTempDirectory("wh_src_cdffold")
      .toString
    val dir = s"$root/wh"
    AtomicWarehouse.declareWriteDefaults(spark, dir,
      Map("compactEvery" -> "3", "mergeKey" -> "k"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(6, 9, 2L), 2L) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(10, 12, 3L), 3L)
    // the 3rd commit auto-folded: end manifest holds ONE compact entry
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.size == 1 && names.head.startsWith("compact_v"))
    val cdf = connRead(dir, "startingVersion" -> "2")
    assert(cdf.count() == 4 + 3, "epochs 2+3 must ride the feed")
    assert(cdf.agg(min("k")).head.getLong(0) == 6L)
    // folded-out entries get stable NEGATIVE _pos in commit order
    // (below every end-manifest position), so the (load_seq DESC,
    // _pos DESC) tiebreaker still ranks epoch_3's rows over epoch_2's
    val pos = cdf.select(col("k"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pos(6L) == -2 && pos(10L) == -1,
      s"commit-ordered negative positions expected, got $pos")
    // startingVersion = 1 (the whole history, inclusive) walks STEPPED:
    // it serves the three ORIGINAL epochs (all folded out → negative
    // _pos), never the end manifest's compact entry (_pos 0)
    val full = connRead(dir, "startingVersion" -> "1")
    assert(full.count() == 12)
    assert(full.agg(min(col("_pos"))).head.getInt(0) == -3 &&
      full.agg(max(col("_pos"))).head.getInt(0) == -1,
      "history-from-birth must serve original commits, not the fold")
    // a corrupt checkpoint beyond history fails loudly, never empty
    intercept[IllegalArgumentException] {
      connRead(dir, "startingVersion" -> "500").count()
    }
  }

  test("change feed planned before a fold+vacuum fails loudly, never empty") {
    // the full race: feed PLANNED → auto-compact folds its epochs out →
    // vacuum destroys their dirs → feed EXECUTES. The synthesized
    // entries' listing must throw (the rows are unrecoverable), not
    // serve an empty/partial feed a consumer would checkpoint past.
    val root = java.nio.file.Files.createTempDirectory("wh_src_cdfrace")
      .toString
    val dir = s"$root/wh"
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(6, 9, 2L), 2L) // v2
    val feed = connRead(dir, "startingVersion" -> "2")
    // plan is resolved lazily; maintenance lands before the action
    AtomicWarehouse.compact(spark, dir, "k") // v3: epoch_2 folded out
    AtomicWarehouse.vacuum(spark, dir, retainVersions = 1, graceMs = 0L)
    val err = intercept[Exception] { feed.count() }
    assert(err.isInstanceOf[java.io.FileNotFoundException] ||
      err.getMessage.contains("epoch_2"),
      s"vacuumed feed must fail loudly, got: $err")
    // feed planned across the fold but BEFORE vacuum still serves
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(10, 11, 3L), 4L)
    assert(connRead(dir, "startingVersion" -> "4").count() == 2)
  }

  test("readChangeFeed serves inserts AND deletes with _change_type") {
    val dir = freshDir("cdfrow")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 15, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(3L, 12L)) // v3
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(16, 18, 3L), 3L,
      statsKey = Some("k"), bloomKey = Some("k")) // v4
    val feed = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true")
    // schema: data columns + _change_type + _commit_version
    assert(feed.schema.fieldNames.contains("_change_type") &&
      feed.schema.fieldNames.contains("_commit_version"))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 18L, "delete" -> 2L), s"$byType")
    // delete rows: key populated, other data columns null, version = 3
    val dels = feed.where(col("_change_type") === "delete")
      .select("k", "name", "_commit_version").collect()
    assert(dels.map(_.getLong(0)).toSet == Set(3L, 12L))
    assert(dels.forall(r => r.isNullAt(1) && r.getLong(2) == 3L))
    // insert rows carry their committing version
    val vOf = feed.where(col("_change_type") === "insert")
      .select("k", "_commit_version").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vOf(1L) == 1L && vOf(11L) == 2L && vOf(17L) == 4L)
    // bounded range: only v3's tombstone + v4's insert
    val tail = connRead(dir, "startingVersion" -> "3",
      "readChangeFeed" -> "true")
    assert(tail.count() == 2 + 3)
    // ignoreDeletes keeps its meaning: appends only, no delete rows
    val noDel = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true", "ignoreDeletes" -> "true")
    assert(noDel.where(col("_change_type") === "delete").count() == 0 &&
      noDel.count() == 18)
    // readChangeFeed requires an explicit start
    intercept[IllegalArgumentException] {
      connRead(dir, "readChangeFeed" -> "true").count()
    }
    // a REPLAY of the feed reconstructs the live table: last-wins over
    // inserts, then anti-join the deletes committed after
    val applied = feed.where(col("_change_type") === "insert")
      .join(feed.where(col("_change_type") === "delete").select(
        col("k").as("dk")), col("k") === col("dk"), "left_anti")
    assert(applied.count() == 16 &&
      connRead(dir).count() == 16, "feed replay must match the snapshot")
    // column pruning reaches the CDF scan: a 2-column projection reads
    // 2 columns, CDF columns included (they are per-partition constants,
    // not decoded bytes — but the DATA columns must still prune)
    val pruned = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true").select("k", "_change_type")
    assert(scanOf(pruned).readSchema().fieldNames.toSeq ==
      Seq("k", "_change_type"))
    // SQL UPDATE epochs (update_v* entries) ride the feed typed
    // 'update_postimage' (Delta CDF's convention) with their committing
    // version — audit consumers can tell an update from a fresh insert
    AtomicWarehouse.declareWriteDefaults(spark, dir, Map("mergeKey" -> "k"))
    spark.conf.set("spark.sql.catalog.whcdfu",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whcdfu.root",
      new java.io.File(dir).getParent)
    spark.sql(s"UPDATE whcdfu.${new java.io.File(dir).getName} " +
      "SET name = 'upd' WHERE k = 16")
    val v5 = AtomicWarehouse.currentVersion(spark, dir)
    val updFeed = connRead(dir, "startingVersion" -> v5.toString,
      "readChangeFeed" -> "true")
    val updRows = updFeed.select("k", "name", "_change_type").collect()
    assert(updRows.length == 1 && updRows.head.getLong(0) == 16L &&
      updRows.head.getString(1) == "upd" &&
      updRows.head.getString(2) == "update_postimage",
      s"update epochs must ride the feed: ${updRows.toSeq}")
    // plain inserts are UNAFFECTED by the update typing (spec pin) —
    // bounded BEFORE the update epoch (an unbounded feed resolves its
    // end at execution time and would include it)
    val preUpd = connRead(dir, "startingVersion" -> "1",
      "endingVersion" -> (v5 - 1).toString, "readChangeFeed" -> "true")
    assert(preUpd.where(col("_change_type") === "insert").count() ==
      preUpd.where(col("_change_type") =!= "delete").count(),
      "a history without SQL UPDATEs must type every data row 'insert'")
  }

  test("feed schema resolves at the endingTimestamp-bounded version") {
    // inferSchema used to resolve endingVersion but IGNORE
    // endingTimestamp, so a timestamp-bounded feed took its schema from
    // the CURRENT version — leaking columns evolved after the bound
    val dir = freshDir("cdfts")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L) // v1
    Thread.sleep(1100) // manifest mtimes separate at fs granularity
    AtomicWarehouse.commitEpoch(spark, dir,
      typedRows(6, 8, 2L).withColumn("evolved", lit("late")), 2L) // v2
    val times = AtomicWarehouse.manifestTimes(spark, dir)
    def iso(v: Long) = java.time.Instant.ofEpochMilli(times(v) / 1000L)
      .toString
    val bounded = connRead(dir, "readChangeFeed" -> "true",
      "startingTimestamp" -> iso(1L), "endingTimestamp" -> iso(1L))
    assert(!bounded.schema.fieldNames.contains("evolved"),
      s"schema must resolve at the BOUNDED end: ${bounded.schema}")
    assert(bounded.count() == 5)
    val full = connRead(dir, "readChangeFeed" -> "true",
      "startingTimestamp" -> iso(1L), "endingTimestamp" -> iso(2L))
    assert(full.schema.fieldNames.contains("evolved") && full.count() == 8)
    // version/timestampAsOf exclusivity refuses at BOTH entry points
    intercept[Exception] {
      connRead(dir, "version" -> "1",
        "timestampAsOf" -> iso(1L)).count()
    }
  }

  test("readChangeFeed serves copy-on-write purges via the purge log") {
    // a CoW purge ([[AtomicWarehouse.purgeKeys]]) commits a NO-OP
    // tombstone — its purge LOG — in the same manifest CAS as the
    // rewrites; the feed serves the log's keys as delete rows exactly
    // like a deferred purge's, while snapshot reads skip it entirely
    val dir = freshDir("cdfcow")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 15, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v2
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(3L, 12L),
      statsKey = Some("k"), bloomKey = Some("k")) // v3: rewrites + log
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(3, 3, 4L), 4L,
      statsKey = Some("k"), bloomKey = Some("k")) // v4: re-add key 3
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.count(AtomicWarehouse.isNoopTombstone) == 1, s"$names")
    val feed = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true")
    // history: 15 original inserts + 2 delete rows + 1 re-insert
    assert(feed.count() == 18)
    val dels = feed.where(col("_change_type") === "delete")
      .select("k", "name", "_commit_version").collect()
    assert(dels.map(_.getLong(0)).toSet == Set(3L, 12L))
    assert(dels.forall(r => r.isNullAt(1) && r.getLong(2) == 3L))
    // the log's _pos sits BETWEEN the rewritten epochs and the re-add,
    // so a consumer mirror keeps the re-added key — and drops 12
    val applied = graft.ops.Merge.applyChangeFeed(
      feed.select(col("*"), col("_pos")), "k")
    assert(applied.count() == 14 &&
      applied.where(col("k") === 3L).count() == 1 &&
      applied.where(col("k") === 12L).count() == 0)
    // snapshot reads SKIP the log: zero drop lists, COUNT(*) stays a
    // metadata answer (no real tombstone is outstanding)
    val counted = connRead(dir).agg(count(lit(1)).as("n"))
    assert(counted.head.getLong(0) == 14L)
    assert(counted.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      "a purge log must not degrade the metadata COUNT")
    // ignoreDeletes skips the rewrites AND the log — appends only
    val noDel = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true", "ignoreDeletes" -> "true")
    assert(noDel.where(col("_change_type") === "delete").count() == 0 &&
      noDel.count() == 16)
    // the STREAM feed serves the same history (shared classification)
    val out = java.nio.file.Files.createTempDirectory("cdfcow_out")
      .toString
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val byType = spark.read.parquet(s"$out/data")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 16L, "delete" -> 2L), s"$byType")
  }

  test("folded-out feed positions stay commit-interleaved (purge < re-insert)") {
    // purge(v2) -> re-insert(v3) -> compact(v4) inside ONE feed range:
    // the fold removes all three entries from the end manifest, so all
    // get NEGATIVE positions — which must follow the interleaved commit
    // order (tombstone BELOW the later re-insert), or the consumer's
    // `__dpos > _pos` anti-join wrongly suppresses the re-added key
    val dir = freshDir("cdffold")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(2L)) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(2, 2, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v3: re-insert key 2
    AtomicWarehouse.compact(spark, dir, "k", statsKey = Some("k"),
      bloomKey = Some("k")) // v4: folds ALL prior entries out
    val feed = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true").select(col("*"), col("_pos"))
    val k2 = feed.where(col("k") === 2L)
      .select("_change_type", "_commit_version", "_pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val delPos = k2.collectFirst { case ("delete", _, p) => p }.get
    val reinsPos = k2.collectFirst { case ("insert", 3L, p) => p }.get
    assert(delPos < 0 && reinsPos < 0, s"folded entries get negative _pos: $k2")
    assert(delPos < reinsPos,
      s"tombstone (v2) must order BELOW the v3 re-insert: $k2")
    // the consumer merge therefore reproduces the snapshot: key 2 alive
    val applied = graft.ops.Merge.applyChangeFeed(feed, "k")
    assert(applied.where(col("k") === 2L).count() == 1,
      "re-added key must survive the folded-out purge's delete row")
    assert(applied.count() == AtomicWarehouse.read(spark, dir, "k").count())

    // same contract through the STREAM path (its own negPos code)
    val out = java.nio.file.Files.createTempDirectory("cdffold_out").toString
    spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load().select(col("*"), col("_pos"))
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val sfeed = spark.read.parquet(s"$out/data")
    val sk2 = sfeed.where(col("k") === 2L)
      .select("_change_type", "_commit_version", "_pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val sDel = sk2.collectFirst { case ("delete", _, p) => p }.get
    val sReins = sk2.collectFirst { case ("insert", 3L, p) => p }.get
    assert(sDel < sReins,
      s"stream negPos must interleave by commit order too: ${sk2.toSeq}")
  }

  test("batch CDF at startingVersion 0 serves the COMPLETE history") {
    // drops must not apply under readChangeFeed: a purged key's
    // historical insert rows stay in the feed alongside its delete row
    // (otherwise audit/replay consumers see a retraction of a row the
    // feed never served) — and startingVersion 0 and 1 agree, as does
    // the stream path (applyDrops = !cdf)
    val dir = freshDir("cdf0")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(3L)) // v2
    val at0 = connRead(dir, "startingVersion" -> "0",
      "readChangeFeed" -> "true")
    val at1 = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true")
    // key 3's historical insert must be SERVED, not silently dropped
    assert(at0.where(col("k") === 3L &&
      col("_change_type") === "insert").count() == 1,
      "purged key's insert history must ride the feed")
    assert(at0.count() == 11 && at1.count() == 11,
      "startingVersion 0 and 1 serve the identical CDF range")
  }

  test("CDF carries _commit_timestamp; timestamp bounds resolve to versions") {
    val dir = freshDir("cdfts")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 3, 1L), 1L,
      statsKey = Some("k")) // v1
    Thread.sleep(30) // distinct manifest mtimes (ms resolution)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(4, 5, 2L), 2L,
      statsKey = Some("k")) // v2
    Thread.sleep(30)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(1L)) // v3
    val feed = connRead(dir, "startingVersion" -> "1",
      "readChangeFeed" -> "true")
      .select("k", "_change_type", "_commit_version", "_commit_timestamp")
    val rows = feed.collect()
    assert(rows.forall(r => !r.isNullAt(3)), "commit ts must be non-null")
    // timestamps are the manifest mtimes: equal within a version,
    // non-decreasing across versions
    val byV = rows.groupBy(_.getLong(2)).view
      .mapValues(_.map(_.getTimestamp(3).getTime).distinct).toMap
    assert(byV.values.forall(_.size == 1),
      s"one commit instant per version, got $byV")
    assert(byV(1L).head <= byV(2L).head && byV(2L).head <= byV(3L).head)
    // startingTimestamp = v2's commit instant → versions [2, 3] only
    // (earliest commit at-or-after, Delta's resolution)
    val t2 = new java.sql.Timestamp(byV(2L).head).toString
    val fromT2 = connRead(dir, "startingTimestamp" -> t2,
      "readChangeFeed" -> "true")
    assert(fromT2.select("_commit_version").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L), s"from $t2")
    // endingTimestamp before v2 bounds the range at v1
    val t1end = new java.sql.Timestamp(byV(2L).head - 1).toString
    val onlyV1 = connRead(dir, "startingTimestamp" ->
      new java.sql.Timestamp(0L).toString,
      "endingTimestamp" -> t1end, "readChangeFeed" -> "true")
    assert(onlyV1.select("_commit_version").collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // a start past the last commit fails loudly (no silent empty feed)
    intercept[IllegalArgumentException] {
      connRead(dir, "startingTimestamp" ->
        new java.sql.Timestamp(byV(3L).head + 60000).toString).count()
    }
    // version and timestamp bounds are mutually exclusive
    intercept[IllegalArgumentException] {
      connRead(dir, "startingVersion" -> "1",
        "startingTimestamp" -> t2).count()
    }
    // the TVF accepts timestamp-string bounds too
    assert(spark.sql(s"SELECT _commit_version FROM graft_table_changes(" +
        s"'$dir', '$t2')").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("timestampAsOf time-travels the DataFrame reader") {
    val dir = freshDir("tsao")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L) // v1
    Thread.sleep(30)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(6, 9, 2L), 2L) // v2
    val times = graft.sinks.AtomicWarehouse.manifestTimes(spark, dir)
    val t1 = new java.sql.Timestamp(times(1L) / 1000L).toString
    assert(connRead(dir, "timestampAsOf" -> t1).count() == 5,
      "instant of v1 must serve v1's snapshot (newest at-or-before)")
    assert(connRead(dir, "timestampAsOf" ->
      new java.sql.Timestamp(times(2L) / 1000L).toString).count() == 9)
    // before the earliest retained commit: loud, never empty
    intercept[IllegalArgumentException] {
      connRead(dir, "timestampAsOf" ->
        new java.sql.Timestamp(0L).toString).count()
    }
    intercept[IllegalArgumentException] {
      connRead(dir, "version" -> "1", "timestampAsOf" -> t1).count()
    }
  }

  test("readChangeFeed tails as a STREAM from startingVersion") {
    val dir = freshDir("cdfstream")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(2L)) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 13, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k")) // v3
    val out = java.nio.file.Files.createTempDirectory("cdfstream_out")
      .toString
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "2").option("readChangeFeed", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
    val byType = got.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // versions [2, 3]: v2's tombstone (1 delete) + v3's insert (3 rows);
    // v1's snapshot is NOT re-served
    assert(byType == Map("delete" -> 1L, "insert" -> 3L), s"$byType")
    // endingVersion on a stream is refused loudly, not ignored
    val err = intercept[Exception] {
      spark.readStream.format("graft-warehouse").option("path", dir)
        .option("startingVersion", "2").option("endingVersion", "3")
        .load()
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(err.getMessage != null)
  }

  test("plain stream honors startingVersion (no snapshot re-serve)") {
    val dir = freshDir("streamsv")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 12, 2L), 2L) // v2
    val out = java.nio.file.Files.createTempDirectory("streamsv_out")
      .toString
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "2")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/data").count() == 2,
      "a startingVersion stream must not re-serve the snapshot")
    // startingVersion = 1 means "the changes of every version" — a
    // STEPPED walk from the table's birth, not the snapshot: with a
    // purge in history it must refuse (a snapshot would have served
    // drop-applied rows and silently hidden the retraction)
    val dir2 = freshDir("streamsv2")
    AtomicWarehouse.commitEpoch(spark, dir2, typedRows(1, 5, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    AtomicWarehouse.purgeKeysDeferred(spark, dir2, "k", Seq(2L)) // v2
    val out2 = java.nio.file.Files.createTempDirectory("streamsv2_out")
      .toString
    val err = intercept[Exception] {
      spark.readStream.format("graft-warehouse").option("path", dir2)
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$out2/data")
        .option("checkpointLocation", s"$out2/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(err.getMessage.contains("PURGE") ||
      Option(err.getCause).exists(_.getMessage.contains("PURGE")),
      s"explicit-start stream must walk stepped and refuse purges: $err")
  }

  test("startingVersion = latest serves only future changes") {
    // Delta's streaming sugar: tail from NOW (current version + 1) —
    // no snapshot, no history. Batch: a legitimate empty poll,
    // re-resolved at every plan.
    val dir = freshDir("svlatest")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    assert(connRead(dir, "startingVersion" -> "latest").count() == 0)
    val out = java.nio.file.Files.createTempDirectory("svlatest_out")
      .toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", dir)
        .option("startingVersion", "latest")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    drain() // nothing committed after the start: drains zero rows
    assert(!new java.io.File(s"$out/data").exists() ||
      spark.read.parquet(s"$out/data").count() == 0)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 13, 2L), 2L) // v2
    // the RESTART resumes from the checkpoint (offset = the original
    // "now"), so exactly the post-start commit is served — "latest"
    // re-resolution applies only to fresh starts, like Delta
    drain()
    assert(spark.read.parquet(s"$out/data").count() == 3)
    // batch "latest" re-resolves: still an empty poll after v2
    assert(connRead(dir, "startingVersion" -> "latest").count() == 0)
  }

  test("restore rolls back forward; feeds refuse at the boundary") {
    val dir = freshDir("restore")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 15, 2L), 2L) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(16, 30, 3L), 3L) // v3
    assert(AtomicWarehouse.restore(spark, dir, 2L) == 2) // -> v4
    assert(AtomicWarehouse.currentVersion(spark, dir) == 4L)
    assert(connRead(dir).count() == 15)
    // history preserved: time travel still reaches the undone version
    assert(connRead(dir, "version" -> "3").count() == 30)
    // replaying the identical restore converges without a version bump
    AtomicWarehouse.restore(spark, dir, 2L)
    assert(AtomicWarehouse.currentVersion(spark, dir) == 4L)
    // a restore target outside history refuses
    intercept[IllegalArgumentException] {
      AtomicWarehouse.restore(spark, dir, 9L)
    }
    // stepped feed crossing the rollback refuses loudly; ignoreDeletes
    // tails additions only
    val err = intercept[UnsupportedOperationException] {
      connRead(dir, "startingVersion" -> "3").count()
    }
    assert(err.getMessage.contains("ROLLBACK"))
    assert(connRead(dir, "startingVersion" -> "3",
      "ignoreDeletes" -> "true").count() == 15) // epoch_3's rows
    // CDF refuses identically
    val err2 = intercept[UnsupportedOperationException] {
      connRead(dir, "startingVersion" -> "3",
        "readChangeFeed" -> "true").count()
    }
    assert(err2.getMessage.contains("ROLLBACK"))
    // a restore whose target entries' dirs no longer exist refuses
    // loudly rather than committing a manifest that fails at listing
    // (a correct vacuum never strands a RETAINED manifest's dirs, so
    // the state is simulated — what an external cleaner leaves)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(31, 32, 5L), 5L) // v5
    AtomicWarehouse.compact(spark, dir, "k") // v6: folds all entries
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/epoch_5"))
    val gone = intercept[IllegalArgumentException] {
      AtomicWarehouse.restore(spark, dir, 5L)
    }
    assert(gone.getMessage.contains("unrecoverable"))
  }

  test("drain after restore never adopts the undone epoch dir") {
    // RESTORE lowers the maxLoadSeq floor, so the NEXT drain naturally
    // re-uses an undone sequence number. The undone `epoch_<seq>` dir is
    // still on disk (time travel), and publishData's adopt branch ("a
    // complete same-name dir is a concurrent replay's publish") would
    // silently commit the OLD epoch's rows while discarding the fresh
    // ones. The commit must disambiguate instead.
    val dir = freshDir("restoreadopt")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 15, 2L), 2L) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(16, 30, 3L), 3L) // v3
    AtomicWarehouse.restore(spark, dir, 2L) // v4: undoes epoch_3
    assert(AtomicWarehouse.maxLoadSeq(spark, dir).contains(2L))
    // the natural recovery drain: seq 3 again, DIFFERENT rows
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(100, 104, 3L), 3L)
    val back = connRead(dir)
    assert(back.count() == 20, "15 restored rows + 5 corrected rows")
    assert(back.where(col("k") >= 100).count() == 5,
      "the corrected drain's rows must be served")
    assert(back.where(col("k") >= 16 && col("k") <= 30).count() == 0,
      "the undone epoch's rows must NOT resurrect via dir adoption")
    // the commit disambiguated rather than touching the historical dir
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.contains("epoch_3__r1"), s"entries: $names")
    // time travel still serves the undone version's original rows
    assert(connRead(dir, "version" -> "3").count() == 30)
    // replaying the same drain converges on the disambiguated name
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(100, 104, 3L), 3L)
    assert(connRead(dir).count() == 20)
    assert(AtomicWarehouse.committedEpochs(spark, dir) == names)
  }

  test("CDC mirror: delete-only batch leaves a marker; bad key type refuses") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mirror = freshDir("cdcmark") + "/mirror"
    AtomicWarehouse.commitEpoch(spark, mirror, typedRows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    val batchSchema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType),
      StructField("load_seq", LongType), StructField("_change_type",
        StringType), StructField("_pos", LongType)))
    val delOnly = spark.createDataFrame(
      java.util.List.of(Row(5L, null, 2L, "delete", 10L)), batchSchema)
    graft.ops.Merge.replicateChangeFeedBatch(delOnly, 7L, mirror, "k")
    assert(connRead(mirror).count() == 9, "key 5 purged")
    val names = AtomicWarehouse.committedEpochs(spark, mirror)
    assert(names.contains("cdc_b7"),
      s"a delete-only batch must still commit its exactly-once marker " +
        s"(zero-row epoch): $names")
    val nTombs = names.count(AtomicWarehouse.isTombstone)
    assert(nTombs == 1)
    // another commit lands between the apply and a foreachBatch REPLAY —
    // pre-fix, the replay re-purged under a new (baseV, digest) name and
    // tombstones accumulated on every retry
    AtomicWarehouse.commitEpoch(spark, mirror, typedRows(11, 12, 3L), 3L)
    val vBefore = AtomicWarehouse.currentVersion(spark, mirror)
    graft.ops.Merge.replicateChangeFeedBatch(delOnly, 7L, mirror, "k")
    assert(AtomicWarehouse.currentVersion(spark, mirror) == vBefore,
      "a replayed batch with its marker present must be a pure no-op")
    assert(AtomicWarehouse.committedEpochs(spark, mirror)
      .count(AtomicWarehouse.isTombstone) == 1, "no duplicate tombstones")
    // fractional keys have no canonical purge rendering: refuse loudly
    val badKey = spark.createDataFrame(
      java.util.List.of(Row(1.5, "x", 2L, "delete", 10L)),
      StructType(Seq(StructField("k", DoubleType),
        StructField("name", StringType), StructField("load_seq", LongType),
        StructField("_change_type", StringType),
        StructField("_pos", LongType))))
    val err = intercept[UnsupportedOperationException] {
      graft.ops.Merge.replicateChangeFeedBatch(badKey, 8L, mirror, "k")
    }
    assert(err.getMessage.contains("unsupported type"))
  }

  test("restore FORWARD across a compact refuses the feed") {
    // A restore forward to a previously-compacted state re-adds the
    // compact entry — but also removes epochs committed AFTER that
    // compact (rows consumers were served that the fold does NOT
    // contain). "Any new compact explains all removals" sailed across
    // this rollback; only the removals the fold actually folded
    // (the entries at its base manifest) are explained.
    val dir = freshDir("restorefwd")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 15, 2L), 2L) // v2
    AtomicWarehouse.compact(spark, dir, "k") // v3: compact_v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(16, 20, 4L), 4L) // v4
    AtomicWarehouse.restore(spark, dir, 2L) // v5: back before the fold
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(21, 25, 5L), 5L) // v6
    AtomicWarehouse.restore(spark, dir, 4L) // v7: FORWARD to [compact_v2, epoch_4]
    // the feed crossing v7 loses epoch_5's rows (21..25) — must refuse
    val err = intercept[UnsupportedOperationException] {
      connRead(dir, "startingVersion" -> "6").count()
    }
    assert(err.getMessage.contains("ROLLBACK"))
    assert(err.getMessage.contains("epoch_5"),
      s"the unexplained removal must be named: ${err.getMessage}")
    // a LEGIT fold still serves without refusal: the walk across v3
    // (compact_v2 folding epoch_1+epoch_2) explains its removals
    assert(connRead(dir, "startingVersion" -> "1",
      "endingVersion" -> "4").count() == 20) // epochs 1,2,4; fold skipped
  }

  test("restoreAsDeletes serves a rollback as row-level retractions") {
    val dir = freshDir("restoredel")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(5, 8, 2L), 2L) // v2
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(20, 22, 3L), 3L) // v3
    AtomicWarehouse.restore(spark, dir, 1L) // v4: undoes epochs 2 and 3
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(5, 5, 5L), 5L) // v5
    def feed(extra: (String, String)*) = connRead(dir,
      (Seq("startingVersion" -> "1", "readChangeFeed" -> "true") ++
        extra): _*).select(col("*"), col("_pos"))
    // default unchanged: the rollback refuses
    val err = intercept[UnsupportedOperationException] { feed().count() }
    assert(err.getMessage.contains("ROLLBACK"))
    val f = feed("restoreAsDeletes" -> "true")
    // the removed entries' rows serve as delete rows at the restore's
    // commit version — full rows, no driver key collection
    val dels = f.where(col("_change_type") === "delete")
    assert(dels.count() == 7, "epoch_2's 4 rows + epoch_3's 3 rows")
    assert(dels.select("_commit_version").distinct().head.getLong(0) == 4L)
    // threshold suppression converges: k 5..8 fall BACK to their v1
    // versions (survivors sort above the delete), k 20..22 retract,
    // the post-restore re-add of k=5 wins
    val applied = graft.ops.Merge.applyChangeFeed(f, "k")
    val engine = AtomicWarehouse.read(spark, dir, "k")
    assert(applied.count() == 10)
    assert(applied.select("k", "name", "load_seq")
      .exceptAll(engine.select("k", "name", "load_seq")).isEmpty,
      "applied feed must reproduce the engine's restored snapshot")
    assert(applied.where(col("k") === 6L).head.getAs[Long]("load_seq") == 1L,
      "undone keys fall back to the surviving version")
    assert(applied.where(col("k") === 5L).head.getAs[Long]("load_seq") == 5L,
      "a post-restore re-add wins the merge")
    // the STREAMING CDF tail serves the same retractions
    val sink = graft.queries.memorySinkName(spark, "rdel")
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .option("restoreAsDeletes", "true").load()
      .writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table(sink).where(col("_change_type") === "delete")
      .count() == 7)
    // a range that also contains a COMPACTION refuses (folded-out
    // survivors would sort below the delete position)
    AtomicWarehouse.compact(spark, dir, "k") // v6
    val err2 = intercept[UnsupportedOperationException] {
      feed("restoreAsDeletes" -> "true").count()
    }
    assert(err2.getMessage.contains("COMPACTION"))
    // a restore FORWARD that both REMOVES entries and RE-ADDS undone
    // ones refuses under the option (re-added rows indistinguishable
    // from the served copies); a pure re-add with no removals serves
    // as plain additions and needs no refusal
    val dir2 = freshDir("restoredelfwd")
    AtomicWarehouse.commitEpoch(spark, dir2, typedRows(1, 5, 1L), 1L) // v1
    AtomicWarehouse.commitEpoch(spark, dir2, typedRows(6, 9, 2L), 2L) // v2
    AtomicWarehouse.restore(spark, dir2, 1L) // v3: undoes epoch_2
    AtomicWarehouse.commitEpoch(spark, dir2, typedRows(30, 31, 4L), 4L) // v4
    AtomicWarehouse.restore(spark, dir2, 2L) // v5: fwd — re-adds epoch_2,
    // removes epoch_4
    val err3 = intercept[UnsupportedOperationException] {
      connRead(dir2, "startingVersion" -> "4", "readChangeFeed" -> "true",
        "restoreAsDeletes" -> "true").count()
    }
    assert(err3.getMessage.contains("FORWARD"), err3.getMessage)
  }

  test("manifest tail serves SQL INSERT/MERGE entries, skips folds") {
    // named entries (insert_*/merge_* — the SQL writers' collision-free
    // namespace) are NEW data and must ride the tail; round 10's
    // epoch_-prefix filter silently dropped them
    val dir = freshDir("tailins")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 5, 1L), 1L) // v1
    AtomicWarehouse.commitNamedEpoch(spark, dir, typedRows(6, 8, 2L),
      "insert_v1_test0001", 2L) // v2
    AtomicWarehouse.compact(spark, dir, "k") // v3: fold
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(9, 9, 4L), 4L) // v4
    val stream = new WarehouseMicroBatchStream(dir,
      typedRows(1, 1, 1L).schema, Array.empty, "", 0)
    val served = plannedPaths(stream.planInputPartitions(
      WarehouseVersionOffset(1L),
      WarehouseVersionOffset(AtomicWarehouse.currentVersion(spark, dir))))
    assert(served.exists(_.contains("/insert_v1_test0001/")),
      s"SQL insert entries must ride the tail; served: $served")
    assert(served.exists(_.contains("/epoch_4/")))
    assert(!served.exists(_.contains("/compact_")),
      "folds re-materialize already-served rows and must be skipped")
  }

  test("time travel via option(version)") {
    val dir = freshDir("tt")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(11, 30, 2L), 2L)
    assert(connRead(dir, "version" -> "1").count() == 10)
    assert(connRead(dir).count() == 30)
  }

  test("runtime filtering re-prunes epochs from a broadcast join") {
    val dir = freshDir("dfp")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 100, 1L), 1L,
      statsKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1000, 1100, 2L), 2L,
      statsKey = Some("k"))
    val dim = Seq((1050L, "x"), (1060L, "y")).toDF("dk", "payload")
    val fact = connRead(dir)
    val joined = fact.join(broadcast(dim), fact("k") === dim("dk"))
    assert(joined.count() == 2)
    // whether Spark injected the runtime filter is plan-dependent; the
    // CONTRACT this test pins is scan.filter() shrinking plannedEpochs
    val scan = scanOf(joined)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(1050L, 1060L))))
    assert(scan.plannedEpochs() == Seq("epoch_2"))
  }

  test("micro-batch stream tails the manifest and skips compaction folds") {
    val dir = freshDir("tail")
    val base = java.nio.file.Files.createTempDirectory("wh_tail").toString
    val (ckpt, out) = (s"$base/ck", s"$base/out")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 10, 1L), 1L)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(5, 20, 2L), 2L)

    // memory sinks cannot recover a checkpoint; the restartable file sink
    // is the shape a real tail runs anyway
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", dir)
        .load().select("k", "name", "load_seq")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    drainOnce()
    // initial snapshot: all committed rows (log view: 10 + 16)
    assert(spark.read.parquet(out).count() == 26)

    // fold + new drain while the stream is stopped
    AtomicWarehouse.compact(spark, dir, "k")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(100, 110, 4L), 4L)

    drainOnce()
    // resumed from checkpoint: ONLY epoch_4 appended — the fold was
    // skipped (a re-served fold would have added its 20 merged rows)
    val after = spark.read.parquet(out)
    assert(after.count() == 37)
    assert(after.where(col("load_seq") === 4L).count() == 11)

    // a FRESH stream's initial snapshot serves the fold + epoch_4
    val (ckpt2, out2) = (s"$base/ck2", s"$base/out2")
    val q2 = spark.readStream.format("graft-warehouse").option("path", dir)
      .load().select("k", "load_seq")
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    // fold holds the 20 merged live keys; epoch_4 adds 11
    assert(spark.read.parquet(out2).count() == 31)
  }

  test("merge-key filters ABOVE the last-wins window still prune epochs") {
    // Catalyst pushes predicates through a Window when they reference
    // only its partitionBy columns — so the idiomatic merged-view read
    // (window on the merge key, filter on top) delivers its key
    // predicate to the connector with no user cooperation
    val dir = freshDir("thruwin")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 100, 1L), 1L,
      statsKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1000, 1100, 2L), 2L,
      statsKey = Some("k"))
    val log = connRead(dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("load_seq").desc)
    val merged = log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .where(col("k") >= 1000) // ABOVE the window
    assert(merged.count() == 101)
    assert(scanOf(merged).plannedEpochs() == Seq("epoch_2"))
  }

  test("post-pruning statistics let a sliced read auto-broadcast") {
    val dir = freshDir("stats")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 50, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1000, 1050, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))
    val sliced = connRead(dir).where(col("k") <= 50)
    val stats = scanOf(sliced).estimateStatistics()
    // size reflects ONLY the surviving epoch's files; rows come from the
    // bloom entries' recorded key counts
    assert(stats.sizeInBytes().getAsLong > 0)
    assert(stats.numRows().getAsLong == 50)
    val fullBytes = scanOf(connRead(dir)).estimateStatistics()
      .sizeInBytes().getAsLong
    assert(stats.sizeInBytes().getAsLong < fullBytes)
    // and join planning uses it: the pruned side broadcasts with no hint
    val fact = spark.range(0, 10000).select(col("id").as("fk"))
    val joined = fact.join(sliced, col("fk") === col("k"))
    assert(joined.count() == 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("a filtered tail prunes epochs in the initial snapshot") {
    val dir = freshDir("tailprune")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 100, 1L), 1L,
      statsKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1000, 1100, 2L), 2L,
      statsKey = Some("k"))
    val cur = AtomicWarehouse.currentVersion(spark, dir)
    val stream = new WarehouseMicroBatchStream(dir,
      typedRows(1, 1, 1L).schema,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("k", 1000L)),
      "", 0)
    val paths = plannedPaths(stream.planInputPartitions(
      WarehouseVersionOffset(0L), WarehouseVersionOffset(cur)))
    assert(paths.nonEmpty && paths.forall(_.contains("epoch_2")))
    // end-to-end: the filtered tail's sink holds only matching rows
    val base = java.nio.file.Files.createTempDirectory("tailprune").toString
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .load().where(col("k") >= 1000).select("k")
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$base/out").count() == 101)
  }

  test("COUNT/MIN/MAX push down to the manifest: zero data partitions") {
    val dir = freshDir("aggpd")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 40, 1L), 1L,
      statsKey = Some("k"), statsCols = Seq("name", "d"))
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(100, 130, 2L), 2L,
      statsKey = Some("k"), statsCols = Seq("name", "d"))
    val df = connRead(dir)
      .agg(count(lit(1)).as("n"), min("k").as("mnk"), max("k").as("mxk"),
        min("name").as("mnn"), max("d").as("mxd"))
    val row = df.head
    assert(row.getLong(0) == 71 && row.getLong(1) == 1L &&
      row.getLong(2) == 130L)
    assert(row.getString(3) == "name 1") // lexicographic min
    assert(row.getDate(4) == java.sql.Date.valueOf("2024-05-28"))
    // COMPLETE pushdown: the plan's scan serves the aggregate row and
    // opens NO data file
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
    assert(!plan.contains("HashAggregate") || // Spark may keep a trivial
      scanOf(df).planInputPartitions().forall(
        _.isInstanceOf[WarehouseAggPartition]))
    assert(scanOf(df).planInputPartitions().length == 1)
  }

  test("agg pushdown refuses filters, tombstones and stat-less columns") {
    val dir = freshDir("aggpd_no")
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 20, 1L), 1L,
      statsKey = Some("k"))
    // filtered: must scan (and still be correct)
    val filtered = connRead(dir).where(col("k") > 10)
      .agg(count(lit(1)).as("n"))
    assert(filtered.head.getLong(0) == 10)
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    // stat-less column: score has no zone map → normal scan
    val noStats = connRead(dir).agg(min("score").as("m"))
    assert(noStats.head.getDouble(0) == 1.5)
    assert(!noStats.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    // COUNT survives a tombstone as a manifest subtraction (the
    // tombstone records its newly-suppressed total at commit time)...
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L))
    val afterTomb = connRead(dir).agg(count(lit(1)).as("n"))
    assert(afterTomb.head.getLong(0) == 19)
    assert(afterTomb.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    // ...a SECOND tombstone overlapping the first must not double-count
    // (5 is already suppressed; only 6 is new)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L, 6L))
    val afterTomb2 = connRead(dir).agg(count(lit(1)).as("n"))
    assert(afterTomb2.head.getLong(0) == 18)
    assert(afterTomb2.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    // ...and MIN/MAX survive tombstones too (the c70 trade): entries a
    // later tombstone may touch are re-scanned at planning with drops
    // applied, the rest serve from stats — still a COMPLETE pushdown
    val minAfterTomb = connRead(dir).agg(min("k").as("m"))
    assert(minAfterTomb.head.getLong(0) == 1L)
    assert(minAfterTomb.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    // purge the extremum itself: the recomputed answer must move off
    // the (stale) zone-map value
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(1L, 20L))
    val shifted = connRead(dir).agg(min("k").as("mn"), max("k").as("mx"))
    assert(shifted.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(shifted.head.getLong(0) == 2L && shifted.head.getLong(1) == 19L,
      "suppressed extrema must not be served from stats")
    // a key RE-ADDED after the purge is new data and wins again
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(20, 20, 9L), 9L,
      statsKey = Some("k"))
    val back = connRead(dir).agg(max("k").as("mx"))
    assert(back.head.getLong(0) == 20L,
      "a post-tombstone re-add must survive the drop ordering")
  }

  test("admission control bounds versions per batch") {
    val dir = freshDir("adm")
    for (s <- 1L to 4L)
      AtomicWarehouse.commitEpoch(spark, dir,
        typedRows(s.toInt * 100, s.toInt * 100 + 9, s), s)
    val ckpt = java.nio.file.Files.createTempDirectory("wh_adm_ck").toString
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .option("maxVersionsPerBatch", "1")
      .load().select("k")
      .writeStream.format("memory").queryName("wh_adm")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("wh_adm").count() == 40)
    // 4 versions → 4 micro-batches of one version each, plus possibly a
    // final empty batch; batch 0 is the initial snapshot of v1 only
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)
    spark.catalog.dropTempView("wh_adm")
  }

  test("_pos rides the MICRO_BATCH read with batch semantics") {
    val dir = freshDir("pos_tail")
    val base = java.nio.file.Files.createTempDirectory("wh_pos").toString
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(1, 3, 1L), 1L)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(2, 4, 2L), 2L)

    def drain(): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", dir)
        .load().select(col("k"), col("load_seq"), col("_pos"))
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    // initial snapshot: every row carries its entry's manifest position,
    // exactly as the batch read serves it — a streaming consumer doing
    // its own last-wins window has the same load_seq-tie hazard, so the
    // tiebreaker must be available (and identical) on the tail path
    drain()
    val snap = spark.read.parquet(s"$base/out")
      .select("load_seq", "_pos").distinct()
      .as[(Long, Int)].collect().toMap
    assert(snap == Map(1L -> 0, 2L -> 1), snap)

    // a stepped batch serves the NEW epoch at its end-version position;
    // positions of already-served entries are unchanged (the manifest
    // is append-only on the tail path — folds/purges fail or skip)
    AtomicWarehouse.commitEpoch(spark, dir, typedRows(100, 104, 3L), 3L)
    drain()
    val stepped = spark.read.parquet(s"$base/out")
      .select("load_seq", "_pos").distinct()
      .as[(Long, Int)].collect().toMap
    assert(stepped == Map(1L -> 0, 2L -> 1, 3L -> 2), stepped)

    // the documented SQL window over the STREAMED rows agrees with the
    // engine's batch merge winner for every key
    spark.read.parquet(s"$base/out").createOrReplaceTempView("pos_tail_rows")
    val windowed = spark.sql(
      """SELECT k, load_seq FROM (
        |  SELECT k, load_seq, row_number() OVER (PARTITION BY k
        |    ORDER BY load_seq DESC, _pos DESC) AS rn FROM pos_tail_rows)
        |WHERE rn = 1""".stripMargin).as[(Long, Long)].collect().toMap
    val engine = AtomicWarehouse.read(spark, dir, "k")
      .select(col("k"), col("load_seq")).as[(Long, Long)].collect().toMap
    assert(windowed == engine)
    spark.catalog.dropTempView("pos_tail_rows")
  }
}
