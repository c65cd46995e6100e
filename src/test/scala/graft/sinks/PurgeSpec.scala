package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Row-level purge (right-to-be-forgotten / decontamination): selective
  * pruning-driven epoch rewrite + one-manifest swap, history preserved
  * until vacuum, stream-tail semantics at the purge boundary. */
class PurgeSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"purge_$tag").toString + "/wh"

  private def rows(lo: Int, hi: Int, seq: Long) =
    (lo to hi).map(i => (i.toLong, s"n$i", seq)).toDF("k", "name", "load_seq")

  private def commit(dir: String, lo: Int, hi: Int, seq: Long): Unit =
    AtomicWarehouse.commitEpoch(spark, dir, rows(lo, hi, seq), seq,
      statsKey = Some("k"), bloomKey = Some("k"))

  test("purge removes every version of the keys; merge intact otherwise") {
    val dir = freshDir("basic")
    commit(dir, 1, 100, 1L)
    commit(dir, 50, 120, 2L) // overlap: keys 50-100 have two versions
    val (epochs, purged) =
      AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(60L, 70L, 110L),
        statsKey = Some("k"), bloomKey = Some("k"))
    assert(epochs == 2) // both epochs may hold 60/70
    assert(purged == 5L) // 60,70 twice + 110 once
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 117) // 120 keys - 3 purged
    assert(read.where(col("k").isin(60L, 70L, 110L)).isEmpty)
    // surviving overlapped keys still resolve to load_seq 2
    assert(read.where(col("k") === 80).head.getAs[Long]("load_seq") == 2L)
  }

  test("composite merge key: merged read, deferred purge, re-add, null parts") {
    val dir = freshDir("composite")
    val key = "grp,id"
    def cRows(seq: Long, triples: (String, java.lang.Long, String)*) =
      triples.toSeq.toDF("grp", "id", "name").withColumn("load_seq", lit(seq))
    AtomicWarehouse.commitEpoch(spark, dir,
      cRows(1L, ("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, "b1"),
        ("b", 2L, "b2"), (null, 5L, "null-grp"), ("c", null, "null-id")),
      1L, statsKey = Some(key), bloomKey = Some(key)) // v1
    // last-wins on the COMPOSITE identity: (a,1) gets a newer version;
    // a second null-part row is its OWN group (null keys never merge)
    AtomicWarehouse.commitEpoch(spark, dir,
      cRows(2L, ("a", 1L, "a1-v2"), (null, 5L, "null-grp-2")),
      2L, statsKey = Some(key), bloomKey = Some(key)) // v2
    val read1 = AtomicWarehouse.read(spark, dir, key)
    // merged: 4 non-null identities + the (null,5) group (last-wins
    // groups nulls together, SQL grouping semantics — same as the
    // single-key window) + (c,null)
    assert(read1.count() == 6)
    assert(read1.where(col("grp") === "a" && col("id") === 1L)
      .head.getAs[String]("name") == "a1-v2")
    // deferred purge by composite key: (a,1) and (b,2) retract; (b,1)
    // and all null-part rows survive (null parts are never targets)
    AtomicWarehouse.purgeCompositeKeysDeferred(spark, dir, key,
      Seq(Seq("a", "1"), Seq("b", "2"))) // v3
    val read2 = AtomicWarehouse.read(spark, dir, key)
    assert(read2.count() == 4)
    assert(read2.where(col("grp") === "a" && col("id") === 1L).isEmpty)
    assert(read2.where(col("grp") === "b" && col("id") === 2L).isEmpty)
    assert(read2.where(col("grp").isNull || col("id").isNull).count() == 2)
    // a later re-add of a purged composite key survives the tombstone
    AtomicWarehouse.commitEpoch(spark, dir,
      cRows(4L, ("a", 1L, "a1-reborn")), 4L,
      statsKey = Some(key), bloomKey = Some(key)) // v4
    val read3 = AtomicWarehouse.read(spark, dir, key)
    assert(read3.where(col("grp") === "a" && col("id") === 1L)
      .head.getAs[String]("name") == "a1-reborn")
    // the CONNECTOR's snapshot read applies the composite drops in the
    // executor-side reader (same logical content as the engine)
    // 9 committed row versions − 3 suppressed ((a,1)@v1, (a,1)@v2,
    // (b,2)@v1); the v4 re-add post-dates the tombstone and survives
    val conn = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(conn.count() == 6,
      s"connector log view with composite drops: ${conn.count()}")
    // the row-level change feed serves the composite delete with EVERY
    // key-part column populated, and applyChangeFeed reproduces the
    // engine's snapshot (delete → re-add ordering resolved by _pos)
    val feed = spark.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load().select(col("*"), col("_pos"))
    val delRows = feed.where(col("_change_type") === "delete")
      .select("grp", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(delRows == Set(("a", 1L), ("b", 2L)))
    val applied = graft.ops.Merge.applyChangeFeed(feed, key)
      .select("grp", "id", "name", "load_seq")
    val engine = read3.select("grp", "id", "name", "load_seq")
    assert(applied.exceptAll(engine).isEmpty &&
      engine.exceptAll(applied).isEmpty,
      "applied composite feed must reproduce the engine snapshot")
  }

  test("only epochs that may hold the key are rewritten") {
    val dir = freshDir("selective")
    commit(dir, 1, 100, 1L)
    commit(dir, 1000, 1100, 2L)
    commit(dir, 5000, 5100, 3L)
    val (epochs, purged) = AtomicWarehouse.purgeKeys(spark, dir, "k",
      Seq(1050L), statsKey = Some("k"), bloomKey = Some("k"))
    assert(epochs == 1 && purged == 1L)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    // untouched epochs keep their dirs and manifest identity
    assert(names.contains("epoch_1") && names.contains("epoch_3"))
    assert(names.exists(_.startsWith("epoch_2_p")))
    assert(!names.contains("epoch_2"))
  }

  test("history keeps purged rows until vacuum destroys it") {
    val dir = freshDir("history")
    commit(dir, 1, 50, 1L)
    val vBefore = AtomicWarehouse.currentVersion(spark, dir)
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(10L))
    // time travel to the pre-purge version still shows the row
    assert(AtomicWarehouse.readVersion(spark, dir, "k", vBefore)
      .where(col("k") === 10).count() == 1)
    // compliance finalization: vacuum destroys the referenced-by-history dir
    val (_, dirs) = AtomicWarehouse.vacuum(spark, dir, retainVersions = 1,
      graceMs = 0L)
    assert(dirs == 1) // the original epoch_1
    assert(AtomicWarehouse.read(spark, dir, "k")
      .where(col("k") === 10).isEmpty)
  }

  test("null merge keys survive a purge") {
    val dir = freshDir("nulls")
    val df = rows(1, 10, 1L).union(
      Seq((null.asInstanceOf[java.lang.Long], "orphan", 1L))
        .toDF("k", "name", "load_seq").select(col("k").cast("long"),
          col("name"), col("load_seq")))
    AtomicWarehouse.commitEpoch(spark, dir, df, 1L)
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(5L))
    val left = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(left.count() == 10) // 11 - 1 purged; the null-key row survives
    assert(left.where(col("name") === "orphan").count() == 1)
  }

  test("a drain landing between rewrite and commit is carried over") {
    val dir = freshDir("race_drain")
    commit(dir, 1, 50, 1L)
    val (epochs, purged) =
      CommitSeam.around(commit(dir, 100, 120, 2L))( // racing drain
        AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(10L),
          statsKey = Some("k"), bloomKey = Some("k")))
    assert(epochs == 1 && purged == 1L)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    // the swap applied AND the racing epoch survived the CAS loop
    assert(names.exists(_.startsWith("epoch_1_p")))
    assert(names.contains("epoch_2"))
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 70) // 49 surviving + 21 from the racing drain
    assert(read.where(col("k") === 10).isEmpty)
  }

  test("a fold landing between rewrite and commit forces a clean retry") {
    val dir = freshDir("race_fold")
    commit(dir, 1, 50, 1L)
    commit(dir, 40, 80, 2L)
    var folded = false
    val (epochs, purged) = CommitSeam.around(if (!folded) {
      folded = true
      AtomicWarehouse.compact(spark, dir, "k") // structural race
    })(AtomicWarehouse.purgeKeysStr(spark, dir, "k", Seq("45"),
      statsKey = Some("k"), bloomKey = Some("k")))
    // the retry re-planned against the fold: ONE affected entry (the
    // compact dir), both versions of key 45 gone
    assert(epochs == 1 && purged == 1L)
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 79) // 80 distinct keys - 1 purged
    assert(read.where(col("k") === 45).isEmpty)
  }

  /** Keys 60, 95, 120 and 180 over epochs 1-100, 50-150, 90-200 and
    * 300-400: the first three epochs hold 8 versions, the fourth none. */
  private def fourEpochs(dir: String): Unit = {
    commit(dir, 1, 100, 1L)
    commit(dir, 50, 150, 2L)
    commit(dir, 90, 200, 3L)
    commit(dir, 300, 400, 4L)
  }
  private val spread = Seq(60L, 95L, 120L, 180L)

  test("concurrent rewrites commit the same entries, order and stats on " +
      "identical warehouses") {
    def purged(tag: String): Seq[(String, Map[String, AtomicWarehouse.ColStats])] = {
      val dir = freshDir(tag)
      fourEpochs(dir)
      val (epochs, rows) = AtomicWarehouse.purgeKeys(spark, dir, "k", spread,
        statsKey = Some("k"), bloomKey = Some("k"))
      assert(epochs == 3 && rows == 8L)
      assert(AtomicWarehouse.read(spark, dir, "k").where(col("k")
        .isin(spread: _*)).isEmpty)
      // the data file list names each write's files: not comparable
      AtomicWarehouse.committedEntriesAt(spark, dir,
        AtomicWarehouse.currentVersion(spark, dir))
        .map(e => e.name -> (e.stats - AtomicWarehouse.FilesStat))
    }
    val a = purged("conc_a")
    val b = purged("conc_b")
    assert(a == b)
    // rewrites in their victims' places, the purge log right after the
    // last of them, the untouched epoch after it
    val names = a.map(_._1)
    assert(names.size == 5 && names.take(3).zipWithIndex.forall {
      case (n, i) => n.startsWith(s"epoch_${i + 1}_p4_")
    } && names(3).startsWith("tombstone_noop_v4_") && names(4) == "epoch_4",
      names)
  }

  test("a refused rewrite publish fails the purge: manifest untouched, " +
      "no pool thread left") {
    val local = freshDir("refused")
    fourEpochs(local)
    val v = AtomicWarehouse.currentVersion(spark, local)
    val e = intercept[java.io.IOException] {
      RefusingFileSystem.refusing(spark, (call, p) => call == "rename" &&
          new org.apache.hadoop.fs.Path(p).getName.startsWith(".stage_epoch_2_p")) {
        AtomicWarehouse.purgeKeys(spark, s"refuse://$local", "k", spread,
          statsKey = Some("k"), bloomKey = Some("k"))
      }
    }
    assert(e.getMessage.contains(".stage_epoch_2_p"), e.getMessage)
    assert(AtomicWarehouse.currentVersion(spark, local) == v)
    assert(AtomicWarehouse.read(spark, local, "k").where(col("k")
      .isin(spread: _*)).count() == 4)
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("graft-rewrite-")))
    // the other rewrites settled: their dirs are orphans for vacuum
    val left = new java.io.File(local).list().toSeq
    assert(left.exists(_.startsWith("epoch_1_p")) &&
      left.exists(_.startsWith("epoch_3_p")), left)
  }

  test("concurrent rewrites run under the caller's local properties") {
    val dir = freshDir("tagged")
    fourEpochs(dir)
    // every job's value of the property jobsFiredBy tags its caller with
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(j.properties.getProperty("graft.spec.jobs")))
    }
    spark.sparkContext.addSparkListener(listener)
    val jobs = try jobsFiredBy {
      AtomicWarehouse.purgeKeys(spark, dir, "k", spread,
        statsKey = Some("k"), bloomKey = Some("k"))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // the jobs between the two flushes' sentinels
    val all = seen.asScala.toSeq
    val last = all.lastIndexOf("sentinel")
    val body = all.slice(all.lastIndexOf("sentinel", last - 1) + 1, last)
    // 3 rewrites of 3 jobs (write, bloom map stage, bloom result) and
    // the purge log's write
    assert(jobs == 10 && body.size == jobs && body.forall(_ == "body"), body)
  }

  test("replaying an identical purge converges without double-rewrite") {
    val dir = freshDir("replay")
    commit(dir, 1, 30, 1L)
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(7L))
    val v = AtomicWarehouse.currentVersion(spark, dir)
    // same keys again: nothing left to purge (bloom excludes), no-op
    val (epochs, purged) = AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(7L))
    assert(epochs <= 1 && purged == 0L)
    assert(AtomicWarehouse.read(spark, dir, "k").count() == 29)
  }

  test("a mid-stream purge fails the tail unless ignoreDeletes") {
    val dir = freshDir("stream")
    val base = java.nio.file.Files.createTempDirectory("purge_tail").toString
    commit(dir, 1, 20, 1L)

    def drain(ck: String, out: String, ignoreDeletes: Boolean): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", dir)
        .option("ignoreDeletes", ignoreDeletes.toString)
        .load().select("k", "name", "load_seq")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val ex = q.exception
      if (ex.isDefined) throw ex.get
    }

    drain(s"$base/ck", s"$base/out", ignoreDeletes = false)
    assert(spark.read.parquet(s"$base/out").count() == 20)

    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(3L))
    commit(dir, 100, 110, 2L)

    // default: the resumed tail refuses at the purge boundary
    val e = intercept[Exception](
      drain(s"$base/ck", s"$base/out", ignoreDeletes = false))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("PURGE")), msgs(e).take(3).mkString("; "))

    // opted in: purge swap skipped, the NEW epoch still arrives
    drain(s"$base/ck", s"$base/out", ignoreDeletes = true)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 31) // 20 + 11; the rewrite was not re-served
    assert(out.where(col("load_seq") === 2L).count() == 11)

    // a FRESH tail's initial snapshot reflects the purge
    drain(s"$base/ck2", s"$base/out2", ignoreDeletes = false)
    val fresh = spark.read.parquet(s"$base/out2")
    assert(fresh.count() == 30) // 19 surviving + 11
    assert(fresh.where(col("k") === 3L).isEmpty)
  }

  test("deferred purge tombstones keys with ZERO epoch rewrites") {
    val dir = freshDir("dv_basic")
    commit(dir, 1, 100, 1L)
    commit(dir, 50, 120, 2L)
    val n = AtomicWarehouse.purgeKeysDeferred(spark, dir, "k",
      Seq(60L, 70L, 110L))
    assert(n == 3)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    // every epoch dir untouched — the merge-on-read contract
    assert(names.contains("epoch_1") && names.contains("epoch_2"))
    assert(names.exists(_.startsWith("tombstone_")))
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 117)
    assert(read.where(col("k").isin(60L, 70L, 110L)).isEmpty)
    assert(read.where(col("k") === 80).head.getAs[Long]("load_seq") == 2L)
    // a drain RE-ADDING a tombstoned key after the purge is new data
    commit(dir, 60, 60, 3L)
    val after = AtomicWarehouse.read(spark, dir, "k")
    assert(after.where(col("k") === 60).count() == 1)
    assert(after.where(col("k") === 60).head.getAs[Long]("load_seq") == 3L)
    assert(after.where(col("k") === 70).isEmpty) // still suppressed
  }

  test("deferred purge result hash-equals the copy-on-write purge") {
    val cow = freshDir("dv_cow"); val dv = freshDir("dv_mor")
    for (d <- Seq(cow, dv)) { commit(d, 1, 80, 1L); commit(d, 40, 90, 2L) }
    AtomicWarehouse.purgeKeys(spark, cow, "k", Seq(5L, 45L, 85L))
    AtomicWarehouse.purgeKeysDeferred(spark, dv, "k", Seq(5L, 45L, 85L))
    val a = AtomicWarehouse.read(spark, cow, "k")
      .orderBy("k").collect().toSeq
    val b = AtomicWarehouse.read(spark, dv, "k")
      .orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("compaction folds tombstones into the rewrite") {
    val dir = freshDir("dv_fold")
    commit(dir, 1, 50, 1L)
    commit(dir, 30, 60, 2L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(10L, 35L))
    AtomicWarehouse.compact(spark, dir, "k",
      statsKey = Some("k"), bloomKey = Some("k"))
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.size == 1 && names.head.startsWith("compact_"))
    // the fold MATERIALIZED the tombstone: purged keys absent from data
    assert(spark.read.parquet(s"$dir/${names.head}")
      .where(col("k").isin(10L, 35L)).isEmpty)
    assert(AtomicWarehouse.read(spark, dir, "k").count() == 58) // 60 - 2
  }

  test("the connector scan applies tombstones (long and string keys)") {
    val dir = freshDir("dv_conn")
    commit(dir, 1, 40, 1L)
    commit(dir, 20, 50, 2L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(25L))
    // the LOG view drops every version of the key at scan time
    val log = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(log.where(col("k") === 25L).isEmpty)
    assert(log.count() == 69) // 40 + 31 - 2 versions of key 25
    // column pruning that does NOT select the key still applies the drop
    assert(log.select("name").count() == 69)
    // all-string epochs (the drained F19/F20 shape): string keys parse
    val sdir = freshDir("dv_conn_str")
    AtomicWarehouse.commitEpoch(spark, sdir,
      rows(1, 10, 1L).select(col("k").cast("string").as("k"), col("name"),
        col("load_seq")), 1L)
    AtomicWarehouse.purgeKeysDeferred(spark, sdir, "k", Seq(4L))
    val slog = spark.read.format("graft-warehouse").option("path", sdir).load()
    assert(slog.count() == 9)
    assert(slog.where(col("k") === "4").isEmpty)
    assert(AtomicWarehouse.read(spark, sdir, "k").count() == 9)
  }

  test("time travel to the pre-tombstone version shows the rows") {
    val dir = freshDir("dv_history")
    commit(dir, 1, 30, 1L)
    val vBefore = AtomicWarehouse.currentVersion(spark, dir)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(9L))
    assert(AtomicWarehouse.readVersion(spark, dir, "k", vBefore)
      .where(col("k") === 9).count() == 1)
    // CoW purge alongside a tombstone: rewrites the epoch, leaves the
    // tombstone entry intact (it is a key list, not data)
    val (epochs, purged) = AtomicWarehouse.purgeKeys(spark, dir, "k",
      Seq(15L))
    assert(epochs == 1 && purged == 1L)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.exists(_.startsWith("tombstone_")))
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 28 && read.where(col("k").isin(9L, 15L)).isEmpty)
  }

  test("a mid-stream tombstone fails the tail unless ignoreDeletes") {
    val dir = freshDir("dv_stream")
    val base = java.nio.file.Files.createTempDirectory("dv_tail").toString
    commit(dir, 1, 20, 1L)

    def drain(ck: String, out: String, ignoreDeletes: Boolean): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", dir)
        .option("ignoreDeletes", ignoreDeletes.toString)
        .load().select("k", "name", "load_seq")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val ex = q.exception
      if (ex.isDefined) throw ex.get
    }

    drain(s"$base/ck", s"$base/out", ignoreDeletes = false)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(3L))
    commit(dir, 100, 105, 2L)

    val e = intercept[Exception](
      drain(s"$base/ck", s"$base/out", ignoreDeletes = false))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("PURGE")), msgs(e).take(3).mkString("; "))

    drain(s"$base/ck", s"$base/out", ignoreDeletes = true)
    assert(spark.read.parquet(s"$base/out").count() == 26) // 20 + 6

    // a FRESH tail's initial snapshot applies the tombstone at scan time
    drain(s"$base/ck2", s"$base/out2", ignoreDeletes = false)
    val fresh = spark.read.parquet(s"$base/out2")
    assert(fresh.count() == 25) // 19 surviving + 6
    assert(fresh.where(col("k") === 3L).isEmpty)
  }

  // ---- STRING merge keys (the reference's own video_id is a string:
  // ref Python-pipeline/ingestdatainbigquery.py:89 dedups PARTITION BY
  // video_id) — the same lattice, keys compared as strings -----------

  private def vidRows(lo: Int, hi: Int, seq: Long) =
    (lo to hi).map(i => (f"VID$i%04d", s"title$i", seq))
      .toDF("vid", "title", "load_seq")

  private def commitVid(dir: String, lo: Int, hi: Int, seq: Long): Unit =
    AtomicWarehouse.commitEpoch(spark, dir, vidRows(lo, hi, seq), seq,
      statsKey = Some("vid"), bloomKey = Some("vid"))

  test("string-key CoW purge removes every version; merge intact") {
    val dir = freshDir("str_basic")
    commitVid(dir, 1, 100, 1L)
    commitVid(dir, 50, 120, 2L)
    val (epochs, purged) = AtomicWarehouse.purgeKeysStr(spark, dir, "vid",
      Seq("VID0060", "VID0070", "VID0110"),
      statsKey = Some("vid"), bloomKey = Some("vid"))
    assert(epochs == 2)
    assert(purged == 5L) // 0060/0070 twice + 0110 once
    val read = AtomicWarehouse.read(spark, dir, "vid")
    assert(read.count() == 117)
    assert(read.where(col("vid").isin("VID0060", "VID0070", "VID0110"))
      .isEmpty)
    assert(read.where(col("vid") === "VID0080")
      .head.getAs[Long]("load_seq") == 2L)
  }

  test("string-key purge prunes: only epochs that may hold the key " +
      "rewrite (zone map + string bloom)") {
    val dir = freshDir("str_selective")
    commitVid(dir, 1, 100, 1L)
    commitVid(dir, 1000, 1100, 2L)
    commitVid(dir, 5000, 5100, 3L)
    val (epochs, purged) = AtomicWarehouse.purgeKeysStr(spark, dir, "vid",
      Seq("VID1050"), statsKey = Some("vid"), bloomKey = Some("vid"))
    assert(epochs == 1 && purged == 1L)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.contains("epoch_1") && names.contains("epoch_3"))
    assert(names.exists(_.startsWith("epoch_2_p")))
  }

  test("the string BLOOM prunes when string key ranges all overlap") {
    val dir = freshDir("str_bloom")
    // interleaved key sets: zone maps can never separate them
    val a = (1 to 200 by 2).map(i => (f"VID$i%04d", s"a$i", 1L))
      .toDF("vid", "title", "load_seq")
    val b = (2 to 200 by 2).map(i => (f"VID$i%04d", s"b$i", 2L))
      .toDF("vid", "title", "load_seq")
    AtomicWarehouse.commitEpoch(spark, dir, a, 1L,
      statsKey = Some("vid"), bloomKey = Some("vid"))
    AtomicWarehouse.commitEpoch(spark, dir, b, 2L,
      statsKey = Some("vid"), bloomKey = Some("vid"))
    // VID0007 lives only in epoch_1 (odd): the string bloom must
    // exclude epoch_2 even though both lexicographic ranges cover it
    val hit = AtomicWarehouse.readPointStr(spark, dir, "vid", "VID0007")
    val opened = graft.sources.v2.WarehouseScan.of(hit)
      .flatMap(_.plannedEpochs())
    assert(opened == Seq("epoch_1"), s"bloomstr should prune: $opened")
    assert(hit.count() == 1 && hit.head.getAs[String]("title") == "a7")
  }

  test("string-key deferred purge: tombstone, connector scan, re-add") {
    val dir = freshDir("str_dv")
    commitVid(dir, 1, 40, 1L)
    commitVid(dir, 20, 50, 2L)
    val n = AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "vid",
      Seq("VID0025", "VID0033"))
    assert(n == 2)
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.contains("epoch_1") && names.contains("epoch_2"))
    assert(names.exists(_.startsWith("tombstone_")))
    // engine read and connector scan agree
    val read = AtomicWarehouse.read(spark, dir, "vid")
    assert(read.count() == 48) // 50 distinct - 2
    val log = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(log.where(col("vid").isin("VID0025", "VID0033")).isEmpty)
    assert(log.count() == 67) // 40 + 31 - 2×VID0025 - 2×VID0033
    // re-adding a tombstoned key afterwards is new data
    commitVid(dir, 25, 25, 3L)
    val after = AtomicWarehouse.read(spark, dir, "vid")
    assert(after.where(col("vid") === "VID0025").count() == 1)
    assert(after.where(col("vid") === "VID0033").isEmpty)
    // compaction folds the string tombstone away
    AtomicWarehouse.compact(spark, dir, "vid",
      statsKey = Some("vid"), bloomKey = Some("vid"))
    val folded = AtomicWarehouse.committedEpochs(spark, dir)
    assert(folded.size == 1 && folded.head.startsWith("compact_"))
    assert(AtomicWarehouse.read(spark, dir, "vid").count() == 49)
  }

  test("tombstone key lists load DRIVER-SIDE: zero Spark jobs") {
    val dir = freshDir("dv_zerojob")
    commit(dir, 1, 30, 1L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(3L, 9L))
    AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k", Seq("12"))
    val entries = AtomicWarehouse.committedEntriesAt(spark, dir,
      AtomicWarehouse.currentVersion(spark, dir))
    val jobs = jobsFiredBy {
      val tombs = graft.sources.v2.WarehouseConnector
        .loadTombstones(spark, dir, entries)
      assert(tombs.map(_.keys.length).sum == 2)
      assert(tombs.map(_.strKeys.length).sum == 1)
      assert(tombs.forall(_.keyCol == "k"))
    }
    // a collect() per tombstone costs a ~100 ms Spark job EACH — at T
    // uncompacted tombstones that made every plan O(T) jobs; the
    // driver-side parquet read must schedule none
    assert(jobs == 0, s"loadTombstones ran $jobs Spark jobs")
  }

  test("long and string tombstones coexist in one manifest") {
    val dir = freshDir("mixed_tombs")
    // long-typed key column, long tombstone first, then a string
    // tombstone whose canonical renderings address the same column
    commit(dir, 1, 30, 1L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L))
    AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k", Seq("9"))
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 28)
    assert(read.where(col("k").isin(5L, 9L)).isEmpty)
    val log = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(log.count() == 28)
    assert(log.where(col("k").isin(5L, 9L)).isEmpty)
  }

  test("long purge over string epochs reaches non-canonical renderings") {
    // the rewrite predicate is try_cast(key as long): " 7", "+7" and
    // "07" all match key 7 even though they fall OUTSIDE the
    // lexicographic zone-map bounds of the canonical "7" — the string
    // zone map must therefore be INCONCLUSIVE for a long lookup (the
    // round-10 comparator pruned such epochs and silently left the
    // rows behind, a compliance-delete miss)
    val dir = freshDir("noncanon")
    val df = Seq((" 7", "a", 1L), ("+7", "b", 1L), ("07", "c", 1L),
      ("8", "d", 1L), ("x9", "e", 1L)).toDF("k", "name", "load_seq")
    AtomicWarehouse.commitEpoch(spark, dir, df, 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    val (_, purged) = AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(7L),
      statsKey = Some("k"), bloomKey = Some("k"))
    assert(purged == 3L, s"all three renderings of 7 must purge; got $purged")
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 2)
    assert(read.where(col("k").try_cast("long") === 7L).isEmpty)
    // the DEFERRED path must agree: connector + engine drop " 7" too
    val dir2 = freshDir("noncanon_dv")
    AtomicWarehouse.commitEpoch(spark, dir2, df, 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.purgeKeysDeferred(spark, dir2, "k", Seq(7L))
    assert(AtomicWarehouse.read(spark, dir2, "k").count() == 2)
    val log = spark.read.format("graft-warehouse").option("path", dir2)
      .load()
    assert(log.count() == 2, "connector drop check must parse like try_cast")
  }

  test("CoW purge invalidates outstanding tombstones' suppression counts") {
    // a copy-on-write rewrite physically removes rows a tombstone's
    // suppression total still counts — leaving the total in place would
    // make the pushed COUNT(*) double-subtract (9 data rows − 1 supp =
    // 8, while a scan serves 9)
    val dir = freshDir("cow_supp")
    commit(dir, 1, 10, 1L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L)) // supp=1
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(5L),
      statsKey = Some("k"), bloomKey = Some("k")) // CoW rewrite: 9 rows
    val counted = spark.read.format("graft-warehouse").option("path", dir)
      .load().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(counted.head.getLong(0) == 9L)
    // the stale total was stripped, so the metadata answer REFUSED
    // (conservative scan) rather than answering 8
    assert(!counted.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
  }

  test("string tombstone digests cannot alias across key-set shapes") {
    // {"a,b"} vs {"a","b"}: a comma-join digest would collide, and the
    // second purge's manifest commit would see the first tombstone as an
    // identical replay — reporting success while tombstoning nothing
    val dir = freshDir("digest_alias")
    val df = Seq(("a,b", 1L), ("a", 1L), ("b", 1L), ("z", 1L))
      .toDF("k", "load_seq")
    AtomicWarehouse.commitEpoch(spark, dir, df, 1L, statsKey = Some("k"))
    AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k", Seq("a,b"))
    AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k", Seq("a", "b"))
    val tombs = AtomicWarehouse.committedEpochs(spark, dir)
      .filter(_.startsWith("tombstone_"))
    assert(tombs.size == 2, s"distinct key sets need distinct entries: $tombs")
    // the direct pin (sequential purges also differ by base version, so
    // assert the digest itself): per-key URL-encoding de-aliases the join
    assert(AtomicWarehouse.digestOf(Seq("a,b")) !=
      AtomicWarehouse.digestOf(Seq("a", "b")))
    assert(AtomicWarehouse.read(spark, dir, "k").select("k")
      .as[String].collect().toSeq == Seq("z"))
  }

  test("CoW purge commits its purge log atomically; the log folds away") {
    val dir = freshDir("cow_log")
    commit(dir, 1, 30, 1L)
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(7L, 9L),
      statsKey = Some("k"), bloomKey = Some("k"))
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    // ONE no-op tombstone rides the same manifest CAS as the rewrite
    assert(names.count(AtomicWarehouse.isNoopTombstone) == 1, s"$names")
    // its key list is the purge's key set, verbatim (the feed's
    // retraction source); snapshot reads skip it (suppresses nothing)
    val logName = names.find(AtomicWarehouse.isNoopTombstone).get
    val (typ, ls, ss) =
      AtomicWarehouse.readTombstoneKeys(spark, dir, logName)
    assert(typ == "long" && ls.toSet == Set(7L, 9L) && ss.isEmpty)
    assert(AtomicWarehouse.read(spark, dir, "k").count() == 28)
    // describe labels the log distinctly from a real tombstone
    val kinds = AtomicWarehouse.describe(spark, dir)
      .select("entry_name", "kind").as[(String, String)].collect().toMap
    assert(kinds(logName) == "purge-log")
    // replaying the identical purge does not duplicate the log (the
    // second purge no-ops at the bloom: nothing left to rewrite)
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(7L, 9L),
      statsKey = Some("k"), bloomKey = Some("k"))
    assert(AtomicWarehouse.committedEpochs(spark, dir)
      .count(AtomicWarehouse.isNoopTombstone) == 1)
    // compaction folds the log away with the rest of pre-fold history
    AtomicWarehouse.compact(spark, dir, "k")
    assert(!AtomicWarehouse.committedEpochs(spark, dir)
      .exists(AtomicWarehouse.isTombstone))
    assert(AtomicWarehouse.read(spark, dir, "k").count() == 28)
  }

  test("delete preimage log: full-row deletes on feeds, ignored elsewhere") {
    val dir = freshDir("dv_delpre")
    commit(dir, 1, 40, 1L)
    commit(dir, 20, 30, 2L) // winners of 20..30 move to seq 2
    spark.conf.set("graft.delete.logPreimages", "true")
    try AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(10L, 25L))
    finally spark.conf.unset("graft.delete.logPreimages")
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.exists(AtomicWarehouse.isDeletePreimageLog), names)
    // snapshot + metadata paths skip the log entirely
    val read = AtomicWarehouse.read(spark, dir, "k")
    assert(read.count() == 38 && read.where(col("k").isin(10L, 25L)).isEmpty)
    def feed(opts: Map[String, String]) = {
      val b = spark.read.format("graft-warehouse").option("path", dir)
        .option("startingVersion", "1").option("readChangeFeed", "true")
      opts.foldLeft(b) { case (x, (k, v)) => x.option(k, v) }.load()
    }
    // default: key-only delete rows, the log invisible
    val plain = feed(Map.empty).where(col("_change_type") === "delete")
    assert(plain.count() == 2 && plain.where(col("name").isNotNull).isEmpty)
    // includePreimages: the log REPLACES the key rows — full payloads,
    // the winner versions at purge time
    val full = feed(Map("includePreimages" -> "true"))
      .where(col("_change_type") === "delete")
      .select("k", "name", "load_seq").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(full.toSeq == Seq((10L, "n10", 1L), (25L, "n25", 2L)), full.toSeq)
    // ignoreDeletes skips the log like every other retraction
    assert(feed(Map("includePreimages" -> "true", "ignoreDeletes" -> "true"))
      .where(col("_change_type") === "delete").isEmpty)
    // streaming CDF tail serves the same full-payload delete rows
    val out = java.nio.file.Files.createTempDirectory("delpre_sink").toString
    spark.readStream.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .option("includePreimages", "true").load()
      .writeStream.format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val streamed = spark.read.parquet(s"$out/data")
      .where(col("_change_type") === "delete")
      .select("k", "name", "load_seq").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(streamed.toSeq == Seq((10L, "n10", 1L), (25L, "n25", 2L)),
      streamed.toSeq)
  }
}
