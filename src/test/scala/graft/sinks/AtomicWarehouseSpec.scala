package graft.sinks

import graft.SparkSuite
import graft.sources.v2.{WarehouseFilePartition, WarehouseFilesPartition, WarehouseScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

class AtomicWarehouseSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The epochs `df`'s warehouse scans plan. */
  private def plannedEpochs(df: DataFrame): Seq[String] =
    WarehouseScan.of(df).flatMap(_.plannedEpochs())

  private def snapshot(dir: String): Set[(Long, String, Long)] =
    AtomicWarehouse.read(spark, dir, "k")
      .select(col("k").cast("long"), col("v"), col("load_seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("two-epoch drain: last-wins merge, staging truncated") {
    val base = tmp("aw_basic")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    assert(spark.read.parquet(staging).count() == 0) // K7 ran
    Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 2L)
    assert(snapshot(wh) ==
      Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 2L)))
    assert(AtomicWarehouse.currentVersion(spark, wh) == 2L)
  }

  test("schema evolution: widening/narrowing allowed, rename signature refused") {
    val wh = tmp("aw_schemaevo") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, "a", 1L)).toDF("k", "v", "load_seq"), 1L)
    // additive widening: fine (c24's contract)
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((2L, "b", "x", 2L)).toDF("k", "v", "extra", "load_seq"), 2L)
    // pure narrowing: fine (absent columns serve nulls)
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((3L, 3L)).toDF("k", "load_seq"), 3L)
    // drop-a-known + add-an-unknown = RENAME signature: the name-union
    // read would fork v/title into old-null/new-null halves silently —
    // refused loudly at commit instead
    val err = intercept[UnsupportedOperationException] {
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((4L, "t", 4L)).toDF("k", "title", "load_seq"), 4L)
    }
    assert(err.getMessage.contains("rename signature") &&
      err.getMessage.contains("title"), err.getMessage)
    assert(AtomicWarehouse.currentVersion(spark, wh) == 3L,
      "the refused commit must not land")
    // the escape hatch commits the add+drop knowingly
    spark.conf.set("graft.schema.allowNonAdditive", "true")
    try AtomicWarehouse.commitEpoch(spark, wh,
      Seq((4L, "t", 4L)).toDF("k", "title", "load_seq"), 4L)
    finally spark.conf.unset("graft.schema.allowNonAdditive")
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 4)
  }

  test("a commit that retypes a column is refused; the manifest stays") {
    val wh = tmp("aw_retype") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, "a", 1L)).toDF("k", "v", "load_seq"), 1L)
    val err = intercept[IllegalStateException] {
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((2L, 7L, 2L)).toDF("k", "v", "load_seq"), 2L)
    }
    assert(err.getMessage.contains("never retype") &&
      err.getMessage.contains("'v'"), err.getMessage)
    assert(AtomicWarehouse.currentVersion(spark, wh) == 1L,
      "the refused commit must not land")
    // narrower integral types record as int: no retype
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((3L, "c", 3L, 5.toShort)).toDF("k", "v", "load_seq", "n"), 3L)
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((4L, "d", 4L, 6.toShort)).toDF("k", "v", "load_seq", "n"), 4L)
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 3)
  }

  test("crash between data write and manifest commit: invisible, recoverable") {
    val base = tmp("aw_crash1")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a")).toDF("k", "v").write.parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    // simulate the crash: epoch-2 data lands but the manifest rename never
    // happens (write the dir directly, bypassing commitEpoch)
    Seq((1L, "a2"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(staging)
    Warehouse.allString(spark.read.parquet(staging))
      .withColumn("load_seq", lit(2L))
      .write.mode("overwrite").parquet(s"$wh/epoch_2")
    // readers see ONLY epoch 1 — never a half-appended epoch 2
    assert(snapshot(wh) == Set((1L, "a", 1L)))
    // recovery = run the same drain again: converges and commits. The
    // published-but-uncommitted dir is ADOPTED, not deleted-and-rewritten
    // (same name = same logical content; deleting could strand a racing
    // writer's manifest commit) — its files must survive untouched.
    val files = new java.io.File(s"$wh/epoch_2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    AtomicWarehouse.drain(spark, staging, wh, 2L)
    assert(snapshot(wh) == Set((1L, "a2", 2L), (2L, "b", 2L)))
    val after = new java.io.File(s"$wh/epoch_2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == files, "complete uncommitted epoch dir was rewritten")
  }

  test("crash between manifest commit and truncate: replay is a no-op merge") {
    val base = tmp("aw_crash2")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(staging)
    // simulate: commit succeeded, truncate never ran
    AtomicWarehouse.commitEpoch(spark, wh,
      Warehouse.allString(spark.read.parquet(staging))
        .withColumn("load_seq", lit(1L)), 1L)
    assert(spark.read.parquet(staging).count() == 2) // staging still full
    val before = snapshot(wh)
    // recovery = run the same drain again: epoch replay no-ops (immutable
    // committed epoch), only the truncate re-runs
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    assert(snapshot(wh) == before)
    assert(AtomicWarehouse.currentVersion(spark, wh) == 1L) // no new version
    assert(spark.read.parquet(staging).count() == 0)
  }

  test("time travel: every historical version stays readable as-of") {
    val base = tmp("aw_tt")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    Seq((2L, "b2")).toDF("k", "v").write.mode("overwrite").parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 2L)
    def snapAt(v: Long) = AtomicWarehouse.readVersion(spark, wh, "k", v)
      .select(col("k").cast("long"), col("v"), col("load_seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(snapAt(1L) == Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(snapAt(2L) == Set((1L, "a", 1L), (2L, "b2", 2L)))
    assert(snapAt(2L) == snapshot(wh)) // current == latest version
  }

  test("two concurrent writers serialize into one linear manifest chain") {
    val wh = tmp("aw_race") + "/wh"
    val rounds = 6
    // barrier-aligned rounds: in each, both writers commit a DIFFERENT
    // epoch at the same instant, maximizing manifest-version collisions
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(offset: Long): Thread = {
      val t = new Thread(() => {
        try {
          for (r <- 0 until rounds) {
            val seq = offset + r * 2
            val df = Seq((seq, s"w$offset-r$r")).toDF("k", "v")
              .withColumn("load_seq", lit(seq))
            barrier.await()
            AtomicWarehouse.commitEpoch(spark, wh, df, seq)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    val ws = Seq(writer(1L), writer(2L))
    ws.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")

    // the surviving manifest chain must be LINEAR: one version per commit,
    // each version = its predecessor + exactly one new epoch
    val v = AtomicWarehouse.currentVersion(spark, wh)
    assert(v == rounds * 2L, s"expected ${rounds * 2} versions, got $v")
    var prev = Seq.empty[String]
    for (i <- 1L to v) {
      val at = AtomicWarehouse.committedEpochsAt(spark, wh, i)
      assert(at.size == prev.size + 1 && at.startsWith(prev),
        s"manifest chain not linear at v$i: $prev -> $at")
      prev = at
    }
    assert(prev.toSet ==
      (0 until rounds).flatMap(r => Seq(s"epoch_${1 + r * 2}", s"epoch_${2 + r * 2}")).toSet,
      "a committed epoch went missing from the final manifest")
    // and every committed row is visible in the snapshot read
    assert(AtomicWarehouse.read(spark, wh, "k").count() == rounds * 2L)
  }

  test("concurrent replays of the SAME epoch converge to one manifest entry") {
    // Stress-looped: round 14's red run showed the loser of the stage->dst
    // move can get ENOTEMPTY as a GENERIC FileSystemException (not
    // DirectoryNotEmptyException) on Linux, which publishDir used to miss —
    // the window is a few syscalls wide, so one barrier-paired attempt
    // rarely hits it. GRAFT_RACE_ITERS overrides for a deeper soak.
    val iters = sys.env.getOrElse("GRAFT_RACE_ITERS", "10").toInt
    for (it <- 0 until iters) {
      val wh = tmp(s"aw_samepoch_$it") + "/wh"
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ws = (0 until 2).map { _ =>
        val t = new Thread(() => {
          try {
            val df = Seq((1L, "same")).toDF("k", "v").withColumn("load_seq", lit(7L))
            barrier.await()
            AtomicWarehouse.commitEpoch(spark, wh, df, 7L)
          } catch { case e: Throwable => errs.add(e) }
        })
        t.start(); t
      }
      ws.foreach(_.join(120000))
      assert(errs.isEmpty,
        s"writer failed (iter $it): ${Option(errs.peek()).map(_.toString)}")
      val v = AtomicWarehouse.currentVersion(spark, wh)
      assert(v == 1L, s"same-epoch replay must commit exactly once, got v$v (iter $it)")
      assert(AtomicWarehouse.committedEpochs(spark, wh) == Seq("epoch_7"))
      assert(snapshot(wh) == Set((1L, "same", 7L)))
    }
  }

  test("compaction folds epochs, preserves results and later drains") {
    val wh = tmp("aw_compact") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq)
    ep(1L, Seq((1L, "a"), (2L, "b")))
    ep(2L, Seq((2L, "b2"), (3L, "c")))
    ep(3L, Seq((3L, "c3")))
    val before = snapshot(wh)
    AtomicWarehouse.compact(spark, wh, "k")
    assert(AtomicWarehouse.currentVersion(spark, wh) == 4L)
    assert(AtomicWarehouse.committedEpochs(spark, wh) == Seq("compact_v3"))
    assert(snapshot(wh) == before, "compaction changed the snapshot")
    // time travel to a pre-compaction version still resolves (vacuum has
    // not run, so the old epoch dirs and manifests are intact)
    assert(AtomicWarehouse.readVersion(spark, wh, "k", 2L).count() == 3)
    // a drain AFTER compaction still wins the merge over folded rows
    ep(5L, Seq((1L, "a5")))
    assert(snapshot(wh) ==
      Set((1L, "a5", 5L), (2L, "b2", 2L), (3L, "c3", 3L)))
    // compacting again (now over [compact_v3, epoch_5]) folds anew and
    // still changes nothing observable
    val v = AtomicWarehouse.currentVersion(spark, wh)
    AtomicWarehouse.compact(spark, wh, "k")
    assert(AtomicWarehouse.currentVersion(spark, wh) == v + 1)
    assert(snapshot(wh) ==
      Set((1L, "a5", 5L), (2L, "b2", 2L), (3L, "c3", 3L)))
  }

  test("vacuum destroys only unreferenced history") {
    val wh = tmp("aw_vacuum") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq)
    ep(1L, Seq((1L, "a")))
    ep(2L, Seq((2L, "b")))
    AtomicWarehouse.compact(spark, wh, "k") // v3 -> [compact_v2]
    ep(4L, Seq((3L, "c")))
    val before = snapshot(wh)
    // the default grace window refuses to touch freshly-written dirs —
    // an unreferenced-right-now dir can be a concurrent drain's published
    // epoch whose manifest commit hasn't landed yet (only the old
    // manifests, which no in-flight commit can reference, are dropped)
    val (m0, d0) = AtomicWarehouse.vacuum(spark, wh, retainVersions = 2)
    assert(m0 == 2 && d0 == 0,
      s"grace window must skip young dirs, got ($m0, $d0)")
    val (manifests, dirs) =
      AtomicWarehouse.vacuum(spark, wh, retainVersions = 2, graceMs = 0L)
    assert(manifests == 0, s"v1,v2 already deleted, got $manifests")
    assert(dirs == 2, s"expected epoch_1, epoch_2 deleted, got $dirs")
    assert(snapshot(wh) == before, "vacuum changed the current snapshot")
    assert(AtomicWarehouse.readVersion(spark, wh, "k", 4L).count() == 3)
    intercept[Exception] { // pre-retention history is genuinely gone
      AtomicWarehouse.readVersion(spark, wh, "k", 1L).count()
    }
    // idempotent: a second vacuum finds nothing more to delete
    assert(AtomicWarehouse.vacuum(spark, wh, retainVersions = 2,
      graceMs = 0L) == ((0, 0)))
  }

  test("range read skips epochs whose key stats are disjoint") {
    val wh = tmp("aw_skip") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq,
        statsKey = Some("k"))
    ep(1L, (1L to 100L).map(k => k -> s"base$k"))
    ep(2L, (1L to 10L).map(k => k -> s"low$k"))
    ep(3L, (60L to 80L).map(k => k -> s"hot$k"))
    val entries = AtomicWarehouse.committedEntriesAt(spark, wh,
      AtomicWarehouse.currentVersion(spark, wh))
    assert(entries.map(_.stats("k")) ==
      Seq(AtomicWarehouse.ColStats("long", "1", "100"),
        AtomicWarehouse.ColStats("long", "1", "10"),
        AtomicWarehouse.ColStats("long", "60", "80")))
    // [1,10] intersects epochs 1+2 only: the HOT epoch must not be opened
    val low = AtomicWarehouse.readRange(spark, wh, "k", 1L, 10L)
    assert(plannedEpochs(low) == Seq("epoch_1", "epoch_2"))
    // fully disjoint range: nothing scanned, empty result with schema
    val none = AtomicWarehouse.readRange(spark, wh, "k", 200L, 300L)
    assert(plannedEpochs(none).isEmpty)
    assert(none.count() == 0)
    // and pruned results equal the unpruned read filtered to the range
    val pruned = low
      .select(col("k").cast("long"), col("v"), col("load_seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = AtomicWarehouse.read(spark, wh, "k")
      .where(col("k").between(1, 10))
      .select(col("k").cast("long"), col("v"), col("load_seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(pruned == full && pruned.size == 10)
    assert(pruned.forall { case (_, v, seq) => v.startsWith("low") && seq == 2L })
  }

  test("committed epochs are immutable under empty-staging replay") {
    val base = tmp("aw_replay")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a")).toDF("k", "v").write.parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    // staging is now empty; a buggy scheduler re-fires the same epoch
    AtomicWarehouse.drain(spark, staging, wh, 1L)
    assert(snapshot(wh) == Set((1L, "a", 1L))) // data survived
  }

  test("readRangeOn prunes on a version-stable string/date column") {
    val wh = tmp("aw_daterange") + "/wh"
    // published_at is version-stable per key (a publish-time fact), so
    // pruning on it is sound per readRangeOn's contract
    def ep(seq: Long, rows: Seq[(Long, String, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "pub", "v").withColumn("load_seq", lit(seq)), seq,
        statsKey = Some("k"), statsCols = Seq("pub"))
    ep(1L, (1L to 50L).map(k =>
      (k, f"2024-05-${1 + (k % 3).toInt}%02dT00:00:00Z", s"a$k")))
    ep(2L, (51L to 60L).map(k => (k, "2024-06-15T00:00:00Z", s"june$k")))
    ep(3L, (1L to 5L).map(k =>
      (k, f"2024-05-${1 + (k % 3).toInt}%02dT00:00:00Z", s"refetch$k")))
    // a May window must skip the June-only epoch
    val may = AtomicWarehouse.readRangeOn(spark, wh, "k", "pub",
      "2024-05-01", "2024-05-31T23:59:59Z")
    assert(plannedEpochs(may) == Seq("epoch_1", "epoch_3"))
    assert(may.count() == 50)
    // refetched keys won the merge inside the pruned read
    assert(may.where(col("k") <= 5).select("v").collect()
      .forall(_.getString(0).startsWith("refetch")))
    // and the June window skips both May epochs
    val june = AtomicWarehouse.readRangeOn(spark, wh, "k", "pub",
      "2024-06-01", "2024-06-30")
    assert(plannedEpochs(june) == Seq("epoch_2"))
    assert(june.count() == 10)
  }

  test("fractional stats columns are refused (lexicographic order is wrong for them)") {
    val wh = tmp("aw_badstats") + "/wh"
    val e = intercept[IllegalArgumentException] {
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((1L, 0.5)).toDF("k", "x").withColumn("load_seq", lit(1L)), 1L,
        statsCols = Seq("x"))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("range-read schema is pruning-invariant under additive evolution") {
    val wh = tmp("aw_schemarange") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      (1L to 10L).map(k => (k, s"a$k")).toDF("k", "v")
        .withColumn("load_seq", lit(1L)), 1L, statsKey = Some("k"))
    // epoch 2 adds a column AND is key-disjoint from the queried range
    AtomicWarehouse.commitEpoch(spark, wh,
      (100L to 110L).map(k => (k, s"b$k", s"extra$k")).toDF("k", "v", "extra")
        .withColumn("load_seq", lit(2L)), 2L, statsKey = Some("k"))
    val fullSchema = AtomicWarehouse.read(spark, wh, "k").schema
    // the evolved column lives ONLY in the skipped epoch — it must still
    // be in the result schema (as nulls), same as the full read's
    val pruned = AtomicWarehouse.readRange(spark, wh, "k", 1L, 10L)
    assert(pruned.schema == fullSchema,
      s"pruned schema ${pruned.schema} != full ${fullSchema}")
    assert(pruned.count() == 10)
    assert(pruned.select("extra").collect().forall(_.isNullAt(0)))
    // empty-range reads agree too
    assert(AtomicWarehouse.readRange(spark, wh, "k", 500L, 600L).schema
      == fullSchema)
  }

  test("compact-vs-compact race: exactly one fold lands, no spurious abort") {
    val wh = tmp("aw_compactrace") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq)
    ep(1L, Seq((1L, "a"), (2L, "b")))
    ep(2L, Seq((2L, "b2"), (3L, "c")))
    ep(3L, Seq((3L, "c3")))
    val before = snapshot(wh)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until 2).map { _ =>
      val t = new Thread(() => {
        try { barrier.await(); AtomicWarehouse.compact(spark, wh, "k") }
        catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"compaction aborted: ${Option(errs.peek()).map(_.toString)}")
    assert(snapshot(wh) == before, "racing compactions changed the snapshot")
    // the current manifest is a valid fold state: one compact entry, or a
    // compact entry plus nothing else (a second fold over one entry no-ops)
    val names = AtomicWarehouse.committedEpochs(spark, wh)
    assert(names.nonEmpty && names.forall(_.startsWith("compact_v")),
      s"unexpected manifest after racing compactions: $names")
  }

  test("compact-vs-drain race: the drained epoch is carried, never lost") {
    val wh = tmp("aw_compactdrain") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq)
    ep(1L, Seq((1L, "a"), (2L, "b")))
    ep(2L, Seq((2L, "b2")))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try { barrier.await(); AtomicWarehouse.compact(spark, wh, "k") }
      catch { case e: Throwable => errs.add(e) }
    })
    val drainer = new Thread(() => {
      try { barrier.await(); ep(3L, Seq((3L, "c"))) }
      catch { case e: Throwable => errs.add(e) }
    })
    compactor.start(); drainer.start()
    Seq(compactor, drainer).foreach(_.join(120000))
    assert(errs.isEmpty, s"failed: ${Option(errs.peek()).map(_.toString)}")
    assert(snapshot(wh) ==
      Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 3L)))
  }

  test("vacuum is single-maintainer: lock fences, stale lease breaks") {
    val wh = tmp("aw_vaclock") + "/wh"
    def ep(seq: Long): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((seq, s"v$seq")).toDF("k", "v").withColumn("load_seq", lit(seq)), seq)
    ep(1L); ep(2L)
    AtomicWarehouse.compact(spark, wh, "k")
    // a held (fresh) lock refuses a second vacuum
    val lock = new java.io.File(s"$wh/_manifest/.vacuum_lock")
    assert(lock.createNewFile())
    intercept[ConcurrentVacuumException] {
      AtomicWarehouse.vacuum(spark, wh, retainVersions = 1, graceMs = 0L)
    }
    // an abandoned lock older than the lease is broken and vacuum proceeds
    assert(lock.setLastModified(System.currentTimeMillis() - 10000))
    val (m, d) = AtomicWarehouse.vacuum(spark, wh, retainVersions = 1,
      graceMs = 0L, leaseMs = 5000L)
    assert(m == 2 && d == 2, s"expected (2 manifests, 2 dirs), got ($m, $d)")
    assert(!lock.exists(), "vacuum must release its lock")
    assert(snapshot(wh) == Set((1L, "v1", 1L), (2L, "v2", 2L)))
  }

  test("a drain stalled past the grace window survives a racing vacuum") {
    val wh = tmp("aw_stalldrain") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, "a")).toDF("k", "v").withColumn("load_seq", lit(1L)), 1L)
    // epoch 2's drain "stalls" between data publish and manifest commit;
    // a vacuum with an expired grace window deletes the published dir in
    // that window (the ADVICE scenario) — the commit must re-publish and
    // land a manifest whose dir exists, not a dangling pointer
    var vacuumed = false
    CommitSeam.around(if (!vacuumed) {
      vacuumed = true
      val (_, d) = AtomicWarehouse.vacuum(spark, wh, retainVersions = 1,
        graceMs = 0L)
      assert(d == 1, s"vacuum should delete the in-flight epoch dir, got $d")
    })(AtomicWarehouse.commitEpoch(spark, wh,
      Seq((2L, "b")).toDF("k", "v").withColumn("load_seq", lit(2L)), 2L))
    assert(vacuumed)
    assert(new java.io.File(s"$wh/epoch_2").exists(),
      "recovered commit must leave the epoch dir in place")
    assert(snapshot(wh) == Set((1L, "a", 1L), (2L, "b", 2L)))
  }

  test("manifest lines: legacy and per-column formats both parse") {
    import AtomicWarehouse.{ColStats, EpochEntry}
    // legacy single-long form maps to the merge key via the * wildcard
    val legacy = EpochEntry.parse("epoch_1\t5\t10")
    assert(legacy.statsFor("anykey", "anykey") ==
      Some(ColStats("long", "5", "10")))
    assert(legacy.statsFor("other_col", "anykey") == None)
    // per-column form round-trips, including values needing encoding
    val e = EpochEntry("epoch_2", Map(
      "k" -> ColStats("long", "-3", "99"),
      "pub at" -> ColStats("string", "2024-05-01\tx", "2024-06-01")))
    val parsed = EpochEntry.parse(e.line)
    assert(parsed == e)
    assert(parsed.statsFor("pub at", "k").get.mn == "2024-05-01\tx")
    // stat-less entries survive
    assert(EpochEntry.parse("epoch_3") == EpochEntry("epoch_3"))
  }

  test("_SUCCESS detection survives marksuccessfuljobs=false") {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get(key)
    hc.set(key, "false")
    try {
      val wh = tmp("aw_nomark") + "/wh"
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((1L, "a")).toDF("k", "v").withColumn("load_seq", lit(1L)), 1L)
      // the marker is written by AtomicWarehouse itself, so adoption
      // logic still sees the dir as complete under this session config
      assert(new java.io.File(s"$wh/epoch_1/_SUCCESS").exists())
      val files = new java.io.File(s"$wh/epoch_1").listFiles()
        .map(f => f.getName -> f.lastModified()).toMap
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((1L, "a")).toDF("k", "v").withColumn("load_seq", lit(1L)), 1L)
      val after = new java.io.File(s"$wh/epoch_1").listFiles()
        .map(f => f.getName -> f.lastModified()).toMap
      assert(after == files, "replay rewrote a complete epoch dir")
    } finally {
      if (old == null) hc.unset(key) else hc.set(key, old)
    }
  }

  test("hive-partitioned epochs: a range read opens only the matching partitions") {
    val wh = tmp("aw_partepoch") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "month", "v").withColumn("load_seq", lit(seq)), seq,
        statsKey = Some("k"), statsCols = Seq("month"),
        partitionBy = Seq("month"))
    ep(1L, (1L to 40L).map(k =>
      (k, if (k <= 20) "2024-05" else "2024-06", s"a$k")))
    ep(2L, (1L to 10L).map(k => (k, "2024-05", s"re$k")))
    // the epoch dir is laid out hive-style
    assert(new java.io.File(s"$wh/epoch_1/month=2024-05").isDirectory)
    assert(new java.io.File(s"$wh/epoch_1/month=2024-06").isDirectory)
    // a month range read prunes partitions INSIDE the scanned epochs:
    // the scan opens exactly the month=2024-05 files of both epochs
    val may = AtomicWarehouse.readRangeOn(spark, wh, "k", "month",
      "2024-05", "2024-05")
    val may05 = Seq("epoch_1", "epoch_2").flatMap(e =>
      new java.io.File(s"$wh/$e/month=2024-05").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName))
    val opened = warehouseScans(may).flatMap(plannedFiles)
    assert(may05.nonEmpty && opened.sorted ==
      opened.filter(_.contains("/month=2024-05/")).sorted &&
      opened.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted ==
        may05.sorted, s"planned $opened, month=2024-05 holds $may05")
    val got = may.select(col("k").cast("long"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 20 &&
      (1L to 10L).forall(k => got(k) == s"re$k") &&
      (11L to 20L).forall(k => got(k) == s"a$k"))
    // partition columns survive the merge + snapshot read
    assert(AtomicWarehouse.read(spark, wh, "k").columns.contains("month"))
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 40)
  }

  test("manifest entry serialization round-trips arbitrary names/values (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import AtomicWarehouse.{ColStats, EpochEntry}
    // column names and string stats may contain ANY text — tabs,
    // newlines, unicode, '%', '+' — the line encoding must round-trip
    // them all (a date column's min is data, not an identifier)
    val anyText = Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('\t', '\n', ' ', '%', '+', '=', 'é', '季', '-', ':')))
      .map(_.mkString)
    val colStats = for {
      typ <- Gen.oneOf("long", "string")
      (mn, mx) <- if (typ == "long")
        Gen.zip(Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
          Gen.chooseNum(-1000000L, 1000000L).map(_.toString))
      else Gen.zip(anyText, anyText)
    } yield ColStats(typ, mn, mx)
    val entry = for {
      name <- Gen.oneOf(Gen.const("epoch_7"), Gen.const("compact_v3"))
      cols <- Gen.mapOf(Gen.zip(anyText.suchThat(_.nonEmpty), colStats))
    } yield EpochEntry(name, cols)
    val prop = Prop.forAll(entry) { e =>
      EpochEntry.parse(e.line) == e
    }
    val r = check(Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }

  test("bloom point lookup skips overlapping-range epochs lacking the key") {
    val wh = tmp("aw_bloom") + "/wh"
    def ep(seq: Long, rows: Seq[(Long, String)]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        rows.toDF("k", "v").withColumn("load_seq", lit(seq)), seq,
        statsKey = Some("k"), bloomKey = Some("k"))
    // all three epochs span the SAME key range — min/max stats can
    // never prune; only the bloom knows which epoch holds which key
    ep(1L, (0L to 200L by 2).map(k => k -> s"even$k"))
    ep(2L, (1L to 199L by 2).map(k => k -> s"odd$k"))
    ep(3L, (0L to 200L by 10).map(k => k -> s"ten$k"))
    // range stats alone keep everything...
    assert(plannedEpochs(AtomicWarehouse.readRange(spark, wh, "k", 7L, 7L))
      .size == 3)
    // ...the bloom knows 7 is odd-only and 10 is even+tens
    assert(plannedEpochs(AtomicWarehouse.readPoint(spark, wh, "k", 7L)) ==
      Seq("epoch_2"))
    assert(plannedEpochs(AtomicWarehouse.readPoint(spark, wh, "k", 10L)) ==
      Seq("epoch_1", "epoch_3"))
    // and the pruned point reads still merge correctly
    def point(v: Long) = AtomicWarehouse.readPoint(spark, wh, "k", v)
      .select(col("v")).collect().map(_.getString(0)).toSeq
    assert(point(7L) == Seq("odd7"))
    assert(point(10L) == Seq("ten10")) // load_seq 3 wins over even10
    // out-of-range point: range stats empty the scan, schema intact
    assert(AtomicWarehouse.readPoint(spark, wh, "k", 5000L).count() == 0)
  }

  test("key blooms are bit-identical to stat.bloomFilter of the column " +
      "(long, castable string, non-castable string keys)") {
    import org.apache.spark.util.sketch.BloomFilter
    def b64(bf: BloomFilter): String = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    // keys with nulls among them: the filters must skip them
    val cases = Seq(
      "long" -> spark.range(0, 1500).select(
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id")).as("k")),
      "castable" -> spark.range(0, 1500).select(
        when(col("id") % 7 === 0, lit(null))
          .otherwise(col("id").cast("string")).as("k")),
      "non-castable" -> spark.range(0, 1500).select(
        when(col("id") % 7 === 0, lit(null))
          .otherwise(concat(lit("id"), col("id").cast("string"))).as("k")))
    cases.foreach { case (label, keys) =>
      val wh = tmp("aw_bloombits") + "/wh"
      AtomicWarehouse.commitEpoch(spark, wh,
        keys.withColumn("load_seq", lit(1L)), 1L, bloomKey = Some("k"))
      val st = AtomicWarehouse.committedEntriesAt(spark, wh, 1L).head.stats
      val data = spark.read.parquet(s"$wh/epoch_1")
      val n = math.max(1000L, data.where(col("k").isNotNull).count())
      val asLong = data.select(col("k").try_cast("long").as("k"))
      val wantLong =
        if (label == "non-castable") b64(BloomFilter.create(n, 0.01))
        else b64(asLong.stat.bloomFilter("k", n, 0.01))
      assert(st("bloom(k)").mn == wantLong, label)
      assert(st("bloom(k)").mx == n.toString, label)
      if (label == "long") assert(!st.contains("bloomstr(k)"))
      else assert(st("bloomstr(k)").mn ==
        b64(data.stat.bloomFilter("k", n, 0.01)), label)
    }
  }

  test("a bloom-keyed commit runs the write plus ONE bloom query") {
    val wh = tmp("aw_bloomjobs") + "/wh"
    // a string key: a long and a string filter, both from one query
    val df = spark.range(0, 2000).select(
      col("id").cast("string").as("k"), lit(1L).as("load_seq"))
    val jobs = jobsFiredBy {
      AtomicWarehouse.commitEpoch(spark, wh, df, 1L,
        statsKey = Some("k"), bloomKey = Some("k"))
    }
    // 3 (local[4]): the write, then the bloom aggregate's map stage and
    // its final stage; a query per filter makes it 5
    assert(jobs == 3, s"the commit fired $jobs jobs")
    val st = AtomicWarehouse.committedEntriesAt(spark, wh, 1L).head.stats
    assert(st.contains("bloom(k)") && st.contains("bloomstr(k)"))
  }

  /** The warehouse scans `df` plans — from `sparkPlan`, not
    * `executedPlan`: AQE wraps the latter in an adaptive root whose tree
    * isn't traversable until execution finalizes it. */
  private def warehouseScans(df: DataFrame): Seq[WarehouseScan] =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[WarehouseScan] =>
        b.scan.asInstanceOf[WarehouseScan]
    }

  /** The data files a warehouse scan opens. */
  private def plannedFiles(s: WarehouseScan): Seq[String] =
    s.planInputPartitions().toSeq.flatMap {
      case p: WarehouseFilePartition => Seq(p.path)
      case m: WarehouseFilesPartition => m.files.toSeq.map(_.path)
    }

  test("merged read plans one warehouse scan, not O(epochs)") {
    // the round-10 fold probe measured the one-relation-per-epoch union
    // at 918 s for 1000 epochs × 32 files vs 78 s for the same bytes in
    // single-relation shape — every epoch must be read by ONE scan,
    // however long the manifest grows
    val wh = tmp("aw_flatplan") + "/wh"
    for (seq <- 1L to 30L)
      AtomicWarehouse.commitEpoch(spark, wh,
        Seq((seq, s"v$seq", seq)).toDF("k", "v", "load_seq")
          .repartition(3), seq, statsKey = Some("k"))
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(warehouseScans(read).size == 1,
      s"30 uniform epochs must plan exactly one scan; got ${warehouseScans(read)}")
    // correctness unchanged: every key resolves, last-wins intact
    assert(read.count() == 30)
    assert(read.where(col("k") === 7L).head.getString(1) == "v7")
    // an additively-evolved epoch joins the same scan — and old rows
    // serve null there
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((31L, "v31", 31L, "x")).toDF("k", "v", "load_seq", "extra"),
      31L, statsKey = Some("k"))
    val evolved = AtomicWarehouse.read(spark, wh, "k")
    assert(warehouseScans(evolved).size == 1)
    assert(evolved.columns.toSeq == Seq("k", "v", "load_seq", "extra"))
    assert(evolved.where(col("k") === 31L).head.getString(3) == "x")
    assert(evolved.where(col("k") === 7L).head.isNullAt(3))
  }

  test("tombstones and pruned reads keep the single-scan plan") {
    val wh = tmp("aw_flatplan2") + "/wh"
    for (seq <- 1L to 10L)
      AtomicWarehouse.commitEpoch(spark, wh,
        (seq * 100L until seq * 100L + 50L).map(k => (k, s"v$k", seq))
          .toDF("k", "v", "load_seq"), seq,
        statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.purgeKeysDeferred(spark, wh, "k", Seq(105L, 333L))
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(warehouseScans(read).size == 1,
      "tombstones are drops in the scan's reader, not more scans")
    assert(read.count() == 498)
    // a range read scans the surviving epoch only
    val ranged = AtomicWarehouse.readRange(spark, wh, "k", 300L, 360L)
    assert(warehouseScans(ranged).map(plannedFiles(_)
      .flatMap(_.split('/').find(_.startsWith("epoch_"))).distinct) ==
      Seq(Seq("epoch_3")))
    assert(ranged.count() == 49) // epoch 3's 50 keys minus purged 333
    // fully-pruned read: no file opened, schema intact
    val empty = AtomicWarehouse.readRange(spark, wh, "k", 5000L, 6000L)
    assert(warehouseScans(empty).map(plannedFiles) == Seq(Nil))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("k", "v", "load_seq"))
  }

  private def epochParquetFiles(wh: String, epoch: String): Int =
    new java.io.File(s"$wh/$epoch").listFiles()
      .count(f => f.getName.endsWith(".parquet"))

  test("drain sizes epoch parts from staged bytes, not shuffle width") {
    val base = tmp("aw_partsize")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    // 8 tiny staged shards — the cron-drain shape that compounded into
    // the fold probe's 32k-file cliff; a few hundred bytes must land as
    // ONE part file, not 8 (the staged footers' row count sizes parts)
    (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(8).write.parquet(staging)
    AtomicWarehouse.drain(spark, staging, wh, 1L, statsKey = Some("k"))
    assert(epochParquetFiles(wh, "epoch_1") == 1)
    // the frame form (the CHECK-gated drain's commit) sizes from the
    // audited row count: a pinned 8-partition frame lands as one part
    AtomicWarehouse.commitDrained(spark,
      (41L to 80L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8),
      40L, wh, 2L, statsKey = Some("k"))
    assert(epochParquetFiles(wh, "epoch_2") == 1)
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 80)
  }

  test("compactEvery table property auto-folds the manifest on drains") {
    val base = tmp("aw_cadence")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    AtomicWarehouse.declareWriteDefaults(spark, wh,
      Map("compactEvery" -> "4", "mergeKey" -> "k", "statsKey" -> "k"))
    def drainOne(seq: Long): Unit = {
      Seq((seq, s"v$seq")).toDF("k", "v")
        .write.mode("overwrite").parquet(staging)
      AtomicWarehouse.drain(spark, staging, wh, seq, statsKey = Some("k"))
    }
    (1L to 3L).foreach(drainOne)
    assert(AtomicWarehouse.committedEpochs(spark, wh).size == 3,
      "below the cadence nothing folds")
    drainOne(4L) // the cadence-th commit triggers the fold
    val folded = AtomicWarehouse.committedEpochs(spark, wh)
    assert(folded.size == 1 && folded.head.startsWith("compact_v"),
      s"4th drain must auto-fold; manifest: $folded")
    drainOne(5L) // next window opens fresh
    assert(AtomicWarehouse.committedEpochs(spark, wh).size == 2)
    // the fold changed read cost, never results
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(read.count() == 5)
    assert(read.where(col("k") === "3").head.getString(1) == "v3")
    // a second declaration is refused — the conf is table identity
    intercept[IllegalStateException] {
      AtomicWarehouse.declareWriteDefaults(spark, wh,
        Map("compactEvery" -> "9"))
    }
  }

  test("a drain replayed after a failed auto-fold folds on the replay") {
    val wh = tmp("aw_refold") + "/wh"
    AtomicWarehouse.declareWriteDefaults(spark, wh,
      Map("compactEvery" -> "2", "mergeKey" -> "k"))
    def epoch(seq: Long) = Seq((seq, s"v$seq", seq)).toDF("k", "v", "load_seq")
    AtomicWarehouse.commitEpoch(spark, wh, epoch(1L), 1L)
    // the seam throws at the fold's CAS only: by then epoch_2 is durable
    val err = intercept[IllegalStateException] {
      CommitSeam.around(
        if (AtomicWarehouse.committedEpochs(spark, wh).contains("epoch_2"))
          throw new IllegalStateException("fold CAS lost"))(
        AtomicWarehouse.commitEpoch(spark, wh, epoch(2L), 2L))
    }
    assert(err.getMessage == "fold CAS lost")
    assert(AtomicWarehouse.committedEpochs(spark, wh) ==
      Seq("epoch_1", "epoch_2"))
    AtomicWarehouse.commitEpoch(spark, wh, epoch(2L), 2L) // the replay
    val folded = AtomicWarehouse.committedEpochs(spark, wh)
    assert(folded.size == 1 && folded.head.startsWith("compact_v"),
      s"the replay must retry the owed fold; manifest: $folded")
    assert(snapshot(wh) == Set((1L, "v1", 1L), (2L, "v2", 2L)))
  }

  test("column mapping: rename reads old+new epochs as ONE column, zero rewrites") {
    val wh = tmp("aw_colmap") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, "a1", 1L), (2L, "a2", 1L)).toDF("k", "name", "load_seq"), 1L)
    AtomicWarehouse.renameColumn(spark, wh, "name", "title") // v2: directive
    // zero data I/O: epoch_1's parquet is untouched, one manifest entry
    val names = AtomicWarehouse.committedEpochs(spark, wh)
    assert(names.exists(AtomicWarehouse.isColMap), names)
    // a post-rename drain commits under the NEW name
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((2L, "b2", 2L), (3L, "b3", 2L)).toDF("k", "title", "load_seq"), 3L)
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(read.columns.toSeq == Seq("k", "title", "load_seq"),
      read.columns.toSeq)
    assert(read.select("k", "title").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b2"), (3L, "b3")),
      "old epoch values must serve under the new name, merged last-wins")
    // time travel BEFORE the directive serves the original name
    assert(AtomicWarehouse.readVersion(spark, wh, "k", 1L)
      .columns.contains("name"))
    // chained rename composes
    AtomicWarehouse.renameColumn(spark, wh, "title", "label")
    assert(AtomicWarehouse.read(spark, wh, "k")
      .select("k", "label").count() == 3)
    // refusals: onto an existing column, unknown column, merge-key guard
    intercept[IllegalArgumentException] {
      AtomicWarehouse.renameColumn(spark, wh, "label", "k")
    }
    intercept[IllegalArgumentException] {
      AtomicWarehouse.renameColumn(spark, wh, "ghost", "x")
    }
    intercept[IllegalArgumentException] {
      AtomicWarehouse.renameColumn(spark, wh, "load_seq", "seq2")
    }
    // compaction MATERIALIZES the mapping and folds the directives away
    AtomicWarehouse.compact(spark, wh, "k")
    val folded = AtomicWarehouse.committedEpochs(spark, wh)
    assert(!folded.exists(AtomicWarehouse.isColMap), folded)
    assert(AtomicWarehouse.read(spark, wh, "k")
      .columns.toSeq == Seq("k", "label", "load_seq"))
  }

  test("column mapping: drop masks old values; a re-added name is a NEW column") {
    val wh = tmp("aw_colmapdrop") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, "secret1", 1L), (2L, "secret2", 1L))
        .toDF("k", "note", "load_seq"), 1L)
    AtomicWarehouse.dropColumn(spark, wh, "note") // v2: projection mask
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(!read.columns.contains("note"), read.columns.toSeq)
    assert(read.count() == 2)
    // re-adding the NAME is a new column: old values stay masked
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((3L, "fresh", 2L)).toDF("k", "note", "load_seq"), 2L)
    val after = AtomicWarehouse.read(spark, wh, "k")
    assert(after.columns.contains("note"))
    val notes = after.select("k", "note").as[(Long, Option[String])]
      .collect().toMap
    assert(notes == Map(1L -> None, 2L -> None, 3L -> Some("fresh")),
      s"dropped values must not resurrect under the re-added name: $notes")
    // time travel before the drop still serves the original values
    assert(AtomicWarehouse.readVersion(spark, wh, "k", 1L)
      .select("note").as[String].collect().toSet ==
      Set("secret1", "secret2"))
  }

  test("tombstone-only typed merge leaves a replay marker; replay stacks nothing") {
    val wh = tmp("aw_tombonly") + "/wh"
    AtomicWarehouse.commitEpoch(spark, wh,
      (1L to 10L).map(i => (i, s"n$i", 1L)).toDF("k", "v", "load_seq"), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    val empty = Seq.empty[(Long, String, Long)].toDF("k", "v", "load_seq")
    def mergeOnce(): Unit = AtomicWarehouse.commitMergeTyped(spark, wh,
      "merge_v1_feedf00d", empty, empty, None, 2L, "k", "long",
      tombKeys = Seq("5", "6"), statsKey = Some("k"),
      statsCols = Seq("load_seq"), bloomKey = Some("k"))
    mergeOnce() // a WHEN NOT MATCHED BY SOURCE-only merge: both branches empty
    assert(AtomicWarehouse.currentVersion(spark, wh) == 2L)
    val names1 = AtomicWarehouse.committedEpochs(spark, wh)
    assert(names1.contains("merge_v1_feedf00d"),
      s"zero-row marker entry must be committed: $names1")
    assert(names1.count(AtomicWarehouse.isTombstone) == 1, names1)
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 8)
    // replay of the SAME merge at the SAME base: converges on the marker
    // name — no new manifest version, no second tombstone of the keys
    mergeOnce()
    assert(AtomicWarehouse.currentVersion(spark, wh) == 2L,
      "replay must not commit a new version")
    assert(AtomicWarehouse.committedEpochs(spark, wh) == names1,
      "replay must not stack redundant tombstones")
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 8)
  }
}
