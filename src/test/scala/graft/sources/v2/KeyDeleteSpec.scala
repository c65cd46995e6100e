package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** A key-identity SQL `DELETE … WHERE key IN (…)` is one tombstone
  * commit, and point lookups prune what a tombstone hides: the DELETE's
  * jobs and files, the compliance end state after compact + vacuum, and
  * lookups that equal both the full snapshot filtered to the key and
  * the same fixture deleted by the copy-on-write purge. */
class KeyDeleteSpec extends SparkSuite {
  import spark.implicits._

  /** A fresh catalog `cat` with merge key `key`, and its table `t`'s dir
    * (one catalog name per fixture: Spark caches catalog instances). */
  private def table(cat: String, key: String): String = {
    val r = java.nio.file.Files.createTempDirectory(cat).toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", r)
    spark.conf.set(s"spark.sql.catalog.$cat.mergeKey", key)
    s"$r/t"
  }

  private def commit(dir: String, df: DataFrame, seq: Long,
      key: String): Unit =
    AtomicWarehouse.commitEpoch(spark, dir, df, seq, statsKey = Some(key),
      bloomKey = Some(key))

  /** Keys `v<id>` (4 digits) for `ids`, named `<tag>-<id>`. */
  private def vids(ids: Seq[Int], seq: Long, tag: String): DataFrame =
    ids.map(i => (f"v$i%04d", s"$tag-$i", seq)).toDF("vid", "name", "load_seq")

  /** 4 epochs × 200 rows, each overlapping the previous one by 50 keys. */
  private def fourEpochs(dir: String): Unit =
    for (e <- 0 until 4)
      commit(dir, vids(e * 150 + 1 to e * 150 + 200, e + 1L, s"e${e + 1}"),
        e + 1L, "vid")

  private def entryDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The lookup's warehouse scan, as planned (the driver answers a
    * pinned lookup from it, so the executed plan may hold no scan). */
  private def scanOf(df: DataFrame): WarehouseScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[WarehouseScan]
    }.get

  private def plannedFiles(df: DataFrame): Seq[WarehouseFilePartition] =
    scanOf(df).planInputPartitions().toSeq.flatMap {
      case f: WarehouseFilePartition => Seq(f)
      case m: WarehouseFilesPartition => m.files.toSeq
      case _ => Nil
    }

  private def plannedPaths(df: DataFrame): Seq[String] =
    plannedFiles(df).map(_.path)

  /** The bench's lookup shape: the key's last-wins row over the
    * connector. */
  private def lookupSql(cat: String, pred: String, parts: String,
      asOf: String = ""): DataFrame = spark.sql(
    s"""SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY $parts
       |  ORDER BY load_seq DESC, _pos DESC) rn
       |  FROM $cat.t $asOf WHERE $pred) WHERE rn = 1""".stripMargin)
    .drop("rn")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a 2-key SQL DELETE is one tombstone commit: 2 jobs, no epoch " +
      "rewritten, one new entry dir") {
    val dir = table("whkdj", "vid")
    fourEpochs(dir)
    val before = AtomicWarehouse.committedEpochs(spark, dir)
    val dirsBefore = entryDirs(dir)
    val jobs = jobsFiredBy(
      spark.sql("DELETE FROM whkdj.t WHERE vid IN ('v0160', 'v0480')"))
    val after = AtomicWarehouse.committedEpochs(spark, dir)
    // every epoch stays as committed; the one new entry is the tombstone
    assert(after.init == before && AtomicWarehouse.isTombstone(after.last) &&
      !AtomicWarehouse.isNoopTombstone(after.last), after)
    assert((entryDirs(dir) -- dirsBefore) == Set(after.last),
      s"one new entry dir: ${entryDirs(dir) -- dirsBefore}")
    // the key-list write and the suppression count (copy-on-write: 10)
    assert(jobs == 2, s"key DELETE fired $jobs jobs")
    assert(spark.sql("SELECT count(*) FROM whkdj.t WHERE vid IN " +
      "('v0160', 'v0480')").head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM whkdj.t").head.getLong(0) ==
      800L - 4L)
  }

  test("compliance: SQL key DELETE, compact, vacuum leave no parquet " +
      "file holding the key; history holds it until the vacuum") {
    val dir = table("whkdc", "vid")
    fourEpochs(dir)
    val pre = AtomicWarehouse.currentVersion(spark, dir)
    spark.sql("DELETE FROM whkdc.t WHERE vid IN ('v0160', 'v0480')")
    assert(spark.sql(s"SELECT count(*) FROM whkdc.t VERSION AS OF $pre " +
      "WHERE vid = 'v0160'").head.getLong(0) == 2L)
    AtomicWarehouse.compact(spark, dir, "vid", statsKey = Some("vid"),
      bloomKey = Some("vid"))
    AtomicWarehouse.vacuum(spark, dir, retainVersions = 1, graceMs = 0L)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    for (f <- files) {
      val df = spark.read.parquet(f)
      assert(!df.columns.contains("vid") ||
        df.where(col("vid").isin("v0160", "v0480")).isEmpty, f)
    }
    assert(spark.sql("SELECT count(*) FROM whkdc.t").head.getLong(0) ==
      650L - 2L)
  }

  /** One lookup fixture: `build(catalog, dir, tombstone)` builds the
    * table, deleting through the tombstone path or the copy-on-write
    * purge; `cases` are (name, key predicate, engine point read).
    * Version `before` precedes the delete (0: the predicates do not
    * resolve before it). */
  private case class Fixture(catKey: String, key: String, parts: String,
      build: (String, String, Boolean) => Unit,
      cases: Seq[(String, String, String => DataFrame)], before: Long)

  private val fixtures: Seq[(String, Fixture)] = Seq(
    // v1-v2 a string key; v3 deletes v0012 and v0025; v4 re-adds v0012
    "string key" -> Fixture("vid", "vid", "vid",
      (cat, dir, tomb) => {
        commit(dir, vids(1 to 20, 1L, "e1"), 1L, "vid")
        commit(dir, vids(10 to 30, 2L, "e2"), 2L, "vid")
        if (tomb) spark.sql(s"DELETE FROM $cat.t WHERE vid IN ('v0012', 'v0025')")
        else AtomicWarehouse.purgeKeysStr(spark, dir, "vid",
          Seq("v0012", "v0025"), statsKey = Some("vid"), bloomKey = Some("vid"))
        commit(dir, vids(Seq(12), 3L, "re"), 3L, "vid")
      },
      Seq("v0012", "v0025", "v0015", "v0001", "v0099").map(v =>
        (v, s"vid = '$v'", (dir: String) =>
          AtomicWarehouse.readPointStr(spark, dir, "vid", v))), 2L),
    // a LONG tombstone of 5 over a string key holding "5" and "05"
    "long tombstone over a string key" -> Fixture("k", "k", "k",
      (_, dir, tomb) => {
        commit(dir, Seq(("5", "a", 1L), ("05", "b", 1L), ("6", "c", 1L))
          .toDF("k", "name", "load_seq"), 1L, "k")
        if (tomb) AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L))
        else AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(5L),
          statsKey = Some("k"), bloomKey = Some("k"))
      },
      Seq("5", "05", "6").map(v => (v, s"k = '$v'", (dir: String) =>
        AtomicWarehouse.readPointStr(spark, dir, "k", v))) ++
        Seq(5L, 6L).map(v => (s"long $v", s"CAST(k AS BIGINT) = $v",
          (dir: String) => AtomicWarehouse.readPoint(spark, dir, "k", v))),
      1L),
    // the key column renamed k → id after the DELETE
    "key renamed after the tombstone" -> Fixture("k", "id", "id",
      (cat, dir, tomb) => {
        commit(dir, (1L to 10L).map(i => (i, s"e1-$i", 1L))
          .toDF("k", "name", "load_seq"), 1L, "k")
        commit(dir, (5L to 12L).map(i => (i, s"e2-$i", 2L))
          .toDF("k", "name", "load_seq"), 2L, "k")
        if (tomb) spark.sql(s"DELETE FROM $cat.t WHERE k IN (3, 8)")
        else AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(3L, 8L),
          statsKey = Some("k"), bloomKey = Some("k"))
        AtomicWarehouse.renameColumn(spark, dir, "k", "id")
      },
      Seq(3L, 8L, 6L, 1L).map(v => (s"id $v", s"id = $v", (dir: String) =>
        AtomicWarehouse.readPoint(spark, dir, "id", v))), 0L),
    // a composite key (grp, k): the predicate path's composite tombstone
    "composite key" -> Fixture("grp,k", "grp,k", "grp, k",
      (cat, dir, tomb) => {
        commit(dir, (for (g <- Seq("g", "h"); i <- 1L to 8L)
          yield (g, i, s"$g-$i", 1L)).toDF("grp", "k", "name", "load_seq"),
          1L, "grp,k")
        if (tomb) spark.sql(s"DELETE FROM $cat.t WHERE grp = 'g' AND k = 5")
        else AtomicWarehouse.purgeKeysStr(spark, dir, "grp,k",
          Seq(Seq("g", "5").mkString(AtomicWarehouse.CompositeSep)),
          statsKey = Some("grp,k"), bloomKey = Some("grp,k"))
      },
      Seq(("g", 5L), ("h", 5L), ("g", 6L)).map { case (g, v) =>
        (s"$g/$v", s"grp = '$g' AND k = $v", (dir: String) =>
          AtomicWarehouse.readPointComposite(spark, dir, "grp,k",
            Seq(g, v.toString)))
      }, 1L))

  test("lookups equal the snapshot filtered to the key and the " +
      "copy-on-write delete's answers (deleted, re-added, long over " +
      "string, renamed, composite, VERSION AS OF)") {
    for (((name, fx), i) <- fixtures.zipWithIndex) {
      val answers = Seq(true, false).map { tomb =>
        val cat = s"whkdl$i${if (tomb) "t" else "c"}"
        val dir = table(cat, fx.catKey)
        fx.build(cat, dir, tomb)
        fx.cases.map { case (c, pred, point) =>
          val snap = rowsOf(AtomicWarehouse.read(spark, dir, fx.key)
            .where(expr(pred)))
          val sql = rowsOf(lookupSql(cat, pred, fx.parts))
          val eng = rowsOf(point(dir))
          assert(sql == snap && eng == snap,
            s"$name/$c (tombstone $tomb): sql $sql engine $eng snapshot $snap")
          if (fx.before > 0) {
            val was = rowsOf(AtomicWarehouse.readVersion(spark, dir, fx.key,
              fx.before).where(expr(pred)))
            assert(rowsOf(lookupSql(cat, pred, fx.parts,
              s"VERSION AS OF ${fx.before}")) == was,
              s"$name/$c VERSION AS OF ${fx.before}")
          }
          c -> snap
        }
      }
      assert(answers.head == answers(1),
        s"$name: tombstone ${answers.head} copy-on-write ${answers(1)}")
    }
  }

  test("a deleted key's lookup opens no file (readPointStr: no job); a " +
      "live key's lookup applies no drops (readPointStr: no anti-join)") {
    val fx = fixtures.head._2
    val dir = table("whkdp", fx.key)
    fx.build("whkdp", dir, true)
    val deleted = lookupSql("whkdp", "vid = 'v0025'", "vid")
    assert(plannedPaths(deleted).isEmpty && deleted.isEmpty)
    // both lookups of the deleted key are answered on the driver
    assert(jobsFiredBy(lookupSql("whkdp", "vid = 'v0025'", "vid")
      .collect()) == 0)
    assert(jobsFiredBy(AtomicWarehouse.readPointStr(spark, dir, "vid",
      "v0025").collect()) == 0)
    // deleted then re-added: only the re-adding epoch is opened
    val readded = plannedPaths(lookupSql("whkdp", "vid = 'v0012'", "vid"))
    assert(readded.nonEmpty && readded.forall(_.contains("/epoch_3/")),
      readded)
    // a live key in epochs the tombstone follows: read without drops
    val live = plannedFiles(lookupSql("whkdp", "vid = 'v0015'", "vid"))
    assert(live.nonEmpty && live.forall(!_.applyDrops), live.map(_.path))
    def joins(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }
    // live keys no tombstone names, and the re-added key, whose
    // tombstone precedes every entry the lookup scans
    for (v <- Seq("v0015", "v0001", "v0012"))
      assert(joins(AtomicWarehouse.readPointStr(spark, dir, "vid", v))
        .isEmpty, v)
    // a full read still applies the tombstone, as a filter, not a join
    val full = AtomicWarehouse.read(spark, dir, "vid")
    assert(joins(full).isEmpty &&
      full.where(col("vid").isin("v0025", "v0012")).collect()
        .map(_.getString(1)).toSeq == Seq("re-12"))
  }

  test("a full read with one 2-key tombstone outstanding applies it " +
      "as a filter, with no Spark job of its own: 2 jobs") {
    val dir = table("whkdr", "vid")
    fourEpochs(dir)
    spark.sql("DELETE FROM whkdr.t WHERE vid IN ('v0160', 'v0480')")
    var rows = 0L
    // the last-wins window's two stages (local[4], 4 shuffle
    // partitions); the tombstone's filter adds none
    val jobs = jobsFiredBy {
      rows = AtomicWarehouse.read(spark, dir, "vid").collect().length
    }
    assert(rows == 650L - 2L)
    assert(jobs == 2, s"the full read fired $jobs jobs")
  }
}
