package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Key-pinned reads answered on the driver equal the scan path and the
  * snapshot: every fixture is built twice with the same rows and the
  * same manifest — "narrow", one file per epoch with key stats and
  * blooms, whose lookups plan within the driver bound and run no Spark
  * job; and "wide", eight files per epoch and no key pruning, whose
  * lookups plan past [[WarehouseConnector.DriverMaxFiles]] and run as
  * scans — and each lookup (catalog SQL, and the engine's `readPoint*`
  * where one fits) must equal on both and equal
  * [[AtomicWarehouse.read]] filtered to the key. */
class DriverAnswerSpec extends SparkSuite {

  /** Catalogs `<cat><keyName>` over one fresh root, one per merge key
    * the fixture looks up by (Spark caches catalog instances by name);
    * returns the table dir. */
  private def tables(cat: String, keys: Seq[String]): String = {
    val r = java.nio.file.Files.createTempDirectory(cat).toString
    keys.foreach { k =>
      val name = cat + k.replace(",", "")
      spark.conf.set(s"spark.sql.catalog.$name",
        "graft.sources.v2.WarehouseCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.root", r)
      spark.conf.set(s"spark.sql.catalog.$name.mergeKey", k)
    }
    s"$r/t"
  }

  private def frame(schema: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType.fromDDL(schema))

  /** One fixture: its merge keys in commit order (a rename changes it),
    * `build(dir, commit, delete)` and its cases — (name, key predicate,
    * engine point read, `VERSION AS OF` to read at). */
  private case class Fixture(keys: Seq[String],
      build: (String, (DataFrame, Long) => Unit, String => Unit) => Unit,
      cases: Seq[(String, String, Option[String => DataFrame], Option[Long])])

  /** Eight filler keys of epoch `seq`, among them keys below and above
    * every looked-up one, so that zone maps prune nothing (every
    * fixture's epochs carry such keys: commits record zone maps for
    * every eligible column). */
  private def filler(seq: Long): Seq[Row] =
    (Seq("v00", "v99") ++ (0 until 6).map(i => s"f$seq$i"))
      .map(v => Row(v, s"e$seq-$v", seq))

  private val vid = "vid STRING, name STRING, load_seq BIGINT"
  private def vids(seq: Long, ids: Int*): Seq[Row] =
    ids.map(i => Row(f"v$i%02d", s"e$seq-$i", seq))

  private val fixtures: Seq[(String, Fixture)] = Seq(
    "string key" -> Fixture(Seq("vid"), (dir, commit, delete) => {
      commit(frame(vid, vids(1, 1 to 20: _*) ++ filler(1) :+
        Row(null, "e1-null", 1L)), 1L)
      commit(frame(vid, vids(2, 10 to 30: _*) ++ filler(2) :+
        Row(null, "e2-null", 2L)), 2L)
      // v15 again at load_seq 2: the tie goes to the later entry
      commit(frame(vid, Seq(Row("v15", "e3-15", 2L)) ++ vids(3, 16) ++
        filler(3)), 3L)
      delete("vid IN ('v03', 'v04')")
      commit(frame(vid, vids(4, 4) ++ filler(4)), 4L)
      commit(frame(vid, filler(5)), 5L)
      commit(frame(vid, filler(6)), 6L)
    }, Seq(
      ("deleted", "vid = 'v03'", Some(d => AtomicWarehouse.readPointStr(
        spark, d, "vid", "v03")), None),
      ("deleted, re-added", "vid = 'v04'", Some(d =>
        AtomicWarehouse.readPointStr(spark, d, "vid", "v04")), None),
      ("versions in two epochs", "vid = 'v12'", Some(d =>
        AtomicWarehouse.readPointStr(spark, d, "vid", "v12")), None),
      ("load_seq tie", "vid = 'v15'", Some(d =>
        AtomicWarehouse.readPointStr(spark, d, "vid", "v15")), None),
      ("absent", "vid = 'v77'", Some(d =>
        AtomicWarehouse.readPointStr(spark, d, "vid", "v77")), None),
      ("null key beside", "vid IN ('v02', NULL)", None, None),
      ("2-key IN", "vid IN ('v12', 'v25')", None, None),
      ("VERSION AS OF", "vid = 'v03'", None, Some(3L)))),
    "long key renamed after the tombstone" -> Fixture(Seq("k", "id"),
      (dir, commit, delete) => {
        val kv = "k BIGINT, name STRING, load_seq BIGINT"
        def ks(seq: Long, ids: Seq[Long]) =
          frame(kv, (ids ++ Seq(0L, 1000L)).map(i => Row(i, s"e$seq-$i", seq)))
        commit(ks(1, 1L to 10L), 1L)
        commit(ks(2, 5L to 12L), 2L)
        delete("k IN (3, 8)")
        AtomicWarehouse.renameColumn(spark, dir, "k", "id")
        commit(ks(3, 8L +: (13L to 20L)).withColumnRenamed("k", "id"), 3L)
        commit(ks(4, 21L to 28L).withColumnRenamed("k", "id"), 4L)
        commit(ks(5, 29L to 36L).withColumnRenamed("k", "id"), 5L)
      }, Seq(3L, 8L, 6L, 1L).map(v => (s"id $v", s"id = $v",
        Some((d: String) => AtomicWarehouse.readPoint(spark, d, "id", v)),
        None))),
    "composite key" -> Fixture(Seq("grp,k"), (dir, commit, delete) => {
      val gk = "grp STRING, k BIGINT, name STRING, load_seq BIGINT"
      def gks(seq: Long, g: String, ids: Seq[Long]) =
        (ids.map(i => Row(g, i, s"e$seq-$g$i", seq)) ++
          Seq(Row("a", 0L, s"e$seq-a", seq), Row("z", 1000L, s"e$seq-z", seq)))
      commit(frame(gk, gks(1, "g", 1L to 8L) ++ gks(1, "h", 1L to 8L)), 1L)
      commit(frame(gk, gks(2, "g", 5L to 12L)), 2L)
      delete("grp = 'g' AND k = 5")
      (3L to 5L).foreach(s =>
        commit(frame(gk, gks(s, "x", s * 10 until s * 10 + 8)), s))
    }, Seq(("g", 5L), ("g", 6L), ("h", 5L)).map { case (g, v) =>
      (s"$g/$v", s"grp = '$g' AND k = $v", Some((d: String) =>
        AtomicWarehouse.readPointComposite(spark, d, "grp,k",
          Seq(g, v.toString))), None)
    }))

  private object AQE
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Sorted rows of `df`, the Spark jobs collecting it fired, and
    * whether a warehouse scan ran as Spark tasks. */
  private def run(df: => DataFrame): (Seq[String], Int, Boolean) = {
    var d: DataFrame = null
    var rows: Seq[String] = Nil
    val jobs = jobsFiredBy {
      d = df; rows = d.collect().map(_.toString).sorted.toSeq
    }
    (rows, jobs, AQE.find(d.queryExecution.executedPlan)(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.BatchScanExec]).isDefined)
  }

  private def lookupSql(cat: String, key: String, pred: String,
      asOf: Option[Long]): DataFrame = spark.sql(
    s"""SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY $key
       |  ORDER BY load_seq DESC, _pos DESC) rn
       |  FROM $cat${key.replace(",", "")}.t
       |  ${asOf.fold("")(v => s"VERSION AS OF $v")} WHERE $pred)
       |  WHERE rn = 1""".stripMargin).drop("rn")

  test("driver-answered lookups run no job and equal the scan path and " +
      "the filtered snapshot: deleted, re-added, several epochs, a " +
      "load_seq tie, absent, a null key, a 2-key IN, VERSION AS OF, a " +
      "renamed key, a composite key") {
    for (((name, fx), i) <- fixtures.zipWithIndex) {
      val built = Seq(false, true).map { wide =>
        val cat = s"whda$i${if (wide) "w" else "n"}"
        val dir = tables(cat, fx.keys)
        var key = fx.keys.head
        fx.build(dir,
          (df, seq) => AtomicWarehouse.commitEpoch(spark, dir,
            if (wide) df.repartition(8) else df.coalesce(1), seq,
            statsKey = if (wide) None else Some(key),
            bloomKey = if (wide) None else Some(key)),
          pred => {
            spark.sql(s"DELETE FROM $cat${key.replace(",", "")}.t WHERE $pred")
            key = fx.keys.last
          })
        (cat, dir)
      }
      val key = fx.keys.last
      for ((c, pred, point, asOf) <- fx.cases) {
        val snap = asOf.fold(AtomicWarehouse.read(spark, built.head._2, key))(
          v => AtomicWarehouse.readVersion(spark, built.head._2, key, v))
          .where(expr(pred)).collect().map(_.toString).sorted.toSeq
        val Seq((narrow, nJobs, nScan), (wide, _, wScan)) =
          built.map { case (cat, _) => run(lookupSql(cat, key, pred, asOf)) }
        // one pinned key: no job at all; an IN list keeps its window
        assert(!nScan && wScan && (pred.contains(" IN ") || nJobs == 0),
          s"$name/$c SQL: narrow scan $nScan ($nJobs jobs), wide scan $wScan")
        assert(narrow == snap && wide == snap,
          s"$name/$c SQL: narrow $narrow wide $wide snapshot $snap")
        point.foreach { read =>
          val Seq((narrow, nJobs, _), (wide, wJobs, _)) =
            built.map { case (_, dir) => run(read(dir)) }
          assert(nJobs == 0 && wJobs > 0,
            s"$name/$c engine: narrow $nJobs jobs, wide $wJobs jobs")
          assert(narrow == snap && wide == snap,
            s"$name/$c engine: narrow $narrow wide $wide snapshot $snap")
        }
      }
    }
  }
}
