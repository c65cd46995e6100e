package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's reads against a model built from plain parquet reads:
  * each data epoch read with `spark.read.parquet`, renames and drops
  * applied by hand, the epochs folded with `unionByName(allowMissingColumns
  * = true)`, tombstone keys anti-joined by manifest position and
  * `row_number() = 1` kept per key, ordered by `load_seq` then position.
  * Engine reads and the connector's SQL reads share one scan, so only an
  * independent model catches a mistake they share. */
class ReadModelSpec extends SparkSuite {
  import spark.implicits._
  import ReadModelSpec._

  /** The fixture: its dir and every non-data entry's meaning, by name. */
  private lazy val (dir, ops, versions) = {
    val dir = java.nio.file.Files.createTempDirectory("readmodel")
      .toString + "/wh"
    val ops = scala.collection.mutable.Map.empty[String, Op]
    def entries = AtomicWarehouse.committedEpochs(spark, dir)
    def logged(op: Op)(commit: => Unit): Unit = {
      val before = entries.toSet
      commit
      entries.filterNot(before).foreach(ops(_) = op)
    }
    def month(k: Long) = if (k % 2 == 0) "2024-05" else "2024-06"
    def grp(k: Long) = s"g${k % 3}"
    def rows(ks: Seq[Long], tag: String, seq: Long) =
      ks.map(k => (k, grp(k), s"$tag$k", k * 1.5, month(k), seq))
    def epoch(df: DataFrame, seq: Long, partitioned: Boolean = false) =
      AtomicWarehouse.commitEpoch(spark, dir, df, seq,
        statsKey = Some("k"), bloomKey = Some("k"),
        partitionBy = if (partitioned) Seq("month") else Nil)
    epoch(rows(1L to 20L, "a", 1L)
      .toDF("k", "grp", "name", "score", "month", "load_seq"), 1L)
    // a hive-partitioned epoch beside flat ones
    epoch(rows(10L to 30L, "b", 2L)
      .toDF("k", "grp", "name", "score", "month", "load_seq"), 2L,
      partitioned = true)
    logged(Rename("name", "title")) {
      AtomicWarehouse.renameColumn(spark, dir, "name", "title")
    }
    // an additive column, under the renamed name
    epoch(rows(25L to 35L, "c", 3L)
      .toDF("k", "grp", "title", "score", "month", "load_seq")
      .withColumn("extra", concat(lit("x"), col("k").cast("string"))), 3L)
    val beforeTomb = AtomicWarehouse.currentVersion(spark, dir)
    // a deferred tombstone: 5 re-added after it, 31 not
    logged(Tomb(Set(5L, 12L, 31L))) {
      AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L, 12L, 31L))
    }
    // load_seq 3 again for 30: the later entry wins the tie
    epoch(rows(Seq(5L, 30L), "d", 3L)
      .toDF("k", "grp", "title", "score", "month", "load_seq"), 4L)
    val beforeDrop = AtomicWarehouse.currentVersion(spark, dir)
    logged(Drop("score")) { AtomicWarehouse.dropColumn(spark, dir, "score") }
    // a re-added `score` is a new column: older values stay masked
    epoch(rows(Seq(7L, 40L), "e", 5L)
      .toDF("k", "grp", "title", "score", "month", "load_seq")
      .withColumn("extra", lit("y")), 5L)
    (dir, ops.toMap,
      Seq(beforeTomb, beforeDrop, AtomicWarehouse.currentVersion(spark, dir)))
  }

  /** The modelled last-wins view at `version`, merged on `key`, with
    * `pred` applied below the merge. */
  private def model(version: Long, key: Seq[String],
      pred: DataFrame => org.apache.spark.sql.Column = _ => lit(true))
      : DataFrame = {
    val names = AtomicWarehouse.committedEpochsAt(spark, dir, version)
    val data = names.zipWithIndex.filterNot(e => ops.contains(e._1)).map {
      case (name, pos) =>
        val read = spark.read.parquet(s"$dir/$name")
        names.drop(pos + 1).flatMap(ops.get).foldLeft(read) {
          case (df, Rename(from, to)) => df.withColumnRenamed(from, to)
          case (df, Drop(c)) => df.drop(c)
          case (df, _) => df
        }.withColumn("__pos", lit(pos))
    }
    val log = data.reduce(_.unionByName(_, allowMissingColumns = true))
    val live = names.zipWithIndex.foldLeft(log) {
      case (df, (name, tp)) => ops.get(name) match {
        case Some(Tomb(keys)) =>
          df.where(!(col("__pos") < tp && col("k").isin(keys.toSeq: _*)))
        case _ => df
      }
    }
    live.where(pred(live))
      .withColumn("__rn", row_number().over(Window.partitionBy(key.map(col): _*)
        .orderBy(col("load_seq").desc, col("__pos").desc)))
      .where(col("__rn") === 1).drop("__rn", "__pos")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def same(what: String, engine: DataFrame, expected: DataFrame): Unit = {
    assert(engine.columns.toSeq == expected.columns.toSeq,
      s"$what: columns ${engine.columns.toSeq} vs ${expected.columns.toSeq}")
    val (got, want) = (rows(engine), rows(expected))
    assert(got == want, s"$what:\n engine $got\n model  $want")
  }

  test("read, readVersion, readRangeOn and readPoint* equal the model: " +
      "a rename, a drop, an additive column, a deferred tombstone, a " +
      "hive-partitioned epoch, a load_seq tie") {
    val Seq(beforeTomb, beforeDrop, current) = versions
    // what the fixture was built to hold, model aside: the tie's later
    // entry, a re-added key, a deleted one, a masked and a re-added score
    def point(k: Long) = AtomicWarehouse.readPoint(spark, dir, "k", k)
      .select("title", "score").collect().map(r => s"${r.get(0)}/${r.get(1)}")
      .toSeq
    assert(Seq(30L, 5L, 12L, 7L, 20L).map(point) == Seq(Seq("d30/null"),
      Seq("d5/null"), Nil, Seq("e7/10.5"), Seq("b20/null")))
    same("read", AtomicWarehouse.read(spark, dir, "k"), model(current, Seq("k")))
    Seq(beforeTomb, beforeDrop).foreach { v =>
      same(s"readVersion $v", AtomicWarehouse.readVersion(spark, dir, "k", v),
        model(v, Seq("k")))
    }
    same("readRangeOn month", AtomicWarehouse.readRangeOn(spark, dir, "k",
      "month", "2024-05", "2024-05"),
      model(current, Seq("k"), _ => col("month") === "2024-05"))
    // deleted, deleted and re-added, a tie, two epochs, absent
    Seq(12L, 31L, 5L, 30L, 15L, 99L).foreach { k =>
      val want = model(current, Seq("k"), _ => col("k") === k)
      same(s"readPoint $k", AtomicWarehouse.readPoint(spark, dir, "k", k), want)
      same(s"readPointStr $k",
        AtomicWarehouse.readPointStr(spark, dir, "k", k.toString), want)
      val g = s"g${k % 3}"
      same(s"readPointComposite $g/$k",
        AtomicWarehouse.readPointComposite(spark, dir, "grp,k",
          Seq(g, k.toString)),
        model(current, Seq("grp", "k"),
          _ => col("grp") === g && col("k") === k))
    }
  }
}

object ReadModelSpec {
  /** A non-data manifest entry's meaning. */
  private sealed trait Op
  private final case class Rename(from: String, to: String) extends Op
  private final case class Drop(c: String) extends Op
  private final case class Tomb(keys: Set[Long]) extends Op
}
