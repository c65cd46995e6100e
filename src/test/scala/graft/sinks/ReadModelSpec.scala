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

  test("ScalaCheck: every readPoint*/readRange* verb equals a row model, " +
      "keys stored as long or as string (canonical, \" 7\", \"+7\", " +
      "\"07\"), blooms on and off, long, string and composite tombstones") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.Test.{check, Parameters}
    // few values, so renderings of one value meet across epochs,
    // tombstones and reads; two-digit ones order apart from their cast
    val key = for {
      n <- Gen.frequency(3 -> Gen.choose(1, 4), 1 -> Gen.choose(5, 12))
      r <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.const(1),
        1 -> Gen.const(2), 1 -> Gen.const(3))
      g <- Gen.choose(0, 1)
    } yield GenKey(n, r, g)
    def keys(min: Int, max: Int) =
      Gen.choose(min, max).flatMap(Gen.listOfN(_, key))
    def scenario(str: Boolean): Gen[Scenario] = {
      // one stored key per row of an epoch: last-wins needs a total order
      def stored(k: GenKey) = if (str) (k.n, k.r) else (k.n, 0)
      val epoch = for {
        ks <- keys(2, 6); tie <- Gen.oneOf(true, false)
      } yield (ks.distinctBy(stored), tie)
      for {
        epochs <- Gen.listOfN(4, epoch)
        tombs <- Gen.sequence[Seq[GenTomb], GenTomb](
          Seq("long", "string", "composite").map(t =>
            keys(1, 2).map(GenTomb(t, _))))
        order <- Gen.listOfN(5, Gen.choose(0, 1000))
        // mostly keys the warehouse holds or a tombstone names
        used = epochs.flatMap(_._1) ++ tombs.flatMap(_.keys)
        reads <- Gen.sequence[Seq[GenRead], GenRead](
          Seq("point", "pointStr", "composite", "range", "rangeOn").map(v =>
            for {
              k <- Gen.frequency(3 -> Gen.oneOf(used), 1 -> key)
              lo <- Gen.choose(0, 10); w <- Gen.choose(0, 6)
            } yield GenRead(v, k, lo, lo + w)))
      } yield {
        val seqd = epochs.zipWithIndex.map { case ((ks, tie), i) =>
          GenEpoch(ks, if (tie && i > 0) i.toLong else i + 1L) }
        // two epochs first, then the tombstones and the others in any order
        val rest = (seqd.drop(2) ++ tombs).zip(order).sortBy(_._2).map(_._1)
        // and every key a tombstone names, looked up both ways
        Scenario(seqd.take(2) ++ rest, reads ++ tombs.flatMap(_.keys)
          .flatMap(k => Seq(GenRead("point", k, 0, 0),
            GenRead("pointStr", k, 0, 0))))
      }
    }
    // (rendered key, group, name, score, load_seq, manifest position)
    type Row = (String, String, String, Long, Long, Int)
    def run(str: Boolean, bloom: Boolean, sc: Scenario): Prop = {
      val dir = java.nio.file.Files.createTempDirectory("readprop")
        .toString + "/wh"
      def stored(k: GenKey) = if (str) rendering(k.n, k.r) else k.n.toString
      var log = Vector.empty[Row]
      sc.ops.zipWithIndex.foreach {
        case (GenEpoch(ks, seq), pos) =>
          val rows = ks.map(k => (stored(k), s"g${k.g}", s"e$pos-${stored(k)}",
            k.n * 70L, seq, pos))
          log ++= rows
          val df = rows.map(r => (r._1, r._2, r._3, r._4, r._5))
            .toDF("k", "grp", "name", "score", "load_seq")
          AtomicWarehouse.commitEpoch(spark, dir,
            if (str) df else df.withColumn("k", col("k").cast("long")),
            pos + 1L, statsKey = Some("k"),
            bloomKey = if (bloom) Some("k") else None)
        case (GenTomb(kind, ks), pos) =>
          val drop: Row => Boolean = kind match {
            case "long" =>
              AtomicWarehouse.purgeKeysDeferred(spark, dir, "k",
                ks.map(_.n.toLong))
              r => AtomicWarehouse.sparkLongCast(r._1).exists(l =>
                ks.exists(_.n == l))
            case "string" =>
              val ss = ks.map(k => rendering(k.n, k.r))
              AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k", ss)
              r => ss.contains(r._1)
            case _ =>
              val cs = ks.map(k => Seq(s"g${k.g}", rendering(k.n, k.r)))
              AtomicWarehouse.purgeCompositeKeysDeferred(spark, dir, "grp,k", cs)
              r => cs.contains(Seq(r._2, r._1))
          }
          log = log.filterNot(r => r._6 < pos && drop(r))
      }
      def model(pred: Row => Boolean, merge: Row => Any): Seq[String] =
        log.filter(pred).groupBy(merge).values
          .map(_.maxBy(r => (r._5, r._6)))
          .map(r => s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}").toSeq.sorted
      def engine(df: DataFrame): Seq[String] =
        df.select(col("k").cast("string"), col("grp"), col("name"),
          col("score"), col("load_seq")).collect()
          .map(_.toSeq.mkString("|")).toSeq.sorted
      def asLong(r: Row) = AtomicWarehouse.sparkLongCast(r._1)
      val checks = sc.reads.map { case GenRead(verb, k, lo, hi) =>
        val s = rendering(k.n, k.r)
        val (what, got, want) = verb match {
          case "point" => (s"readPoint ${k.n}",
            AtomicWarehouse.readPoint(spark, dir, "k", k.n.toLong),
            model(asLong(_).contains(k.n.toLong), _._1))
          case "pointStr" => (s"readPointStr '$s'",
            AtomicWarehouse.readPointStr(spark, dir, "k", s),
            model(_._1 == s, _._1))
          case "composite" => (s"readPointComposite g${k.g}/'$s'",
            AtomicWarehouse.readPointComposite(spark, dir, "grp,k",
              Seq(s"g${k.g}", s)),
            model(r => r._2 == s"g${k.g}" && r._1 == s, r => (r._2, r._1)))
          case "range" => (s"readRange [$lo, $hi]",
            AtomicWarehouse.readRange(spark, dir, "k", lo, hi),
            model(asLong(_).exists(l => l >= lo && l <= hi), _._1))
          case _ => (s"readRangeOn score [${lo * 70}, ${hi * 70 - 5}]",
            AtomicWarehouse.readRangeOn(spark, dir, "k", "score",
              (lo * 70).toString, (hi * 70 - 5).toString),
            model(r => r._4 >= lo * 70 && r._4 <= hi * 70 - 5, _._1))
        }
        (what, engine(got), want)
      }
      // the tombstones' recorded suppression counts answer COUNT(*)
      val counted = spark.read.format("graft-warehouse").option("path", dir)
        .load().count()
      val bad = checks.filter(c => c._2 != c._3).map { case (w, g, m) =>
        s"$w:\n engine $g\n model  $m" } ++
        (if (counted == log.size) Nil
         else Seq(s"COUNT(*) $counted, model ${log.size}"))
      bad.isEmpty :| s"$sc\n${bad.mkString("\n")}"
    }
    for (str <- Seq(false, true); bloom <- Seq(false, true)) {
      val r = check(Parameters.default.withMinSuccessfulTests(3)
          .withWorkers(1).withInitialSeed(7919L),
        Prop.forAllNoShrink(scenario(str))(run(str, bloom, _)))
      assert(r.passed, s"string keys $str, blooms $bloom: ${r.status}")
    }
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

  /** A generated key: its value `n`, stored as `rendering(n, r)` when the
    * key column is a string, and its group `g`. */
  private final case class GenKey(n: Int, r: Int, g: Int)
  /** A generated commit: an epoch of distinct keys at `loadSeq`, or a
    * deferred tombstone of long, string or composite (`grp,k`) keys. */
  private sealed trait GenOp
  private final case class GenEpoch(keys: Seq[GenKey], loadSeq: Long)
      extends GenOp
  private final case class GenTomb(kind: String, keys: Seq[GenKey])
      extends GenOp
  /** A generated read: the verb and its arguments. */
  private final case class GenRead(verb: String, key: GenKey, lo: Int, hi: Int)
  private final case class Scenario(ops: Seq[GenOp], reads: Seq[GenRead])

  /** The canonical rendering and three that `try_cast` to the same long. */
  private def rendering(n: Int, r: Int): String =
    Seq(n.toString, s" $n", s"+$n", s"0$n")(r)
}
