package graft.sinks

import graft.SparkSuite
import graft.sources.v2.WarehouseScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What the connector's one pruning verdict plans for the engine's reads
  * ([[WarehouseScan.plannedEpochs]] on the read's own plan), where the
  * literal's type and the key's stored type differ, and at the epoch
  * counts the README quotes. */
class PruningSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/wh"

  private def plannedEpochs(df: DataFrame): Seq[String] =
    WarehouseScan.of(df).flatMap(_.plannedEpochs())

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("readRange on a string-stored key equals the read filtered by the " +
      "key's cast: lexicographic stats do not bound the cast") {
    val wh = tmp("prune_strrange")
    def ep(seq: Long, ks: Seq[String]): Unit =
      AtomicWarehouse.commitEpoch(spark, wh,
        ks.map(k => (k, s"v$k", seq)).toDF("k", "v", "load_seq"), seq,
        statsKey = Some("k"))
    ep(1L, Seq("2", "5", "9"))
    ep(2L, Seq("20", "30"))
    val ranged = AtomicWarehouse.readRange(spark, wh, "k", 1L, 10L)
    // "2" sorts after "10": a string zone map cannot prune a long range
    assert(plannedEpochs(ranged) == Seq("epoch_1", "epoch_2"))
    val want = AtomicWarehouse.read(spark, wh, "k")
      .where(col("k").cast("long").between(1, 10))
    assert(rows(ranged) == rows(want))
    assert(rows(ranged.select("k")) == Seq("[2]", "[5]", "[9]"))
  }

  test("a string tombstone of \"7\" hides neither readPoint(7) nor " +
      "readPointStr(\"07\") from a stored \"07\"") {
    val wh = tmp("prune_render")
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq(("07", "a", 1L), ("8", "b", 1L)).toDF("k", "v", "load_seq"), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.purgeKeysDeferredStr(spark, wh, "k", Seq("7"))
    def keys(df: DataFrame) = df.select("k").as[String].collect().toSeq
    // the long lookup admits every rendering that casts to 7; the string
    // drop removes only the rendering "7"
    assert(keys(AtomicWarehouse.readPoint(spark, wh, "k", 7L)) == Seq("07"))
    assert(keys(AtomicWarehouse.readPointStr(spark, wh, "k", "07")) ==
      Seq("07"))
    assert(keys(AtomicWarehouse.readPointStr(spark, wh, "k", "7")).isEmpty)
  }

  test("readPointStr of a non-numeric value plans no epoch of a long key") {
    val wh = tmp("prune_nonnum")
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((7L, "a", 1L)).toDF("k", "v", "load_seq"), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    val miss = AtomicWarehouse.readPointStr(spark, wh, "k", "abc")
    assert(plannedEpochs(miss).isEmpty)
    assert(miss.count() == 0)
    // a parsing rendering compares numerically
    assert(plannedEpochs(AtomicWarehouse.readPointStr(spark, wh, "k", "7")) ==
      Seq("epoch_1"))
  }

  test("readRangeOn an integral column compares numerically, pruned or not") {
    val wh = tmp("prune_intrange")
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((1L, 61L, 1L), (2L, 650L, 1L)).toDF("k", "score", "load_seq"), 1L)
    AtomicWarehouse.commitEpoch(spark, wh,
      Seq((3L, 61L, 2L)).toDF("k", "score", "load_seq"), 2L)
    // "61" sorts between "600" and "700"; 61 is outside [600, 700]
    val ranged = AtomicWarehouse.readRangeOn(spark, wh, "k", "score",
      "600", "700")
    assert(plannedEpochs(ranged) == Seq("epoch_1"))
    assert(rows(ranged.select("k")) == Seq("[2]"))
  }

  test("a readRangeOn month window over 10 epochs plans 1 epoch") {
    val wh = tmp("prune_months")
    for (m <- 1 to 10)
      AtomicWarehouse.commitEpoch(spark, wh,
        (1 to 20).map(d => (m * 100L + d, f"2024-$m%02d-$d%02d", m.toLong))
          .toDF("k", "pub", "load_seq"), m.toLong,
        statsKey = Some("k"), statsCols = Seq("pub"))
    val may = AtomicWarehouse.readRangeOn(spark, wh, "k", "pub",
      "2024-05-01", "2024-05-31")
    assert(plannedEpochs(may) == Seq("epoch_5"))
    assert(may.count() == 20)
  }

  test("a composite lookup over 40 epochs plans 1 epoch") {
    val wh = tmp("prune_composite")
    for (seq <- 1L to 40L)
      AtomicWarehouse.commitEpoch(spark, wh,
        (0L until 20L).map(id => (s"g$seq", id, s"n$seq-$id", seq))
          .toDF("grp", "id", "name", "load_seq"), seq,
        statsKey = Some("grp,id"))
    // every epoch holds id 7: only the group part prunes
    val hit = AtomicWarehouse.readPointComposite(spark, wh, "grp,id",
      Seq("g21", "7"))
    assert(plannedEpochs(hit) == Seq("epoch_21"))
    assert(hit.select("name").as[String].collect().toSeq == Seq("n21-7"))
  }
}
