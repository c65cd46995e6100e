package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.functions._

class ConstraintsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("violating drain is refused before anything is staged") {
    val wh = tmp("cons_refuse") + "/wh"
    Constraints.drainChecked(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      wh, 1L, Seq("k_pos" -> "k > 0"))
    assert(AtomicWarehouse.currentVersion(spark, wh) == 1L)
    // epoch 2 carries a violation: k = -7
    val e = intercept[ConstraintViolationException] {
      Constraints.drainChecked(spark, Seq((3L, "c"), (-7L, "bad")).toDF("k", "v"),
        wh, 2L, Seq("k_pos" -> "k > 0"))
    }
    assert(e.getMessage.contains("k_pos=1"))
    // nothing moved: no new version, no epoch dir
    assert(AtomicWarehouse.currentVersion(spark, wh) == 1L)
    assert(!new java.io.File(s"$wh/epoch_2").exists())
    // fixing the batch lets the same drain proceed
    Constraints.drainChecked(spark, Seq((3L, "c"), (7L, "good")).toDF("k", "v"),
      wh, 2L, Seq("k_pos" -> "k > 0"))
    assert(AtomicWarehouse.currentVersion(spark, wh) == 2L)
    assert(AtomicWarehouse.read(spark, wh, "k").count() == 4)
  }

  test("UNKNOWN passes, FALSE violates (SQL CHECK semantics)") {
    val df = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"), (-1L, "z"))
      .toDF("k", "v")
    val report = Constraints.violationReport(df, Seq("k_pos" -> "k > 0"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // null k => UNKNOWN => passes; only k = -1 violates
    assert(report == Map("k_pos" -> 1L))
  }

  test("constraint names are data, not SQL — hostile names round-trip") {
    val df = Seq((1L, "x"), (-1L, "y")).toDF("k", "v")
    val name = """k's "check" `with` everything, even commas"""
    val report = Constraints.violationReport(df,
        Seq(name -> "k > 0", name -> "k >= 0")) // duplicate name is fine too
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(report.length == 2 && report.forall(r => r._1 == name && r._2 == 1L))
  }

  test("check and drain see ONE snapshot: late staging files cannot slip past the gate") {
    val base = tmp("cons_snapshot")
    val staging = s"$base/staging"; val wh = s"$base/wh"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(staging)
    // the epoch frame is a parquet read: its file listing is fixed when
    // the DataFrame is created. A concurrent writer lands a VIOLATING file
    // between the audit and the commit (the afterCheck seam fires in
    // exactly that window): the committed rows must be the audited rows
    // — the late row neither fails the (already-passed) check nor sneaks
    // into the warehouse
    val epoch = spark.read.parquet(staging)
    Constraints.drainChecked(spark, epoch, wh, 1L,
      Seq("k_pos" -> "k > 0"),
      afterCheck = () =>
        Seq((-99L, "late")).toDF("k", "v")
          .write.mode("append").parquet(staging))
    val drained = AtomicWarehouse.read(spark, wh, "k")
      .select(col("k").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val audited = epoch.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(drained == audited && audited == Set((1L, "a"), (2L, "b")),
      s"committed epoch $drained diverged from the audited frame $audited")
    // the frame drain never touches the staging dir: the late file is
    // still there, and never reached the warehouse unchecked
    assert(spark.read.parquet(staging).count() == 3)
  }

  test("an empty epoch commits an empty epoch; its null violation sums refuse nothing") {
    val wh = tmp("cons_empty") + "/wh"
    val empty = Seq((1L, "a")).toDF("k", "v").where("k < 0")
    Constraints.drainChecked(spark, empty, wh, 1L,
      Seq("k_pos" -> "k > 0", "v_set" -> "v IS NOT NULL"))
    assert(AtomicWarehouse.currentVersion(spark, wh) == 1L)
    assert(new java.io.File(s"$wh/epoch_1").isDirectory)
    val read = AtomicWarehouse.read(spark, wh, "k")
    assert(read.columns.toSeq == Seq("k", "v", "load_seq"))
    assert(read.count() == 0L)
  }

  test("a multi-constraint refusal reports each violated constraint's count, in order") {
    val wh = tmp("cons_multi") + "/wh"
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (-1L, null), (-2L, "b"),
      (null, "c"), (5L, null)).toDF("k", "v")
    val checks = Seq("k_pos" -> "k > 0", "k_small" -> "k < 100",
      "v_set" -> "v IS NOT NULL", "k_neg" -> "k < 0")
    val e = intercept[ConstraintViolationException] {
      Constraints.drainChecked(spark, df, wh, 4L, checks)
    }
    // k_small passes everywhere and a null k is UNKNOWN for every k check
    assert(e.getMessage ==
      "drain epoch 4 refused, constraint violations: k_pos=2, v_set=2, k_neg=2")
    // the same counts as the one-aggregate report
    val report = Constraints.violationReport(df, checks).collect()
      .map(r => r.getString(0) -> r.getLong(1)).filter(_._2 > 0)
    assert(report.map { case (n, c) => s"$n=$c" }.mkString(", ") ==
      "k_pos=2, v_set=2, k_neg=2")
    assert(!new java.io.File(wh).exists())
  }
}
