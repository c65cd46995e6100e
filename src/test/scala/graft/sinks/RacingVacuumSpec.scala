package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Runs a write with [[AtomicWarehouse.beforeManifestCas]] set: `seam`
  * fires between each of the write's publishes and its manifest CAS. */
object CommitSeam {
  def around[T](seam: => Unit)(write: => T): T = {
    AtomicWarehouse.beforeManifestCas.set(() => seam)
    try write finally AtomicWarehouse.beforeManifestCas.remove()
  }
}

/** Every warehouse writer against a vacuum that outlived its grace
  * window: fired once between the writer's publish and its manifest CAS,
  * `vacuum(retainVersions = 1, graceMs = 0)` deletes every dir the write
  * just published. The commit must notice and publish again, so no
  * committed entry names a missing dir and the snapshot equals the same
  * write without the race. The staged epoch's data exists once, so it
  * must fail loudly instead. */
class RacingVacuumSpec extends SparkSuite {
  import spark.implicits._

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("wh_race").toString
    spark.conf.set("spark.sql.catalog.whrace",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whrace.root", r)
    spark.conf.set("spark.sql.catalog.whrace.mergeKey", "k")
    r
  }

  private def rows(lo: Int, hi: Int, seq: Long) =
    (lo to hi).map(i => (i.toLong, s"n$i", seq)).toDF("k", "name", "load_seq")

  /** Table `t` of the `whrace` catalog: keys 1-30 and 20-40 in two
    * epochs, with key stats and blooms. */
  private def build(t: String): String = {
    val dir = s"$root/$t"
    Seq((1, 30, 1L), (20, 40, 2L)).foreach { case (lo, hi, seq) =>
      AtomicWarehouse.commitEpoch(spark, dir, rows(lo, hi, seq), seq,
        statsKey = Some("k"), bloomKey = Some("k"))
    }
    dir
  }

  private def snapshot(dir: String): Set[(Long, String, Long)] =
    AtomicWarehouse.read(spark, dir, "k")
      .select(col("k").cast("long"), col("name"), col("load_seq").cast("long"))
      .as[(Long, String, Long)].collect().toSet

  /** `write` with a vacuum of `dir` fired at its first commit seam;
    * returns the dirs that vacuum deleted. */
  private def racingVacuum(dir: String)(write: => Unit): Int = {
    var deleted = -1
    CommitSeam.around(if (deleted < 0) deleted =
      AtomicWarehouse.vacuum(spark, dir, retainVersions = 1, graceMs = 0L)._2
    )(write)
    deleted
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def merge(t: String): Unit = {
    Seq((3L, "u3"), (50L, "i50")).toDF("sk", "sn")
      .createOrReplaceTempView("race_src")
    spark.sql(
      s"""MERGE INTO whrace.$t AS t USING race_src AS s ON t.k = s.sk
         |WHEN MATCHED THEN UPDATE SET name = s.sn
         |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, s.sn)
         |WHEN NOT MATCHED BY SOURCE AND k >= 35 THEN DELETE
         |""".stripMargin)
  }

  /** Each writer's shape, as a write on table `t`. */
  private val writers: Seq[(String, String => Unit)] = Seq(
    "commitEpoch" -> (t => AtomicWarehouse.commitEpoch(spark, s"$root/$t",
      rows(35, 45, 3L), 3L, statsKey = Some("k"), bloomKey = Some("k"))),
    "MERGE with a by-source DELETE" -> (t => merge(t)),
    "typed MERGE with preimages and a by-source DELETE" -> (t =>
      withConf("graft.merge.typedFeedEntries" -> "true",
        "graft.update.logPreimages" -> "true")(merge(t))),
    "UPDATE with preimages" -> (t =>
      withConf("graft.update.logPreimages" -> "true")(
        spark.sql(s"UPDATE whrace.$t SET name = 'upd' WHERE k = 25"))),
    "purgeKeysDeferred" -> (t => AtomicWarehouse.purgeKeysDeferred(spark,
      s"$root/$t", "k", Seq(5L, 25L))),
    "purgeKeys" -> (t => AtomicWarehouse.purgeKeys(spark, s"$root/$t", "k",
      Seq(5L, 25L), statsKey = Some("k"), bloomKey = Some("k"))),
    "compact" -> (t => AtomicWarehouse.compact(spark, s"$root/$t", "k",
      statsKey = Some("k"), bloomKey = Some("k"))))

  writers.zipWithIndex.foreach { case ((writer, write), i) =>
    test(s"$writer publishes again what a racing vacuum deleted") {
      val calm = build(s"calm$i")
      write(s"calm$i")
      val raced = build(s"raced$i")
      val deleted = racingVacuum(raced)(write(s"raced$i"))
      assert(deleted >= 1, "the vacuum must delete the published dirs")
      val missing = AtomicWarehouse.committedEpochs(spark, raced)
        .filterNot(n => new java.io.File(s"$raced/$n").isDirectory)
      assert(missing.isEmpty, s"committed entries name deleted dirs: $missing")
      assert(snapshot(raced) == snapshot(calm))
      assert(AtomicWarehouse.committedEpochs(spark, raced) ==
        AtomicWarehouse.committedEpochs(spark, calm))
    }
  }

  test("a staged epoch fails loudly when a racing vacuum deletes its dir") {
    val dir = build("staged")
    val v = AtomicWarehouse.currentVersion(spark, dir)
    val err = intercept[Exception] {
      racingVacuum(dir)(rows(35, 45, 3L).write.format("graft-warehouse")
        .option("path", dir).option("seq", "3").mode("append").save())
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(e => Option(e.getMessage)
      .exists(_.contains("vanished before its manifest commit"))), err)
    assert(AtomicWarehouse.currentVersion(spark, dir) == v)
  }
}
