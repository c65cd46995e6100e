package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Default-on multi-column zone maps: every stats-eligible column gets
  * footer-derived min/max at commit with no declaration, bounded string
  * sizes, and the floors/folds that depend on recorded `load_seq`. */
class AutoStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"autostats_$tag").toString + "/wh"

  private def statsOf(dir: String,
      entry: String): Map[String, AtomicWarehouse.ColStats] =
    AtomicWarehouse
      .committedEntriesAt(spark, dir,
        AtomicWarehouse.currentVersion(spark, dir))
      .find(_.name == entry).get.stats

  test("eligible columns get stats with NO declaration; doubles never do") {
    val dir = freshDir("auto")
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 50).map(i => (i.toLong, s"n$i", i * 1.5, i, 1L))
        .toDF("k", "name", "price", "qty", "load_seq"), 1L)
    val st = statsOf(dir, "epoch_1")
    assert(st("k").typ == "long" && st("k").mn == "1" && st("k").mx == "50")
    assert(st("qty").typ == "long" && st("qty").mx == "50")
    assert(st("name").typ == "string")
    assert(st("load_seq").mx == "1")
    // fractional types are NEVER stats ("10.0" < "9.0" lexicographically)
    assert(!st.contains("price"))
  }

  test("oversized auto string bounds are dropped, declared ones kept") {
    val dir = freshDir("cap")
    val longText = "x" * 500
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 5).map(i => (i.toLong, s"t$i", longText + i, 1L))
        .toDF("k", "tag", "body", "load_seq"), 1L)
    val st = statsOf(dir, "epoch_1")
    assert(st.contains("tag"))
    assert(!st.contains("body"), // document-sized bounds would bloat the manifest
      st.get("body"))
    // ... unless the caller DECLARED the column (full fidelity, opted in)
    val dir2 = freshDir("cap2")
    AtomicWarehouse.commitEpoch(spark, dir2,
      (1 to 5).map(i => (i.toLong, longText + i, 1L))
        .toDF("k", "body", "load_seq"), 1L, statsCols = Seq("body"))
    assert(statsOf(dir2, "epoch_1").contains("body"))
  }

  test("an undeclared column prunes the engine's range read") {
    val dir = freshDir("prune")
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 50).map(i => (i.toLong, i * 10L, 1L))
        .toDF("k", "score", "load_seq"), 1L)
    AtomicWarehouse.commitEpoch(spark, dir,
      (51 to 90).map(i => (i.toLong, i * 10L, 2L))
        .toDF("k", "score", "load_seq"), 2L)
    // `score` was never declared anywhere; its auto stats still prune
    val scanned = graft.sources.v2.WarehouseScan.of(AtomicWarehouse
      .readRangeOn(spark, dir, "k", "score", "600", "700"))
      .flatMap(_.plannedEpochs())
    assert(scanned == Seq("epoch_2"), scanned)
  }

  test("maxLoadSeq prefers recorded stats over the epoch name") {
    val dir = freshDir("floor")
    // rows CARRY load_seq 9 but the caller commits them as epoch_5: the
    // recorded stats must win, or the next self-sequencing writer picks
    // floor 5 and its epoch loses the keyed merge to the existing 9s
    AtomicWarehouse.commitEpoch(spark, dir,
      Seq((1L, "a", 9L)).toDF("k", "name", "load_seq"), 5L)
    assert(AtomicWarehouse.maxLoadSeq(spark, dir).contains(9L))
  }

  test("compact and purge rewrites keep load_seq stats (floor stays " +
      "metadata-only)") {
    val dir = freshDir("fold")
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 20).map(i => (i.toLong, s"n$i", 1L))
        .toDF("k", "name", "load_seq"), 1L, statsKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, dir,
      (10 to 25).map(i => (i.toLong, s"m$i", 2L))
        .toDF("k", "name", "load_seq"), 2L, statsKey = Some("k"))
    AtomicWarehouse.compact(spark, dir, "k", statsKey = Some("k"))
    val fold = statsOf(dir, "compact_v2")
    assert(fold.get("load_seq").exists(_.mx == "2"), fold.keySet)
    assert(AtomicWarehouse.maxLoadSeq(spark, dir).contains(2L))
    // a purge rewrite of the fold keeps them too
    AtomicWarehouse.purgeKeys(spark, dir, "k", Seq(3L),
      statsKey = Some("k"))
    val entries = AtomicWarehouse.committedEpochs(spark, dir)
    val rewritten = entries.find(_.startsWith("compact_v2_p")).get
    assert(statsOf(dir, rewritten).get("load_seq").exists(_.mx == "2"))
  }

  test("zorderBy on an unsupported column type fails at WRITE PLANNING") {
    val dir = freshDir("zbuild")
    val df = (1 to 10).map(i => (i.toLong, s"n$i", 1L))
      .toDF("k", "name", "load_seq")
    val e = intercept[Exception] {
      df.write.format("graft-warehouse")
        .option("path", dir).option("seq", "1")
        .option("zorderBy", "k,name") // string: no numeric embedding
        .mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("numeric embedding")), msgs(e))
    // nothing was staged or committed — the job never ran
    assert(AtomicWarehouse.currentVersion(spark, dir) == 0L)
    val d = new java.io.File(dir)
    assert(!d.exists() || d.listFiles().forall(f =>
      f.getName == "_manifest"), Option(d.listFiles()).map(_.toSeq))
  }

  test("wide-table commit: auto stats cost ZERO extra Spark jobs and " +
      "the manifest line stays O(cols) bytes") {
    val dir = freshDir("widecost")
    // 30 stats-eligible columns plus a document-sized text column — the
    // shape that would bloat manifests or trigger re-scans if auto stats
    // were not footer-derived and size-capped
    val wide = spark.range(1, 2001).select(
      (col("id").as("k") +:
        (1 to 28).map(i => (col("id") * i).as(f"c$i%02d")) :+
        concat_ws("", Seq.fill(40)(lit("lorem ipsum ")): _*).as("body") :+
        lit(1L).as("load_seq")): _*)
    val jobs = jobsFiredBy {
      AtomicWarehouse.commitEpoch(spark, dir, wide, 1L) // nothing declared
    }
    // exactly ONE job: the parquet write itself. Stats came from the
    // just-written footers — the "free at commit time" claim, enforced
    assert(jobs == 1, s"commit ran $jobs jobs; auto stats must not scan")
    val stats = statsOf(dir, "epoch_1")
    // every eligible column recorded; the oversized text column dropped
    assert((1 to 28).forall(i => stats.contains(f"c$i%02d")))
    assert(stats.contains("k") && stats.contains("load_seq"))
    assert(!stats.contains("body"))
    // the manifest LINE stays O(cols): bounded per-column bounds plus
    // the reserved schema/files slots — never document-sized
    val line = AtomicWarehouse
      .committedEntriesAt(spark, dir,
        AtomicWarehouse.currentVersion(spark, dir))
      .find(_.name == "epoch_1").get.line
    assert(line.getBytes("UTF-8").length < 16384,
      s"manifest line is ${line.getBytes("UTF-8").length} bytes")
  }
}
