package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.functions._

/** The graft-warehouse DSv2 WRITE path: epochs drained through
  * `df.write` must commit atomically (manifest CAS), replay
  * idempotently, carry zone-map/bloom stats, drop failed-attempt
  * leftovers, and refuse unsupported shapes loudly. */
class WarehouseSinkSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"wh_sink_$tag").toString + "/wh"

  private def rows(lo: Int, hi: Int, seq: Long) =
    (lo to hi).map(i => (i.toLong, s"n$i", i * 0.5, seq))
      .toDF("k", "name", "score", "load_seq")

  private def write(df: org.apache.spark.sql.DataFrame, dir: String,
      seq: Long, extra: (String, String)*): Unit = {
    val w = df.write.format("graft-warehouse")
      .option("path", dir).option("seq", seq.toString).mode("append")
    extra.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.save()
  }

  test("a written epoch round-trips through every read path") {
    val dir = freshDir("rt")
    write(rows(1, 100, 1L), dir, 1L)
    write(rows(50, 120, 2L), dir, 2L)
    // the connector read
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 171)
    // the native API's merged read agrees
    val merged = AtomicWarehouse.read(spark, dir, "k")
    assert(merged.count() == 120)
    assert(merged.where(col("k") === 60).head.getAs[Long]("load_seq") == 2L)
  }

  test("same-seq replay is idempotent; stage dirs never linger") {
    val dir = freshDir("replay")
    write(rows(1, 30, 1L), dir, 1L)
    write(rows(1, 30, 1L), dir, 1L) // replay: adopted, not duplicated
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 30)
    val leftovers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("stats options produce a pruning manifest entry") {
    val dir = freshDir("stats")
    write(rows(1, 100, 1L), dir, 1L, "statsKey" -> "k", "bloomKey" -> "k",
      "statsCols" -> "name")
    write(rows(1000, 1100, 2L), dir, 2L, "statsKey" -> "k",
      "bloomKey" -> "k", "statsCols" -> "name")
    val entries = AtomicWarehouse.committedEntriesAt(spark, dir, 2L)
    assert(entries.forall(e => e.stats.contains("k") &&
      e.stats.contains("name") && e.stats.contains("bloom(k)")))
    assert(WarehouseScan.of(AtomicWarehouse.readRange(spark, dir, "k", 1000,
      1100)).flatMap(_.plannedEpochs()) == Seq("epoch_2"))
  }

  test("overwrite mode is refused (epochs are immutable deltas)") {
    val dir = freshDir("ow")
    write(rows(1, 10, 1L), dir, 1L)
    val e = intercept[Exception] {
      rows(1, 5, 2L).write.format("graft-warehouse")
        .option("path", dir).option("seq", "2").mode("overwrite").save()
    }
    assert(e.getMessage.toLowerCase.contains("truncate") ||
      e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)
    assert(AtomicWarehouse.currentVersion(spark, dir) == 1L)
  }

  test("no-seq writes auto-sequence; unsupported column types fail at planning") {
    val dir = freshDir("bad")
    // without .option("seq") the write is the SQL-INSERT shape: it
    // auto-sequences from the load_seq floor and commits under the
    // collision-free insert_v* namespace (never epoch_N, so it cannot
    // swallow an external drain counter's commit)
    rows(1, 5, 1L).write.format("graft-warehouse")
      .option("path", dir).mode("append").save()
    rows(6, 9, 2L).write.format("graft-warehouse")
      .option("path", dir).mode("append").save()
    val names = AtomicWarehouse.committedEpochs(spark, dir)
    assert(names.size == 2 && names.forall(_.startsWith("insert_v")), names)
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 9)
    // the second auto-seq write derived its floor from the first's
    // recorded load_seq stats (metadata-only sequencing)
    assert(AtomicWarehouse.maxLoadSeq(spark, dir).contains(2L))
    val e2 = intercept[Exception] {
      Seq((1L, BigDecimal(2))).toDF("k", "d")
        .write.format("graft-warehouse")
        .option("path", dir).option("seq", "1").mode("append").save()
    }
    assert(e2.getMessage.contains("flat primitive"), e2.getMessage)
  }

  test("a retyping write is refused at planning; additive columns pass") {
    val dir = freshDir("enforce")
    write(rows(1, 10, 1L), dir, 1L)
    // retype: score double -> string
    val e = intercept[Exception] {
      rows(11, 20, 2L).withColumn("score", col("score").cast("string"))
        .write.format("graft-warehouse")
        .option("path", dir).option("seq", "2").mode("append").save()
    }
    assert(e.getMessage.contains("never retype"), e.getMessage)
    assert(AtomicWarehouse.currentVersion(spark, dir) == 1L)
    // additive evolution still works
    write(rows(11, 20, 2L).withColumn("extra", lit(7L)), dir, 2L)
    val back = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(back.count() == 20)
    assert(back.where(col("extra").isNull).count() == 10)
  }

  test("a failing write leaves the warehouse untouched") {
    val dir = freshDir("abort")
    write(rows(1, 50, 1L), dir, 1L)
    val boom = udf((k: Long) =>
      if (k == 70L) throw new RuntimeException("boom") else s"n$k")
    val poison = rows(51, 90, 2L).withColumn("name", boom(col("k")))
    intercept[Exception] { write(poison, dir, 2L) }
    assert(AtomicWarehouse.currentVersion(spark, dir) == 1L)
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 50)
    val leftovers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("writeStream commits one epoch per micro-batch, exactly-once") {
    val base = java.nio.file.Files.createTempDirectory("wh_swrite").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ck")
    for (s <- 1L to 3L)
      AtomicWarehouse.commitEpoch(spark, src,
        rows(s.toInt * 100, s.toInt * 100 + 9, s), s)

    def run(): Unit = {
      val q = spark.readStream.format("graft-warehouse").option("path", src)
        .option("maxVersionsPerBatch", "1")
        .load().select("k", "name", "load_seq")
        .writeStream.format("graft-warehouse")
        .option("path", dst).option("seqBase", "1")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    run()
    val log = spark.read.format("graft-warehouse").option("path", dst).load()
    assert(log.count() == 30)
    // one target epoch per micro-batch (3 versions tailed one at a time)
    assert(AtomicWarehouse.committedEpochs(spark, dst).size == 3)

    // new source epoch; resume from the same checkpoint: exactly one
    // epoch appended, nothing re-served, nothing double-committed
    AtomicWarehouse.commitEpoch(spark, src, rows(400, 409, 4L), 4L)
    run()
    assert(spark.read.format("graft-warehouse").option("path", dst)
      .load().count() == 40)
    assert(AtomicWarehouse.committedEpochs(spark, dst).size == 4)
    val stray = new java.io.File(dst).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(stray.isEmpty, stray.mkString(","))
  }

  test("a torn job (published dir, no manifest) is adopted by the re-run") {
    val dir = freshDir("torn")
    write(rows(1, 10, 1L), dir, 1L)
    // simulate a writer that crashed AFTER publishing epoch_2 but BEFORE
    // its manifest commit: the dir is complete (has _SUCCESS) yet
    // invisible — exactly the commitStagedEpoch crash window
    val epoch2 = new java.io.File(s"$dir/epoch_2")
    rows(11, 25, 2L).coalesce(1).write.parquet(epoch2.toString)
    assert(new java.io.File(epoch2, "_SUCCESS").exists())
    assert(AtomicWarehouse.currentVersion(spark, dir) == 1L)
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 10) // still invisible
    // the re-run writes its own stage; the commit ADOPTS the published
    // dir (same seq = same logical content by the replay contract) and
    // finishes the manifest half
    write(rows(11, 25, 2L), dir, 2L)
    assert(AtomicWarehouse.committedEpochs(spark, dir) ==
      Seq("epoch_1", "epoch_2"))
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 25)
    val stray = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(stray.isEmpty, stray.mkString(","))
  }

  test("an empty batch write commits a readable zero-row epoch") {
    val dir = freshDir("empty")
    write(rows(1, 10, 1L), dir, 1L)
    write(rows(1, 10, 2L).where(col("k") > 100), dir, 2L) // zero rows
    assert(AtomicWarehouse.committedEpochs(spark, dir) ==
      Seq("epoch_1", "epoch_2"))
    // the union read survives the empty epoch, schema intact
    val back = spark.read.format("graft-warehouse").option("path", dir).load()
    assert(back.count() == 10)
    assert(AtomicWarehouse.read(spark, dir, "k").count() == 10)
    // replaying seq 2 with data later is refused by idempotence (the
    // committed empty epoch wins), keeping the seq contract strict
    write(rows(50, 60, 2L), dir, 2L)
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 10)
  }

  test("vacuum reclaims an abandoned write stage after the grace window") {
    val dir = freshDir("stage_gc")
    write(rows(1, 20, 1L), dir, 1L)
    // simulate a writer that crashed between task commits and job commit
    val stray = new java.io.File(s"$dir/.stage_epoch_9_deadbeef")
    stray.mkdirs()
    new java.io.File(stray, "part-00000-orphan.parquet").createNewFile()
    val (_, dropped) = AtomicWarehouse.vacuum(spark, dir,
      retainVersions = 1, graceMs = 0L)
    assert(dropped == 1)
    assert(!stray.exists())
    // the committed epoch is untouched
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 20)
  }

  test("clusterBy range-partitions and sorts: part files hold disjoint key slices") {
    val dir = freshDir("cluster")
    // shuffled input across 4 partitions; the SINK's declared
    // distribution+ordering must reorganize it, not the query author
    val shuffled = rows(1, 4000, 1L)
      .withColumn("r", expr("md5(cast(k as string))"))
      .repartition(4, col("r")).drop("r")
    shuffled.write.format("graft-warehouse")
      .option("path", dir).option("seq", "1")
      .option("clusterBy", "k").option("writePartitions", "4")
      .mode("append").save()
    val parts = new java.io.File(s"$dir/epoch_1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(parts.length > 1, "need multiple part files to prove disjointness")
    val ranges = parts.map { p =>
      val r = spark.read.parquet(p).agg(min("k"), max("k")).head
      (r.getLong(0), r.getLong(1))
    }
    // non-overlapping ranges = range partitioning + in-task sort landed
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, sorted.mkString(","))
      case _ =>
    }
    assert(spark.read.format("graft-warehouse").option("path", dir)
      .load().count() == 4000)
  }

  test("pushed filters skip row groups of a clustered epoch") {
    val dir = freshDir("rg_skip")
    val n = 20000
    // one k-sorted part file of many small row groups
    val old = spark.conf.getOption("parquet.block.size")
    spark.conf.set("parquet.block.size", "16384")
    try AtomicWarehouse.commitEpoch(spark, dir,
      rows(1, n, 1L).repartition(1).sortWithinPartitions("k"), 1L)
    finally old.fold(spark.conf.unset("parquet.block.size"))(
      spark.conf.set("parquet.block.size", _))
    val groups = new java.io.File(s"$dir/epoch_1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString),
            spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.size finally r.close()
      }.sum
    assert(groups > 4, s"only $groups row groups")

    /** The query's keys and the rows its scan tasks read
      * (`inputMetrics.recordsRead`, summed over the job's tasks). */
    def scan(where: org.apache.spark.sql.Column): (Set[Long], Long) = {
      val read = new java.util.concurrent.atomic.AtomicLong(0L)
      val ended = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m =>
            read.addAndGet(m.inputMetrics.recordsRead))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          ended.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val keys = spark.read.format("graft-warehouse").option("path", dir)
          .load().where(where).select("k").as[Long].collect().toSet
        // a job's task ends are delivered before its job end
        val deadline = System.currentTimeMillis() + 10000
        while (ended.get() == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        (keys, read.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val (point, pointRead) = scan(col("k") === 12345L)
    assert(point == Set(12345L))
    assert(pointRead >= 1L && pointRead < n, s"point read $pointRead of $n rows")
    val (range, rangeRead) = scan(col("k").between(5000L, 5100L))
    assert(range == (5000L to 5100L).toSet)
    assert(rangeRead < n / 2, s"range read $rangeRead of $n rows")
    // a conjunct no row-group filter can serve stays exact (residual)
    val (mixed, _) = scan(col("k").between(5000L, 5100L) &&
      length(col("name")) === 5)
    assert(mixed == (5000L to 5100L).filter(k => s"n$k".length == 5).toSet)
    val (suffix, _) = scan(col("name").endsWith("777"))
    assert(suffix == (1L to n).filter(_.toString.endsWith("777")).toSet)
  }

  test("a clustered epoch answers point reads with row-group skipping correctness") {
    val dir = freshDir("rg")
    rows(1, 5000, 1L).write.format("graft-warehouse")
      .option("path", dir).option("seq", "1")
      .option("clusterBy", "k").mode("append").save()
    val q = spark.read.format("graft-warehouse").option("path", dir)
      .load().where(col("k").between(2000, 2004))
    assert(q.select("k").as[Long].collect().toSet ==
      Set(2000L, 2001L, 2002L, 2003L, 2004L))
  }

  test("timestamps and dates written by the sink decode back exactly") {
    val dir = freshDir("ts")
    val df = Seq(
      (1L, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-03T10:30:00.123456Z")),
        java.sql.Date.valueOf("2024-05-03")),
      (2L, java.sql.Timestamp.from(
        java.time.Instant.parse("1969-12-31T23:59:59Z")),
        java.sql.Date.valueOf("1969-12-31"))
    ).toDF("k", "ts", "d")
    write(df.withColumn("load_seq", lit(1L)), dir, 1L)
    val back = spark.read.format("graft-warehouse").option("path", dir)
      .load().select("k", "ts", "d")
      .as[(Long, java.sql.Timestamp, java.sql.Date)].collect()
      .map { case (k, t, d2) => k -> ((t, d2)) }.toMap
    assert(back(1L)._1.toInstant ==
      java.time.Instant.parse("2024-05-03T10:30:00.123456Z"))
    assert(back(2L)._1.toInstant ==
      java.time.Instant.parse("1969-12-31T23:59:59Z"))
    assert(back(1L)._2.toString == "2024-05-03")
    assert(back(2L)._2.toString == "1969-12-31")
    // and Spark's native parquet reader agrees with the Group writer
    assert(spark.read.parquet(s"$dir/epoch_1").where(col("k") === 1L)
      .head.getAs[java.sql.Timestamp]("ts").toInstant ==
      java.time.Instant.parse("2024-05-03T10:30:00.123456Z"))
  }
}
