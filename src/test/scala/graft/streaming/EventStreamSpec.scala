package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming forms driven through the real streaming engine via
  * MemoryStream + processAllAvailable. */
class EventStreamSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed agg under watermark matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(df).writeStream
      .outputMode("append").format("memory").queryName("win_out").start()
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 5.0),
      // advance watermark far enough to close the 10:00 and 11:00 windows
      (ts("2024-01-09 00:00:00"), "late", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(out.contains(("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("events later than the watermark are dropped; closed windows never re-emit") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(df).writeStream
      .outputMode("append").format("memory").queryName("late_out").start()
    input.addData((ts("2024-01-01 10:05:00"), "click", 1.0))
    q.processAllAvailable()
    // advance the watermark to 2024-01-05 (max event time − 4 days): the
    // 10:00 window closes and emits
    input.addData((ts("2024-01-09 00:00:00"), "advance", 0.0))
    q.processAllAvailable()
    val closed = spark.table("late_out").collect()
    assert(closed.exists(r => r.getString(1) == "click" && r.getLong(2) == 1L))
    val nAfterClose = closed.length
    // an event 4+ days behind the watermark targets the closed window:
    // the engine must drop it, not re-open or re-emit
    input.addData((ts("2024-01-01 10:10:00"), "click", 100.0))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("late_out").collect()
    assert(after.length == nAfterClose, "late event re-opened a closed window")
    assert(!after.exists(_.getDouble(3) == 100.0), "late event's value leaked into output")
  }

  test("late batches: watermark eviction over 7 micro-batches matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(df).writeStream
      .outputMode("append").format("memory").queryName("late_canary_out").start()
    // (rows, late?) per micro-batch; the watermark trails the max event
    // time by 4 days, so batch 4 closes the 2024-01-01 windows and batch
    // 6 the 01-02/01-03 ones; batches 5-7 carry rows behind the watermark
    val batches = Seq(
      Seq((ts("2024-01-01 10:05:00"), "click", 1.0) -> false,
        (ts("2024-01-01 10:20:00"), "view", 2.0) -> false),
      Seq((ts("2024-01-01 11:10:00"), "click", 3.0) -> false,
        (ts("2024-01-01 12:30:00"), "click", 4.0) -> false),
      Seq((ts("2024-01-02 09:00:00"), "view", 5.0) -> false,
        (ts("2024-01-01 10:40:00"), "click", 6.0) -> false),
      Seq((ts("2024-01-05 14:30:00"), "advance", 0.0) -> false),
      Seq((ts("2024-01-01 10:50:00"), "click", 100.0) -> true,
        (ts("2024-01-01 12:10:00"), "view", 200.0) -> true,
        (ts("2024-01-03 08:00:00"), "click", 7.0) -> false),
      Seq((ts("2024-01-01 11:59:00"), "click", 300.0) -> true,
        (ts("2024-01-02 09:30:00"), "view", 8.0) -> false,
        (ts("2024-01-08 00:00:00"), "advance", 0.0) -> false),
      Seq((ts("2024-01-02 09:45:00"), "view", 400.0) -> true))
    val stateRows = batches.map { b =>
      input.addData(b.map(_._1): _*)
      q.processAllAvailable()
      q.lastProgress.stateOperators.head.numRowsTotal
    }
    q.stop()
    // state grows to five windows, then falls each time the watermark
    // passes them (after batches 4 and 6)
    assert(stateRows(2) == 5L && stateRows(3) < stateRows(2) &&
      stateRows(5) < stateRows(4), stateRows.mkString(","))
    // batch semantics: the on-time rows aggregated, windows the final
    // watermark (2024-01-04 00:00) has closed
    val expected = batches.flatten.collect { case (r, false) => r }
      .toDF("ts", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .where(col("window.end") <= lit(ts("2024-01-04 00:00:00")))
      .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val got = spark.table("late_canary_out")
    assert(rows(got) == rows(expected))
    assert(got.count() == 6L) // no window emitted twice
  }

  test("stateful sessionization emits closed sessions with counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.SessionEvent]
    val q = EventStream.sessionize(input.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    val base = 1700000000000000L
    input.addData(
      EventStream.SessionEvent(1L, 1L, base),
      EventStream.SessionEvent(1L, 2L, base + 60L * 1000000),          // same session
      EventStream.SessionEvent(1L, 3L, base + 3600L * 1000000),        // new session
      EventStream.SessionEvent(2L, 4L, base))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out").as[EventStream.SessionOut].collect()
    // user 1's first session (2 events) closed by the 1h-later event
    assert(out.exists(s => s.user_id == 1L && s.session_events == 2L))
  }


  test("dedup-within-watermark drops re-sent keys while state is live") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStream.dedupStream(df).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    input.addData(
      (ts("2024-01-01 10:00:00"), 1L, "a"),
      (ts("2024-01-01 10:01:00"), 1L, "b"), // dup key inside watermark
      (ts("2024-01-01 10:02:00"), 2L, "a"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 10:03:00"), 1L, "c")) // still a dup
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").collect()
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }


  test("debounce suppresses within-TTL events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.DebEvent]
    val q = EventStream.debounce(input.toDS(), ttlMicros = 600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("debounce_out").start()
    val t0 = 1700000000000000L
    input.addData(
      EventStream.DebEvent(1L, "click", 10L, t0),                    // keep (first)
      EventStream.DebEvent(1L, "click", 11L, t0 + 100L * 1000000),   // drop (<600s)
      EventStream.DebEvent(1L, "view", 12L, t0 + 200L * 1000000),    // keep (other type)
      EventStream.DebEvent(2L, "click", 13L, t0 + 300L * 1000000))   // keep (other user)
    q.processAllAvailable()
    input.addData(
      // 500s after event 11 (the SUPPRESSED one) — still inside its TTL:
      // lag semantics measure from the last SEEN, not last EMITTED
      EventStream.DebEvent(1L, "click", 14L, t0 + 600L * 1000000),
      // 900s after event 14 — clear of the TTL
      EventStream.DebEvent(1L, "click", 15L, t0 + 1500L * 1000000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("debounce_out").as[EventStream.DebEvent]
      .collect().map(_.event_id).sorted.toSeq
    assert(kept == Seq(10L, 12L, 13L, 15L))
  }

  test("transformWithState debounce matches the flatMapGroupsWithState semantics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.DebEvent]
      val q = EventStream.debounceTws(input.toDS(), ttlMicros = 600L * 1000000)
        .writeStream.outputMode("append").format("memory")
        .queryName("debounce_tws_out").start()
      // TTL keeps the engine scheduling empty batches forever (to advance
      // the eviction clock), so processAllAvailable() never returns — poll
      // the sink for the expected ids instead.
      def keptIds(): Seq[Long] = spark.table("debounce_tws_out")
        .as[EventStream.DebEvent].collect().map(_.event_id).sorted.toSeq
      def awaitKept(expect: Seq[Long]): Unit = {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (keptIds() != expect && System.nanoTime() < deadline)
          Thread.sleep(200)
        assert(keptIds() == expect)
      }
      val t0 = 1700000000000000L
      input.addData(
        EventStream.DebEvent(1L, "click", 10L, t0),
        EventStream.DebEvent(1L, "click", 11L, t0 + 100L * 1000000),
        EventStream.DebEvent(2L, "click", 13L, t0 + 300L * 1000000))
      awaitKept(Seq(10L, 13L))
      input.addData(
        EventStream.DebEvent(1L, "click", 14L, t0 + 600L * 1000000), // 500s after 11
        EventStream.DebEvent(1L, "click", 15L, t0 + 1500L * 1000000))
      awaitKept(Seq(10L, 13L, 15L))
      q.stop()
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-static broadcast enrichment with default for misses") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "user_name")
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val q = EventStream.enrichStream(df, dim, "user_id", "user_name", "Unknown")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 9L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "alpha", 9L -> "Unknown"))
  }

  test("stream-stream interval join matches in-window pairs only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    val cdf = clicks.toDF().toDF("event_id", "user_id", "ts")
    val edf = errors.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStream.clickErrorJoin(cdf, edf).writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    clicks.addData(
      (10L, 1L, ts("2024-01-01 10:00:00")), // 5 min before error → match
      (11L, 1L, ts("2024-01-01 09:40:00")), // 25 min before → out of window
      (12L, 2L, ts("2024-01-01 10:00:00"))) // other user → no match
    errors.addData((20L, 1L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((20L, 10L, 1L)))
  }

  test("AvailableNow epochs process only new files (the cron-scheduled incremental run)") {
    // the reference's twice-daily cron epoch (dags/Dashboard-pipeline.py:26)
    // = a file-source stream with Trigger.AvailableNow: each invocation
    // drains exactly the not-yet-seen input, then stops; checkpointed
    // offsets carry the high-water mark between invocations.
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .write.parquet(s"$in/batch1")
    def runEpoch(): Unit = {
      val q = spark.readStream
        .schema("id LONG, payload STRING")
        .parquet(s"$in/*")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
    }
    runEpoch()
    assert(spark.read.parquet(out).count() == 2)
    Seq((3L, "c")).toDF("id", "payload").write.parquet(s"$in/batch2")
    runEpoch()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")), rows.toString)
  }

  test("foreachBatch drain writes warehouse exactly-once per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.drainSink(input.toDF().toDF("id", "payload"),
      s"$root/wh", s"$root/ckpt")
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((2L, "b2"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val wh = graft.sinks.AtomicWarehouse.read(spark, s"$root/wh", "id")
    assert(wh.count() == 3) // deduped on id, keep-latest-epoch
    val v2 = wh.where(col("id") === 2).select("payload").head().getString(0)
    assert(v2 == "b2")
  }
}
