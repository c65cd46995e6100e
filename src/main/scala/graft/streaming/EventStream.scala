package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming form of the reference's scheduled-batch semantics
  * (SURVEY.md §2.9): the reference's cron-driven epochs + lagged fetch
  * window + keep-last staging merge ARE streaming concepts — trigger,
  * watermark/allowed-lateness, keyed upsert state.
  *
  * Batch-equivalent semantics of these transforms are oracle-checked via
  * e1_window_agg / e2_sessionize / w1_keeplast_dedup; here the same logic
  * runs under the streaming engine (memory sink tests drive them with
  * processAllAvailable).
  */
object EventStream {

  /** E1 streaming — tumbling 1h event-time aggregate with a 4-day
    * watermark (the reference's 3–4 day analytics settling lag,
    * dataingestion1.py:118-121). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "4 days")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** W1 streaming — keyed keep-first dedup state on the ENGINE's native
    * operator: `dropDuplicatesWithinWatermark` keeps each key's first
    * arrival and drops later duplicates for as long as the key's state
    * lives (until the watermark passes its event time + `delay`). The
    * production default matches the reference's 4-day settling lag; the
    * battery replay (c20) passes a delay longer than the replayed span so
    * no state ever expires and the semantics are exactly batch keep-first
    * — the form its oracle states. */
  def dedupStream(events: DataFrame, delay: String = "4 days"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(Seq("user_id"))

  case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionOut(user_id: Long, session_events: Long, last_micros: Long)

  /** E2 streaming — gap-based sessionization via flatMapGroupsWithState:
    * emits a session row whenever a 30-min gap closes it. The stateful
    * analog of the batch window-function version (e2_sessionize). */
  def sessionize(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = 30L * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionEvent], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[List[SessionEvent]]) =>
          val prior = state.getOption.getOrElse(Nil)
          val all = (prior ++ rows.toList).sortBy(e => (e.tsMicros, e.event_id))
          // split on gaps; keep the trailing (still-open) session in state
          val sessions = all.foldLeft(List.empty[List[SessionEvent]]) {
            case (acc, e) => acc match {
              case cur :: rest if e.tsMicros - cur.head.tsMicros <= gapMicros =>
                (e :: cur) :: rest
              case _ => List(e) :: acc
            }
          }
          sessions match {
            case open :: closed =>
              state.update(open.reverse)
              closed.reverseIterator.map(s =>
                SessionOut(user, s.size.toLong, s.head.tsMicros))
            case Nil => Iterator.empty
          }
      }
  }

  case class TimedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** E2 streaming, TIMER form — gap sessionization where the trailing
    * session closes by an ENGINE EVENT-TIME TIMER instead of a data-driven
    * sentinel: each batch re-registers the open session's timeout at
    * (last event + gap), and when the watermark passes it the engine
    * invokes the callback with `hasTimedOut` — the production mechanism
    * for "session ends after N quiet minutes" (no future event needed).
    * Data-driven gap closes within a batch emit exactly as in
    * [[sessionize]]; only the trailing-session flush moves from sentinel
    * rows to timers. State per user stays one open session.
    *
    * `watermarkDelay` bounds tolerated cross-key DISORDER: any event
    * whose ts falls below the watermark is dropped as late by the engine
    * before this operator sees it, so a production deployment must set
    * the delay to its source's out-of-orderness (the same contract as
    * [[dedupStream]]'s delay). The battery replay feeds globally
    * ts-sorted chunks, which is the one feed a 0-second delay is sound
    * for — it passes "0 seconds" EXPLICITLY rather than relying on a
    * default that would silently drop data on a real source. */
  def sessionizeTimers(events: Dataset[TimedEvent],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionEvent], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TimedEvent], state: GroupState[List[SessionEvent]]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + gap: the open session is over
            val open = state.getOption.getOrElse(Nil) // latest-first
            state.remove()
            open match {
              case latest :: _ =>
                Iterator.single(SessionOut(user, open.size.toLong, latest.tsMicros))
              case Nil => Iterator.empty
            }
          } else {
            val prior = state.getOption.getOrElse(Nil)
            val incoming = rows.map(e => SessionEvent(e.user_id, e.event_id,
              e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000)).toList
            val all = (prior ++ incoming).sortBy(e => (e.tsMicros, e.event_id))
            val sessions = all.foldLeft(List.empty[List[SessionEvent]]) {
              case (acc, e) => acc match {
                case cur :: rest if e.tsMicros - cur.head.tsMicros <= gapMicros =>
                  (e :: cur) :: rest
                case _ => List(e) :: acc
              }
            }
            sessions match {
              case open :: closed =>
                state.update(open) // latest-first; next batch re-sorts anyway
                // sorted feed => last event + gap is always > the watermark
                state.setTimeoutTimestamp(
                  open.head.tsMicros / 1000 + gapMinutes * 60L * 1000)
                closed.reverseIterator.map(s =>
                  SessionOut(user, s.size.toLong, s.head.tsMicros))
              case Nil => Iterator.empty
            }
          }
      }
  }

  case class DebEvent(user_id: Long, event_type: String, event_id: Long,
    tsMicros: Long)

  /** W10 streaming — debounce dedup via flatMapGroupsWithState: an event
    * is emitted iff the previous event of the same (user, type) — emitted
    * or suppressed — is at least `ttlMicros` older, exactly the batch
    * w10_debounce_dedup lag semantics. State per key is ONE long (the
    * last-seen timestamp), so state size is bounded by key cardinality,
    * not traffic. */
  def debounce(events: Dataset[DebEvent],
      ttlMicros: Long = 600L * 1000000): Dataset[DebEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, DebEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[DebEvent], state: GroupState[Long]) =>
          var prev = state.getOption
          val out = rows.toList.sortBy(e => (e.tsMicros, e.event_id)).flatMap { e =>
            val keep = prev.forall(p => e.tsMicros - p >= ttlMicros)
            prev = Some(e.tsMicros)
            if (keep) Some(e) else None
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** W10 streaming, Spark-4 form — the same debounce on the
    * `transformWithState` arbitrary-state API: per-key state is a single
    * TTL-backed ValueState[Long] (the engine evicts idle keys itself, so
    * state is bounded by ACTIVE keys, not ever-seen keys — the property
    * flatMapGroupsWithState can't give without hand-rolled timeouts).
    *
    * Correctness of eviction: state TTL (`stateTtl`) must be ≥ the
    * debounce window (`ttlMicros`). A key idle long enough to be evicted
    * is by construction past its debounce window, so losing its state
    * never changes which events are emitted — eviction is purely a
    * state-size optimization. Note the engine keeps scheduling empty
    * micro-batches to advance the TTL clock (`shouldRunAnotherBatch` is
    * always true in ProcessingTime mode), so tests must poll the sink
    * rather than call `processAllAvailable()`, which never returns. */
  class DebounceProcessor(ttlMicros: Long, stateTtl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), DebEvent, DebEvent] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}
    @transient private var lastTs: ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      implicit val longEnc: Encoder[Long] = Encoders.scalaLong
      lastTs = getHandle.getValueState[Long]("lastTs", TTLConfig(stateTtl))
    }
    override def handleInputRows(key: (Long, String),
        rows: Iterator[DebEvent],
        timerValues: TimerValues): Iterator[DebEvent] = {
      var prev = Option(lastTs.get()).filter(_ != 0L)
      val out = rows.toList.sortBy(e => (e.tsMicros, e.event_id)).flatMap { e =>
        val keep = prev.forall(p => e.tsMicros - p >= ttlMicros)
        prev = Some(e.tsMicros)
        if (keep) Some(e) else None
      }
      prev.foreach(lastTs.update)
      out.iterator
    }
  }

  /** The debounce above on the Spark-4 `transformWithState` API.
    * Requires the RocksDB state store provider. */
  def debounceTws(events: Dataset[DebEvent],
      ttlMicros: Long = 600L * 1000000,
      stateTtl: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[DebEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    require(stateTtl.toNanos / 1000 >= ttlMicros,
      "state TTL must cover the debounce window or eviction changes output")
    events.groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new DebounceProcessor(ttlMicros, stateTtl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** J1 streaming — stream-static broadcast enrichment: the reference's
    * per-row channel-name lookup (dataingestion1.py:129-133) as a
    * streaming micro-batch joined against a static broadcast dimension.
    * The dim is re-broadcast per micro-batch planning cycle; at scale the
    * stream side never shuffles. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String,
      nameCol: String, default: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
      .withColumn(nameCol, coalesce(col(nameCol), lit(default)))

  /** E7 streaming — stream-stream interval join: clicks matched to errors
    * of the same user within the trailing 10 minutes, both sides
    * watermarked so the join state is bounded (Spark retains each side
    * only until the other side's watermark passes the interval bound —
    * the state-cleanup contract that makes stream-stream joins viable on
    * unbounded input). Batch form of the same semantics: e7_range_join. */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val e = errors.select(col("event_id").as("error_id"),
      col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "10 minutes")
    e.join(c,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("e_ts"),
      "inner")
      .select(col("error_id"), col("click_id"), col("user_id"))
  }

  /** E7 streaming, LEFT OUTER form — every error emits, null-padded when
    * no same-user click precedes it within 10 minutes. Outer interval
    * joins are the harder engine contract: matched rows emit on arrival,
    * but an UNMATCHED left row can only emit once the right-side
    * watermark has passed its interval bound (proving no matching click
    * can still arrive) — so results depend on watermark-driven state
    * eviction, not just state retention. Both sides watermarked; state
    * stays bounded exactly as in [[clickErrorJoin]]. */
  def clickErrorLeftJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val e = errors.select(col("event_id").as("error_id"),
      col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "10 minutes")
    e.join(c,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("e_ts"),
      "leftOuter")
      .select(col("error_id"), col("click_id"), col("user_id"))
  }

  /** §3.3 drain — the staging→warehouse epoch as a foreachBatch sink:
    * each micro-batch commits as AtomicWarehouse epoch `epochId`
    * (`load_seq` = `epochId`). Checkpointed offsets give exactly-once per
    * epoch, and a batch replayed after a crash re-commits a committed
    * seq, which [[graft.sinks.AtomicWarehouse.commitEpoch]] no-ops;
    * readers get the keyed last-wins merge from
    * [[graft.sinks.AtomicWarehouse.read]]. */
  def drainSink(stream: DataFrame, warehouseDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        graft.sinks.AtomicWarehouse.commitEpoch(batch.sparkSession,
          warehouseDir, batch.withColumn("load_seq", lit(epochId)), epochId)
      }
      .start()
}
