package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** The manifest tail serves, batch by batch, what the batch change feed
  * serves for each batch's version range (s, e]: one history holding
  * every kind of commit, tailed one version per batch, against the union
  * of batch reads of the same ranges with the same options — and both
  * refuse at the same version when the opt-ins are left out. */
class WarehouseStreamFeedSpec extends SparkSuite {
  import spark.implicits._

  private def rows(lo: Int, hi: Int, seq: Long): DataFrame =
    (lo to hi).map(i => (i.toLong, s"n$i", seq)).toDF("k", "name", "load_seq")

  /** v1 epoch_1, v2 a named SQL-style insert, v3 a fold, v4 a tombstone
    * purge, v5 a logged copy-on-write purge, v6 epoch_6 and v7 a restore
    * to v5, which rolls epoch_6 back. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("wh_streamfeed")
      .toString + "/wh"
    val k = Some("k")
    AtomicWarehouse.commitEpoch(spark, d, rows(1, 10, 1L), 1L,
      statsKey = k, bloomKey = k)
    AtomicWarehouse.commitNamedEpoch(spark, d, rows(8, 14, 2L),
      "insert_v1_feed0001", 2L, statsKey = k, bloomKey = k)
    AtomicWarehouse.compact(spark, d, "k")
    AtomicWarehouse.purgeKeysDeferred(spark, d, "k", Seq(3L))
    AtomicWarehouse.purgeKeys(spark, d, "k", Seq(9L))
    AtomicWarehouse.commitEpoch(spark, d, rows(20, 24, 6L), 6L,
      statsKey = k, bloomKey = k)
    AtomicWarehouse.restore(spark, d, 5L)
    assert(AtomicWarehouse.currentVersion(spark, d) == 7L)
    d
  }

  /** Every row, rendered and sorted. */
  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tailStream(tag: String, opts: Map[String, String]) = {
    val sink = graft.queries.memorySinkName(spark, tag)
    val q = spark.readStream.format("graft-warehouse").option("path", dir)
      .options(opts).option("maxVersionsPerBatch", "1").load()
      .select(col("*"), col("_pos"))
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    (q, sink)
  }

  /** The tail's rows, drained one version per batch. */
  private def tail(tag: String, opts: Map[String, String]): Seq[String] = {
    val (q, sink) = tailStream(tag, opts)
    q.awaitTermination(180000)
    assert(!q.isActive && q.exception.isEmpty, s"$tag: ${q.exception}")
    try rendered(spark.table(sink))
    finally spark.catalog.dropTempView(sink)
  }

  /** The batch feed of the range (s, e]: the snapshot for a
    * default-start tail's first batch, the changes of versions s+1 to e
    * otherwise. */
  private def feed(opts: Map[String, String], s: Long, e: Long,
      snapshotAtZero: Boolean): DataFrame =
    spark.read.format("graft-warehouse").option("path", dir).options(opts)
      .option("startingVersion",
        if (s == 0L && snapshotAtZero) "0" else (s + 1).toString)
      .option("endingVersion", e.toString).load()
      .select(col("*"), col("_pos"))

  private val RefusedAt = """at manifest v(\d+)""".r

  /** The version a refusal names, from anywhere in its cause chain. */
  private def refusedAt(t: Throwable): Long =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage))
      .flatMap(RefusedAt.findFirstMatchIn).next().group(1).toLong

  /** (mode, stream options, feed options without the start, whether the
    * first batch is the snapshot, the opt-in that lets it pass, the
    * version it refuses at without that opt-in). */
  private val modes = Seq(
    ("default start", Map("ignoreDeletes" -> "true"),
      Map("ignoreDeletes" -> "true"), true, "ignoreDeletes", 4L),
    ("startingVersion 1",
      Map("startingVersion" -> "1", "ignoreDeletes" -> "true"),
      Map("ignoreDeletes" -> "true"), false, "ignoreDeletes", 4L),
    ("readChangeFeed from 1",
      Map("startingVersion" -> "1", "readChangeFeed" -> "true",
        "restoreAsDeletes" -> "true"),
      Map("readChangeFeed" -> "true", "restoreAsDeletes" -> "true"), false,
      "restoreAsDeletes", 7L))

  for ((mode, streamOpts, feedOpts, snapshotAtZero, _, _) <- modes)
    test(s"the tail serves the batch feed of each batch's range: $mode") {
      val streamed = tail("sfeq", streamOpts)
      val fed = (0L until 7L).flatMap(s =>
        rendered(feed(feedOpts, s, s + 1, snapshotAtZero))).sorted
      assert(streamed.nonEmpty)
      assert(streamed == fed,
        s"$mode: tail only ${streamed.diff(fed)}; feed only ${fed.diff(streamed)}")
    }

  test("without the opt-ins the tail and the batch feed refuse at one version") {
    for ((mode, streamOpts, feedOpts, snapshotAtZero, optIn, at) <- modes) {
      val (q, sink) = tailStream("sfref", streamOpts - optIn)
      val streamErr = intercept[StreamingQueryException] {
        q.awaitTermination(180000)
      }
      spark.catalog.dropTempView(sink)
      val feedErr = (0L until 7L).iterator.map(s => scala.util.Try(
          feed(feedOpts - optIn, s, s + 1, snapshotAtZero).collect()))
        .collectFirst { case scala.util.Failure(e) => e }
        .getOrElse(fail(s"$mode: the batch feed refused no range"))
      assert(refusedAt(streamErr) == at && refusedAt(feedErr) == at,
        s"$mode: tail ${streamErr.getMessage}; feed ${feedErr.getMessage}")
    }
  }
}
