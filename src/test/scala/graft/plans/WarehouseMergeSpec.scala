package graft.plans

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The SQL MERGE's general path reads its target KEY-BOUND: a source of
  * at most 64 keys joins against those keys' pruned point lookups, with
  * results equal to the full-snapshot join; and a MERGE's entry name is
  * a function of the statement and its base version alone. */
class WarehouseMergeSpec extends SparkSuite {

  /** A catalog `cat` over a fresh root, merging on `key`. */
  private def catalog(cat: String, key: String = "k"): String = {
    val r = java.nio.file.Files.createTempDirectory(s"wh_$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", r)
    spark.conf.set(s"spark.sql.catalog.$cat.mergeKey", key)
    r
  }

  /** Rows `lo..hi` of epoch `seq`: key `id` (a long, or "v%03d" when
    * `str`), a per-epoch name and a segment. */
  private def epoch(lo: Int, hi: Int, seq: Long, str: Boolean): DataFrame =
    spark.range(lo, hi + 1).select(
      (if (str) format_string("v%03d", col("id")) else col("id")).as("k"),
      concat(lit(s"e$seq-"), col("id").cast("string")).as("name"),
      (col("id") % 3).cast("string").as("seg"),
      lit(seq).as("load_seq"))

  /** Three epochs (keys 1-30, 20-40, 35-50: keys 20-30 and 35-40 have
    * versions in two epochs), key stats and blooms, then a tombstone
    * over keys 5 and 36. */
  private def build(dir: String, str: Boolean): Unit = {
    Seq((1, 30), (20, 40), (35, 50)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        AtomicWarehouse.commitEpoch(spark, dir, epoch(lo, hi, i + 1L, str),
          i + 1L, statsKey = Some("k"), bloomKey = Some("k"))
    }
    if (str) AtomicWarehouse.purgeKeysDeferredStr(spark, dir, "k",
      Seq("v005", "v036"))
    else AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(5L, 36L))
  }

  private val mergeSql =
    """MERGE INTO %s t USING %s s ON t.k = s.k
      |WHEN MATCHED AND s.name = 'skip' THEN UPDATE SET seg = 'skipped'
      |WHEN MATCHED THEN UPDATE SET name = concat(t.name, '+', s.name)
      |WHEN NOT MATCHED AND s.name <> 'drop' THEN
      |  INSERT (k, name) VALUES (s.k, s.name)""".stripMargin

  /** The general path as it read before key binding: the source
    * left-outer-joined to the FULL merged snapshot, branches applied
    * first-match-wins (a NULL condition is false). */
  private def fullReadModel(dir: String, src: DataFrame): DataFrame = {
    val t = AtomicWarehouse.read(spark, dir, "k")
    val j = src.as("s").join(t.as("t"), col("s.k") === col("t.k"),
      "left_outer")
    val matched = col("t.k").isNotNull
    val skip = coalesce(col("s.name") === "skip", lit(false))
    val insert = coalesce(col("s.name") =!= "drop", lit(false))
    j.where(matched || insert).select(
      when(matched, col("t.k")).otherwise(col("s.k")).as("k"),
      when(matched && skip, col("t.name"))
        .when(matched, concat(col("t.name"), lit("+"), col("s.name")))
        .otherwise(col("s.name")).as("name"),
      when(matched && skip, lit("skipped"))
        .when(matched, col("t.seg")).otherwise(lit(null)).as("seg"))
  }

  /** Rows of the entries committed after `before`, data entries only. */
  private def appended(dir: String, before: Seq[String]): Seq[String] =
    AtomicWarehouse.committedEpochs(spark, dir).filterNot(before.contains)
      .filterNot(AtomicWarehouse.isTombstone)
      .flatMap(n => spark.read.parquet(s"$dir/$n")
        .select("k", "name", "seg").collect().map(_.toString))
      .sorted

  test("key-bound MERGE appends exactly what the full-snapshot join did " +
      "(string and long keys, both typedFeedEntries modes)") {
    for (str <- Seq(true, false); typed <- Seq(false, true)) {
      val cat = s"whmkb_${if (str) "s" else "l"}${if (typed) "t" else "p"}"
      val r = catalog(cat)
      val dir = s"$r/t"
      build(dir, str)
      def key(i: Int): Any = if (str) f"v$i%03d" else i.toLong
      // tombstoned 5, two-epoch 22 and 38, duplicated 10, skipped 12,
      // null keys, new 99 (inserted) and 98 (dropped by its condition)
      val srcRows = Seq(key(5) -> "a", key(22) -> "b", key(38) -> "c",
        key(10) -> "d", key(10) -> "e", key(12) -> "skip", (null: Any) -> "f",
        (null: Any) -> "g", key(99) -> "h", key(98) -> "drop")
      val schema = s"k ${if (str) "string" else "bigint"}, name string"
      val src = spark.createDataFrame(
        srcRows.map(p => Row(p._1, p._2)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(schema))
      src.createOrReplaceTempView(s"${cat}_src")
      val want = fullReadModel(dir, src).collect().map(_.toString).sorted
      val before = AtomicWarehouse.committedEpochs(spark, dir)
      spark.conf.set("graft.merge.typedFeedEntries", typed.toString)
      try spark.sql(mergeSql.format(s"$cat.t", s"${cat}_src"))
      finally spark.conf.unset("graft.merge.typedFeedEntries")
      val got = appended(dir, before)
      assert(got == want.toSeq, s"str=$str typed=$typed")
      // the model's own shape: tombstoned 5 and both null keys insert,
      // 22 and 38 update their latest versions, 10 updates twice, 98 is
      // dropped
      assert(want.length == 9, want.mkString("\n"))
      assert(want.exists(_.contains("e2-22+b")) &&
        want.exists(_.contains("e3-38+c")), want.mkString("\n"))
    }
  }

  test("a 3-row VALUES MERGE: pinned jobs, no window or exchange over " +
      "the full table") {
    val r = catalog("whmvals", "video_id")
    val dir = s"$r/videos"
    (1 to 4).foreach { i =>
      AtomicWarehouse.commitEpoch(spark, dir,
        spark.range((i - 1) * 200L, i * 200L).select(
          format_string("vid%05d", col("id")).as("video_id"),
          concat(lit("t"), col("id").cast("string")).as("video_title"),
          col("id").cast("string").as("views"),
          lit(i.toLong).as("load_seq")), i.toLong,
        statsKey = Some("video_id"), bloomKey = Some("video_id"))
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try jobsFiredBy {
      spark.sql(
        """MERGE INTO whmvals.videos t USING (SELECT * FROM VALUES
          |  ('vid00010', 'x', '1'), ('vid00610', 'y', '2'),
          |  ('vid99999', 'z', '3') AS s(video_id, video_title, views)) s
          |ON t.video_id = s.video_id
          |WHEN MATCHED THEN UPDATE SET t.views = s.views,
          |  t.video_title = s.video_title
          |WHEN NOT MATCHED THEN INSERT (video_id, video_title, views)
          |  VALUES (s.video_id, s.video_title, s.views)""".stripMargin)
        .collect()
    } finally spark.listenerManager.unregister(listener)
    val after = AtomicWarehouse.read(spark, dir, "video_id")
      .where(col("video_id").isin("vid00010", "vid00610", "vid99999"))
      .select("video_id", "video_title", "views").collect()
      .map(_.toString).sorted
    assert(after.toSeq == Seq("[vid00010,x,1]", "[vid00610,y,2]",
      "[vid99999,z,3]"))
    // 4 on this fixture (local[4], 4 shuffle partitions): the broadcast
    // of the union of the two point lookups that open an epoch (vid99999
    // is past every zone map; each lookup pins its key, so its last-wins
    // window plans as a top-1 inside that job) to the join, the merge
    // epoch's write, and the two stages of its one bloom aggregate. The
    // probe of the VALUES source runs none.
    assert(jobs == 4, s"the MERGE fired $jobs jobs")
    // no window and no hash exchange anywhere: the lookups are top-1s,
    // the join broadcasts, and the bloom aggregate's exchange is
    // single-partition
    val qes = plans.asScala.toSeq
    val windows = qes.flatMap(_.optimizedPlan.collect { case w: Window => w })
    assert(windows.isEmpty, windows.mkString("\n"))
    val exchanges = qes.flatMap(qe => AQE.collect(qe.executedPlan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    })
    assert(exchanges.isEmpty, exchanges.mkString("\n"))
  }

  private object AQE extends AdaptiveSparkPlanHelper

  test("a MERGE's entry name depends on the statement and its base only") {
    val r = catalog("whmdig")
    def mergeInto(t: String): String = {
      val dir = s"$r/$t"
      build(dir, str = false)
      spark.sql(
        s"""MERGE INTO whmdig.$t t USING (SELECT * FROM VALUES (22L, 'b'),
           |  (99L, 'n') AS s(k, name)) s ON t.k = s.k
           |WHEN MATCHED AND s.name <> 'x' THEN
           |  UPDATE SET name = concat(t.name, s.name)
           |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
           |""".stripMargin)
      AtomicWarehouse.committedEpochs(spark, dir).last
    }
    val first = mergeInto("a")
    // unrelated analysis in between moves the expression-id counter
    (1 to 3).foreach(i => spark.range(i).selectExpr("id + 1 AS x", "id AS y")
      .queryExecution.analyzed)
    val second = mergeInto("b")
    assert(first.startsWith("merge_v4_") && first == second,
      s"$first vs $second")
  }
}
