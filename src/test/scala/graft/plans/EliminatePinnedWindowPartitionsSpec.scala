package graft.plans

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** A window partition that the child's constraints pin to one literal is
  * dropped, and a lone `row_number() = 1` over keys all pinned plans as a
  * top-1: every answer equals a run with the rule listed in Spark's
  * `spark.sql.optimizer.excludedRules`, and the warehouse's point lookups
  * run no job (the top-1 is picked on the driver) and no exchange or
  * window. */
class EliminatePinnedWindowPartitionsSpec extends SparkSuite {
  import spark.implicits._

  private val RuleName = EliminatePinnedWindowPartitions.ruleName

  /** The optimized plan and the sorted rows of `df()`, built and run
    * with the rule and again with it excluded. */
  private def onOff(df: => DataFrame)
      : ((LogicalPlan, Seq[String]), (LogicalPlan, Seq[String])) = {
    def run() = {
      val d = df
      (d.queryExecution.optimizedPlan,
        d.collect().map(_.toString).sorted.toSeq)
    }
    val on = run()
    spark.conf.set("spark.sql.optimizer.excludedRules", RuleName)
    try (on, run())
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def windows(p: LogicalPlan): Seq[Window] =
    p.collect { case w: Window => w }

  /** 90 rows: 5 string keys `k0`..`k4`, 3 long keys, a total `seq`
    * order, and a value null on every 7th row; plus a 3-row dimension
    * with two rows for `k3`. */
  private lazy val tables: Unit = {
    val d = java.nio.file.Files.createTempDirectory("pinwin").toString
    spark.range(0, 90).select(
      concat(lit("k"), (col("id") % 5).cast("string")).as("ks"),
      (col("id") % 3).as("kl"), col("id").as("seq"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 10).as("v"))
      .repartition(3).write.parquet(s"$d/t")
    Seq(("k1", "one"), ("k3", "three"), ("k3", "three-b")).toDF("ks", "label")
      .write.parquet(s"$d/d")
    spark.read.parquet(s"$d/t").createOrReplaceTempView("pinwin_t")
    spark.read.parquet(s"$d/d").createOrReplaceTempView("pinwin_d")
  }

  private def lastWins(partition: String, where: String,
      keep: String = "rn = 1"): String =
    s"""SELECT * FROM (SELECT ks, kl, seq, v, row_number() OVER
       |  (PARTITION BY $partition ORDER BY seq DESC) rn
       |  FROM pinwin_t WHERE $where) WHERE $keep""".stripMargin

  test("pinned windows answer as with the rule excluded: string, long " +
      "and composite keys, <=>, a join-pinned key; rank, sum, lag") {
    tables
    // all keys pinned, row_number filtered to the first row: a top-1
    val topOne = Seq(
      lastWins("ks", "ks = 'k2'"),
      lastWins("kl", "kl = 2"),
      lastWins("ks, kl", "ks = 'k2' AND kl = 2"),
      lastWins("ks", "ks <=> 'k4'"),
      lastWins("ks", "ks = 'k1'", keep = "rn <= 1"),
      // a conjunct beside rn = 1 stays above the top-1
      lastWins("ks", "ks = 'k3'", keep = "rn = 1 AND seq > 80"),
      lastWins("ks", "ks = 'k3'", keep = "rn = 1 AND seq > 88"),
      """SELECT * FROM (SELECT p.ks, p.seq, d.label, row_number() OVER
        |  (PARTITION BY p.ks ORDER BY p.seq DESC, d.label) rn
        |  FROM pinwin_t p JOIN pinwin_d d ON p.ks = d.ks
        |  WHERE d.ks = 'k3') WHERE rn = 1""".stripMargin)
    topOne.foreach { q =>
      val ((onPlan, onRows), (offPlan, offRows)) = onOff(spark.sql(q))
      assert(onRows == offRows, q)
      assert(windows(onPlan).isEmpty && windows(offPlan).nonEmpty,
        s"$q\n$onPlan")
    }
    assert(onOff(spark.sql(lastWins("ks", "ks = 'k2'")))._1._2 ==
      Seq("[k2,0,87,870,1]"))
    assert(onOff(spark.sql(lastWins("ks", "ks = 'k3'",
      keep = "rn = 1 AND seq > 88")))._1._2.isEmpty)
    // some keys pinned, or another window function: only the pinned
    // keys leave the partitioning
    val dropped = Seq(
      lastWins("ks, kl", "ks = 'k2'") -> Seq("kl"),
      "SELECT ks, seq, rank() OVER (PARTITION BY ks ORDER BY kl) r " +
        "FROM pinwin_t WHERE ks = 'k1'" -> Nil,
      "SELECT ks, seq, sum(v) OVER (PARTITION BY ks) s " +
        "FROM pinwin_t WHERE ks = 'k1'" -> Nil,
      "SELECT ks, seq, lag(v) OVER (PARTITION BY ks, kl ORDER BY seq) l " +
        "FROM pinwin_t WHERE kl = 0 AND ks = 'k0'" -> Nil)
    dropped.foreach { case (q, left) =>
      val ((onPlan, onRows), (offPlan, offRows)) = onOff(spark.sql(q))
      assert(onRows == offRows, q)
      assert(windows(onPlan).map(_.partitionSpec.flatMap(
        _.references.map(_.name))) == Seq(left), s"$q\n$onPlan")
      assert(windows(offPlan).forall(_.partitionSpec.nonEmpty), q)
    }
  }

  test("windows the rule must leave alone keep their plan and answer: " +
      "a 2-key IN list, = NULL, a range, a nondeterministic key, a " +
      "cast-pinned readPoint") {
    tables
    val kept = Seq(
      lastWins("ks", "ks IN ('k1', 'k2')"),
      lastWins("ks", "ks = NULL"),
      lastWins("kl", "kl > 1"),
      lastWins("concat(ks, CAST(rand(7) AS STRING))", "ks = 'k1'"))
    kept.foreach { q =>
      val ((onPlan, onRows), (offPlan, offRows)) = onOff(spark.sql(q))
      assert(onRows == offRows, q)
      assert(onPlan.sameResult(offPlan), s"$q\n$onPlan\n$offPlan")
    }
    // a string key holding "5" and "05": cast(k AS BIGINT) = 5 matches
    // both, two groups with a winner each
    val dir = java.nio.file.Files.createTempDirectory("pinwin_cast")
      .toString + "/wh"
    Seq(1L, 2L).foreach { s =>
      AtomicWarehouse.commitEpoch(spark, dir,
        Seq("5", "05", "6").toDF("k").withColumn("name",
          concat(col("k"), lit(s"@$s"))).withColumn("load_seq", lit(s)), s)
    }
    // both runs plan the same read: a lookup's files are read on the
    // driver by a node each lookup builds afresh
    val point = AtomicWarehouse.readPoint(spark, dir, "k", 5L)
      .queryExecution.logical
    val ((onPlan, onRows), (offPlan, offRows)) =
      onOff(org.apache.spark.sql.GraftBridge.ofRows(spark, point))
    assert(onRows == offRows && onRows == Seq("[05,05@2,2]", "[5,5@2,2]"),
      onRows.mkString(" "))
    assert(onPlan.sameResult(offPlan) && windows(onPlan).nonEmpty, onPlan)
  }

  private object AQE extends AdaptiveSparkPlanHelper

  /** Jobs `df`'s collect fires, and its executed plan's exchanges and
    * window operators. */
  private def executed(df: => DataFrame): (Int, Seq[SparkPlan]) = {
    var d: DataFrame = null
    val jobs = jobsFiredBy { d = df; d.collect() }
    (jobs, AQE.collect(d.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
      case w: WindowExec => w
    })
  }

  /** Four epochs of 200 keys overlapping by 50 with the next, key stats
    * and blooms: 150-199 have versions in two epochs. */
  private def warehouse(dir: String, key: String)(k: org.apache.spark.sql.Column)
      : Unit = (1 to 4).foreach { i =>
    AtomicWarehouse.commitEpoch(spark, dir,
      spark.range((i - 1) * 150L, (i - 1) * 150L + 200).select(
        (k :: (if (key.contains(",")) List(lit("g").as("grp")) else Nil)) ++
          List(concat(lit("t"), col("id").cast("string")).as("title"),
            lit(i.toLong).as("load_seq")): _*), i.toLong,
      statsKey = Some(key), bloomKey = Some(key))
  }

  test("a key-pinned last-wins lookup runs no job, no exchange, no " +
      "window: catalog SQL, readPointStr, readPoint, readPointComposite; " +
      "the key-bound reads of PointBound and UPDATE") {
    val r = java.nio.file.Files.createTempDirectory("wh_pinwin").toString
    spark.conf.set("spark.sql.catalog.whpin",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whpin.root", r)
    spark.conf.set("spark.sql.catalog.whpin.mergeKey", "video_id")
    warehouse(s"$r/videos", "video_id")(
      format_string("vid%05d", col("id")).as("video_id"))
    warehouse(s"$r/longs", "id")(col("id"))
    warehouse(s"$r/pairs", "grp,id")(col("id"))
    val lookups = Seq[(String, () => DataFrame, String)](
      ("catalog SQL", () => spark.sql(
        """SELECT title FROM (SELECT title, row_number() OVER (PARTITION BY
          |  video_id ORDER BY CAST(load_seq AS BIGINT) DESC) rn
          |  FROM whpin.videos WHERE video_id = 'vid00160') WHERE rn = 1
          |""".stripMargin), "[t160]"),
      ("readPointStr", () => AtomicWarehouse.readPointStr(spark,
        s"$r/videos", "video_id", "vid00160").select("title"), "[t160]"),
      ("readPoint", () => AtomicWarehouse.readPoint(spark, s"$r/longs",
        "id", 170L).select("title", "load_seq"), "[t170,2]"),
      ("readPointComposite", () => AtomicWarehouse.readPointComposite(spark,
        s"$r/pairs", "grp,id", Seq("g", "460")).select("title", "load_seq"),
        "[t460,4]"))
    val off = lookups.flatMap { case (name, df, want) =>
      val (jobs, ops) = executed(df())
      assert(df().collect().map(_.toString).toSeq == Seq(want), name)
      if (jobs == 0 && ops.isEmpty) None else Some(s"$name: $jobs jobs, $ops")
    }
    assert(off.isEmpty, off.mkString("\n"))
    // the key-bound read of UPDATE, DELETE and MERGE: a union of pinned
    // lookups, none shuffling by hash
    val (_, ops) = executed(PointBound.read(spark, s"$r/videos", "video_id",
      "string", Seq("vid00010", "vid00160", "vid00460")))
    assert(!ops.exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    } && !ops.exists(_.isInstanceOf[WindowExec]), ops)
    // and a key-bound UPDATE writes its lookup's row (picked on the
    // driver; the top-1 never was a job of its own) in the write job;
    // the other two are the stages of the commit's bloom aggregate
    val update = jobsFiredBy(spark.sql("UPDATE whpin.videos SET title = " +
      "'u' WHERE video_id = 'vid00160'").collect())
    assert(update == 3, s"the UPDATE fired $update jobs")
    assert(AtomicWarehouse.readPointStr(spark, s"$r/videos", "video_id",
      "vid00160").select("title").collect().map(_.toString).toSeq ==
      Seq("[u]"))
  }
}
