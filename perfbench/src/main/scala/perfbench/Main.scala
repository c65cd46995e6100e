package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.sinks.AtomicWarehouse

/** Benchmark harness: one closed-loop client in one JVM, driving the
  * engine only through its public entry points. `run.py` generates the
  * inputs, launches this main, and checks what it reports.
  *
  * Arguments (all required): `--workload --in --work --out --trace 0|1
  * --cores --units --batch-rows --warm`. The result is a JSON object
  * written to `--out`. */
object Main {
  /** `units` is the timed work: epochs, or operations; `batchRows` the
    * micro-batch admission limit (`maxRowsPerBatch`) of the timed stream;
    * `warm` the warm-up batches as `<count>x<rows>,...`. */
  final case class Conf(workload: String, in: String, work: String,
      out: String, trace: Boolean, cores: Int, units: Int, batchRows: Int,
      warm: Seq[(Int, Int)])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(kv("workload"), kv("in"), kv("work"), kv("out"),
      kv("trace") == "1", kv("cores").toInt, kv("units").toInt,
      kv("batch-rows").toInt,
      kv("warm").split(",").filter(_.nonEmpty).map(_.split("x") match {
        case Array(k, r) => (k.toInt, r.toInt)
      }).toSeq)
    val spark = session(c)
    val tracers = if (c.trace) Some(new Tracers(spark)) else None
    val result = c.workload match {
      case "warehouse_serve" => Serve.run(spark, c, tracers)
      case _ => Epochs.run(spark, c, tracers)
    }
    val env = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    Json.write(c.out, result ++ env)
    spark.stop()
  }

  def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.catalog.whc", "graft.sources.v2.WarehouseCatalog")
      .config("spark.sql.catalog.whc.root", s"${c.work}/whroot")
      .config("spark.sql.catalog.whc.mergeKey", "video_id")
    if (c.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    if (c.trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem],
        s"file: resolves to ${fs.getClass.getName}, not the counting filesystem")
    }
    spark
  }

  /** Total size of the data files (names not starting with `_` or `.`)
    * under `dir`. */
  def dataBytes(dir: File): Long =
    Option(dir.listFiles).toSeq.flatten.map { f =>
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else if (f.isDirectory) dataBytes(f) else f.length
    }.sum

  /** Heap in use after forced full collections, in MiB. Spark frees
    * storage blocks of collected RDDs and broadcasts on its cleaner
    * thread, so collect, let it run, and collect again. */
  def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mx.gc(); Thread.sleep(300) }
    mx.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The traced run's listeners. Counters record only between [[start]] and
  * [[stop]]; both flush the listener queue first, so no event from outside
  * the timed section leaks in and none from inside it is lost. */
final class Tracers(spark: SparkSession) {
  val jobs = new JobTracer
  val streams = new StreamTracer
  private val sampler = new Sampler(5)
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(new PlanTracer)
  spark.streams.addListener(streams)
  sampler.start()

  /** Runs a marker job and waits for its end event: the shared listener
    * queue is FIFO, so every event posted before it has been delivered. */
  private def flush(): Unit = {
    val sc = spark.sparkContext
    val before = jobs.sentinels.get
    sc.setLocalProperty("perfbench.sentinel", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.sentinel", null)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (jobs.sentinels.get == before && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(jobs.sentinels.get > before, "listener queue did not drain in 60 s")
  }

  def start(): Unit = { flush(); Counters.reset(); jobs.intervals.clear(); Counters.on = true }
  def stop(): Map[String, Long] = {
    flush(); Counters.on = false
    Counters.snapshot() + ("spark.job_union_ms" -> jobs.unionMs())
  }
}

object Epochs {
  val WindowStart = "2024-05-01T00:00:00Z"
  val WindowEnd = "2024-05-02T23:59:59Z"
  val Owners = Seq("owner1", "owner2", "owner3")
  val Checks = Seq(
    "video_id_present" -> "video_id IS NOT NULL",
    "seq_nonneg" -> "ingest_seq >= 0",
    "published_in_window" ->
      "published_at >= '2024-05-01' AND published_at <= '2024-05-03'")

  def run(spark: SparkSession, c: Main.Conf,
      tracers: Option[Tracers]): Map[String, Any] = {
    // dims and facts are loaded once per driving and materialized, as the
    // c30 battery entry does: they are invariant across epochs
    val (channels, employees, shows, cpm) = {
      val (a, b, d, e) = Pipeline.loadDims(spark, s"${c.in}/dims")
      (a.localCheckpoint(), b.localCheckpoint(), d.localCheckpoint(), e.localCheckpoint())
    }
    val facts = spark.read.parquet(s"${c.in}/facts.parquet").localCheckpoint()
    val pool = spark.read.parquet(s"${c.in}/videos.parquet")
    val poolRows = pool.count()
    def srcFor(batch: DataFrame) = {
      // a stream pins every job's call site to its start() call; clearing
      // it lets traced runs attribute each job to the file that ran it
      if (tracers.isDefined) spark.sparkContext.clearCallSite()
      Pipeline.Sources(batch, channels, employees, shows, cpm, facts, Owners)
    }

    /** Writes rows [from, from + n) of the pool through the graft-videos
      * sink into `<work>/<tag>/videos`, returning that directory. */
    def arrive(tag: String, from: Long, n: Long): String = {
      val dir = s"${c.work}/$tag/videos"
      pool.where(col("ingest_seq") >= from && col("ingest_seq") < from + n)
        .write.format("graft-videos").option("path", dir).mode("append").save()
      dir
    }
    /** Drains `videos` with `Trigger.AvailableNow`; per-epoch
      * (triggerExecution ms, rows) of the batches that carried rows. */
    def drain(tag: String, videos: String, batch: Int)
        : (Seq[(Long, Long)], Long, Long, Option[Throwable], java.util.UUID) = {
      val base = s"${c.work}/$tag"
      val stream = spark.readStream.format("graft-videos")
        .option("path", videos).option("maxRowsPerBatch", batch.toString).load()
      val t0 = System.currentTimeMillis()
      val q = Pipeline.streamEpochs(spark, stream, srcFor,
        Pipeline.Dirs(s"$base/staging", s"$base/warehouse"),
        WindowStart, WindowEnd, Checks, s"$base/checkpoint")
      val err = try { q.awaitTermination(); None }
        catch { case e: Throwable => Some(e) }
      val t1 = System.currentTimeMillis()
      val epochs = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
        (p.durationMs.get("triggerExecution").longValue, p.numInputRows))
      (epochs, t0, t1, err, q.id)
    }

    // warm-up: JIT, codegen caches and class loading, on throwaway dirs
    var from = 0L
    val w0 = System.nanoTime()
    val warm = c.warm.zipWithIndex.flatMap { case ((k, rows), i) =>
      val v = arrive(s"warm$i", from, k.toLong * rows)
      from += k.toLong * rows
      val (ep, _, _, err, _) = drain(s"warm$i", v, rows)
      err.foreach(throw _)
      ep.map(_._1)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val rows = math.min(poolRows, c.units.toLong * c.batchRows)
    val videos = arrive("run", 0L, rows)
    val inputBytes = Main.dataBytes(new File(videos))

    // a traced run first drains half the timed epochs untraced, on their
    // own dirs: the reference for the tracing overhead
    val reference = if (tracers.isEmpty) Nil else {
      val half = math.max(1L, c.units / 2L) * c.batchRows
      val (ep, _, _, err, _) =
        drain("reference", arrive("reference", 0L, math.min(rows, half)), c.batchRows)
      err.foreach(throw _)
      ep.map(_._1)
    }

    tracers.foreach(_.start())
    val (timed, t0, t1, err, id) = drain("run", videos, c.batchRows)
    val counters = tracers.map { t => t.streams.awaitEnd(id); t.stop() }
      .getOrElse(Map.empty)
    val heapMb = Main.retainedHeapMb()

    val wh = s"${c.work}/run/warehouse"
    // committed row versions per epoch, and the last-wins snapshot
    val (committed, snapshot) =
      if (new File(s"$wh/_manifest").exists) {
        val perEpoch = spark.read.format("graft-warehouse").option("path", wh)
          .load().groupBy(col("load_seq").cast("string")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val out = s"${c.work}/snapshot"
        AtomicWarehouse.read(spark, wh, "video_id").coalesce(1)
          .write.mode("overwrite").parquet(out)
        (perEpoch, out)
      } else (Map.empty[String, Long], "")
    Map(
      "timed_start_ms" -> t0,
      "stream_wall_s" -> (t1 - t0) / 1000.0,
      "epochs" -> timed.map { case (ms, n) => Seq(ms, n) },
      "warm_epochs_ms" -> warm,
      "reference_epochs_ms" -> reference,
      "warm_s" -> warmS,
      "batch_rows" -> c.batchRows,
      "pool_rows" -> rows,
      "committed_rows" -> committed,
      "snapshot" -> snapshot,
      "input_bytes" -> inputBytes,
      "heap_retained_mb" -> heapMb,
      "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull,
      "counters" -> counters)
  }
}

object Serve {
  /** Operation classes: snapshot rollups, key lookups, key-bound DML. */
  def opClass(kind: String): String = kind.takeWhile(_ != '_') match {
    case "scan" => "scan"
    case "point" | "range" => "lookup"
    case _ => "dml"
  }

  private val LastWins =
    "row_number() OVER (PARTITION BY video_id ORDER BY CAST(load_seq AS BIGINT) DESC)"

  /** Rows the warehouse connector's scans produced in an executed plan. */
  def warehouseRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => warehouseRows(a.executedPlan)
    case q: QueryStageExec => warehouseRows(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.v2.WarehouseScan] =>
      b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(warehouseRows).sum
  }

  private def rollup(df: DataFrame, by: String): DataFrame =
    df.groupBy(col(by)).agg(count(lit(1)), sum(col("views").cast("long")))

  private def render(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      .sorted.mkString(";")

  private def q(s: String) = "'" + s.replace("'", "''") + "'"

  /** Executes one operation line (`<table>\t<kind>\t<args>...`) against
    * catalog table `whc.<table>`, stored at `<root>/<table>`; returns
    * (result, rows read by connector scans, rows returned). */
  def execute(spark: SparkSession, root: String, line: Array[String])
      : (String, Long, Long) = {
    val (t, dir, op) = (s"whc.${line(0)}", s"$root/${line(0)}", line.tail)
    def sql(s: String): (String, Long, Long) = {
      val df = spark.sql(s)
      val rows = df.collect()
      (render(rows), warehouseRows(df.queryExecution.executedPlan), rows.length.toLong)
    }
    def local(df: DataFrame): (String, Long, Long) = {
      val rows = df.collect(); (render(rows), 0L, rows.length.toLong)
    }
    op(0) match {
      case "scan_sql" => sql(
        s"SELECT channel_name, count(1), sum(CAST(views AS BIGINT)) FROM " +
          s"(SELECT channel_name, views, $LastWins rn FROM $t) " +
          "WHERE rn = 1 GROUP BY channel_name")
      case "scan_read" =>
        local(rollup(AtomicWarehouse.read(spark, dir, "video_id"), "category"))
      case "point_sql" => sql(
        s"SELECT video_title, views FROM (SELECT video_title, views, $LastWins rn " +
          s"FROM $t WHERE video_id = ${q(op(1))}) WHERE rn = 1")
      case "point_read" => local(AtomicWarehouse.readPointStr(spark, dir,
        "video_id", op(1)).select("video_title", "views"))
      case "range_sql" => sql(
        s"SELECT count(1), sum(CAST(views AS BIGINT)) FROM (SELECT views, " +
          s"$LastWins rn FROM $t WHERE video_id BETWEEN ${q(op(1))} " +
          s"AND ${q(op(2))}) WHERE rn = 1")
      case "range_read" => local(AtomicWarehouse.readRangeOn(spark, dir,
        "video_id", "video_id", op(1), op(2))
        .agg(count(lit(1)), sum(col("views").cast("long"))))
      case "update" =>
        spark.sql(s"UPDATE $t SET views = CAST(CAST(views AS BIGINT) + 7 " +
          s"AS STRING), video_title = concat(video_title, ' *') " +
          s"WHERE video_id = ${q(op(1))}").collect()
        ("OK", 0L, 0L)
      case "delete" =>
        spark.sql(s"DELETE FROM $t WHERE video_id IN " +
          op(1).split(",").map(q).mkString("(", ", ", ")")).collect()
        ("OK", 0L, 0L)
      case "merge" =>
        val values = op(1).split(";").map(_.split("\\|", -1).map(q)
          .mkString("(", ", ", ")")).mkString(", ")
        spark.sql(s"MERGE INTO $t t USING (SELECT * FROM VALUES $values " +
          "AS s(video_id, video_title, views, channel_name)) s " +
          "ON t.video_id = s.video_id " +
          "WHEN MATCHED THEN UPDATE SET t.views = s.views, t.video_title = s.video_title " +
          "WHEN NOT MATCHED THEN INSERT (video_id, video_title, views, channel_name) " +
          "VALUES (s.video_id, s.video_title, s.views, s.channel_name)").collect()
        ("OK", 0L, 0L)
      case other => throw new IllegalArgumentException(s"unknown operation $other")
    }
  }

  /** Builds the warehouses (`<in>/<table>/epoch_NNN.parquet`, committed in
    * order with key stats and a key bloom filter), runs the `warm` table's
    * operations to warm up, and times `units` operations on `videos`. A
    * traced run first runs one untraced cycle of `videos` operations, the
    * reference for the tracing overhead. */
  /** Operations in one cycle of the mix (gen.py's CYCLE). */
  val CycleOps = 12

  def run(spark: SparkSession, c: Main.Conf,
      tracers: Option[Tracers]): Map[String, Any] = {
    val root = s"${c.work}/whroot"
    val b0 = System.nanoTime()
    for (table <- Seq("warm", "videos")) {
      new File(s"${c.in}/$table").listFiles.filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          AtomicWarehouse.commitEpoch(spark, s"$root/$table",
            spark.read.parquet(f.getPath), i + 1L,
            statsKey = Some("video_id"), bloomKey = Some("video_id"))
        }
    }
    val ops = scala.io.Source.fromFile(s"${c.in}/ops.tsv").getLines()
      .map(_.split("\t", -1)).toIndexedSeq
    val sc = spark.sparkContext
    val records = ArrayBuffer.empty[Map[String, Any]]
    var lookupRead, lookupReturned = 0L
    def one(i: Int, timed: Boolean, ref: Boolean = false): Unit = {
      val cls = opClass(ops(i)(1))
      sc.setLocalProperty("perfbench.op", cls)
      Counters.opClass.set(cls)
      val t0 = System.nanoTime()
      val (res, err) =
        try {
          val r = execute(spark, root, ops(i))
          if (timed && cls == "lookup" && ops(i)(1).endsWith("_sql")) {
            lookupRead += r._2; lookupReturned += r._3
          }
          (r._1, null)
        } catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty("perfbench.op", null)
      Counters.opClass.set("")
      records += Map("i" -> i, "kind" -> ops(i)(1), "class" -> cls, "ms" -> ms,
        "timed" -> timed, "untraced_ref" -> ref, "result" -> res, "error" -> err)
    }
    val warmOps = ops.indices.filter(ops(_)(0) == "warm")
    val mainOps = ops.indices.filter(ops(_)(0) == "videos")
    val w0 = System.nanoTime()
    warmOps.foreach(one(_, timed = false))
    val w1 = System.nanoTime()
    if (tracers.isDefined) mainOps.take(CycleOps).foreach(one(_, timed = false, ref = true))
    val timedOps = mainOps.drop(if (tracers.isDefined) CycleOps else 0).take(c.units)
    val warehouseBytes = Main.dataBytes(new File(s"$root/videos"))

    tracers.foreach(_.start())
    val t0 = System.currentTimeMillis()
    timedOps.foreach(one(_, timed = true))
    val t1 = System.currentTimeMillis()
    val counters = tracers.map(_.stop()).getOrElse(Map.empty)
    val heapMb = Main.retainedHeapMb()
    Map(
      "timed_start_ms" -> t0,
      "timed_s" -> (t1 - t0) / 1000.0,
      "ops" -> records.toSeq,
      "build_s" -> (w0 - b0) / 1e9,
      "warm_s" -> (w1 - w0) / 1e9,
      "lookup_rows_read" -> lookupRead,
      "lookup_rows_returned" -> lookupReturned,
      "input_bytes" -> warehouseBytes,
      "heap_retained_mb" -> heapMb,
      "counters" -> counters)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
