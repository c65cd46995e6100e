package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps code locations to the repo's layers. Spark records a job's call
  * site (the first frame outside Spark) as `<method> at <File>.scala:<line>`
  * in every stage name, and an SQL execution's as one frame per line, so a
  * job belongs to the layer whose source file issued it. Stack samples
  * belong to the innermost `graft.` frame's layer. */
object Layers {
  private val byFile: Map[String, String] = Map(
    "Pipeline" -> "pipeline", "Stages" -> "pipeline", "Schemas" -> "pipeline",
    "TitleCode" -> "pipeline", "Metrics" -> "pipeline", "Dedup" -> "pipeline",
    "SecondsToHms" -> "pipeline",
    "DimLoader" -> "sources", "AnalyticsSource" -> "sources",
    "VideoSearchSource" -> "sources", "VideoSink" -> "sources",
    "Constraints" -> "sinks.check", "AtomicWarehouse" -> "sinks.commit",
    "Warehouse" -> "sinks.truncate",
    "WarehouseSource" -> "connector", "WarehouseSink" -> "connector",
    "WarehouseCatalog" -> "connector", "WarehouseProcedures" -> "connector",
    "GraftExtensions" -> "plans", "RewriteWarehouseUpdate" -> "plans",
    "RewriteWarehouseDelete" -> "plans", "RewriteWarehouseMerge" -> "plans",
    "FuseTitleCode" -> "plans", "TopKPerGroup" -> "plans",
    "Main" -> "client")

  private val CallSite = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  def ofCallSite(stageName: String): String = stageName match {
    case CallSite(file) => byFile.getOrElse(file, "other")
    case _ => "other"
  }

  private val Frame = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r

  /** Layer of the innermost known source file in a long-form call site
    * (one stack frame per line). */
  def ofFrames(longForm: String): String =
    Frame.findAllMatchIn(longForm).map(_.group(1)).collectFirst(byFile).getOrElse("other")

  /** Layer of a JVM class name (outer class only). */
  def ofClass(cls: String): Option[String] = {
    val outer = cls.takeWhile(_ != '$')
    if (outer.startsWith("graft.")) {
      val simple = outer.substring(outer.lastIndexOf('.') + 1)
      Some(byFile.getOrElse(simple,
        if (outer.startsWith("graft.sources.v2.Video")) "sources"
        else if (outer.startsWith("graft.sources.v2.")) "connector"
        else if (outer.startsWith("graft.plans.")) "plans"
        else if (outer.startsWith("graft.ops.") ||
          outer.startsWith("graft.functions.") ||
          outer.startsWith("graft.pipeline.")) "pipeline"
        else "other"))
    } else None
  }

  /** Innermost layer on a stack: the first `graft.` frame's layer (an
    * `AtomicWarehouse` read path is `sinks.read`); else `streaming` inside
    * Structured Streaming's own machinery, `client` in the benchmark's
    * code, or `other`. */
  def ofStack(frames: Array[StackTraceElement]): String = {
    var streaming, client = false
    var i = 0
    while (i < frames.length) {
      val c = frames(i).getClassName
      ofClass(c) match {
        case Some("sinks.commit") if frames(i).getMethodName.toLowerCase.contains("read") =>
          return "sinks.read"
        case Some(l) => return l
        case None =>
          if (c.startsWith("org.apache.spark.sql.execution.streaming")) streaming = true
          if (c.startsWith("perfbench.")) client = true
      }
      i += 1
    }
    if (streaming) "streaming" else if (client) "client" else "other"
  }
}

/** Samples the client thread's stack every few milliseconds while the
  * timed section runs and charges the time since the previous sample to
  * the innermost layer on it: inclusive wall time per layer along the
  * blocking path, driver work and waits for Spark jobs alike. The client
  * thread is the stream's execution thread when one runs, else `main`. */
final class Sampler(intervalMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)

  private def client(): Option[Thread] = {
    val all = Thread.getAllStackTraces.keySet.asScala
    all.find(t => t.getName.startsWith("stream execution thread") && t.isAlive)
      .orElse(all.find(_.getName == "main"))
  }

  override def run(): Unit = {
    var last = System.nanoTime()
    var target: Option[Thread] = None
    var refresh = 0
    while (true) {
      Thread.sleep(intervalMs)
      val now = System.nanoTime()
      if (Counters.on) {
        if (refresh == 0 || !target.exists(_.isAlive)) target = client()
        refresh = (refresh + 1) % 50
        target.foreach { t =>
          Counters.add(s"sampled.${Layers.ofStack(t.getStackTrace)}", now - last)
        }
      }
      last = now
    }
  }
}

/** Counters shared by the tracers; keys are `<group>.<name>`. */
object Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit =
    if (v != 0) m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def reset(): Unit = m.clear()
  def snapshot(): Map[String, Long] =
    m.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Set while the benchmark's timed section runs; tracers record only then. */
  @volatile var on = false
  /** Operation class of the current client call (`scan`, `lookup`, `dml`),
    * set on the client thread; tasks see it as the job's local property. */
  val opClass = new InheritableThreadLocal[String] { override def initialValue = "" }
  def currentOp(): String =
    Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("perfbench.op")))
      .getOrElse(opClass.get)
}

/** A counting `file:` filesystem, registered with
  * `spark.hadoop.fs.file.impl`: every call by kind, and the bytes written. */
class CountingFileSystem extends LocalFileSystem {
  private def count[T](kind: String)(body: => T): T = {
    if (Counters.on) {
      Counters.add(s"fs.$kind", 1)
      val op = Counters.currentOp()
      if (op.nonEmpty) Counters.add(s"fs.$kind@$op", 1)
      if (kind == "opens" && Layers.ofStack(Thread.currentThread.getStackTrace) == "connector")
        Counters.add("connector.files_opened", 1)
    }
    body
  }

  private def counted(out: FSDataOutputStream): FSDataOutputStream = {
    val op = Counters.currentOp()
    if (op.nonEmpty) Counters.add(s"fs.files_written@$op", 1)
    new FSDataOutputStream(new java.io.OutputStream {
      private def n(k: Long): Unit = if (Counters.on) {
        Counters.add("fs.bytes_written", k)
        if (op.nonEmpty) Counters.add(s"fs.bytes_written@$op", k)
      }
      override def write(b: Int): Unit = { out.write(b); n(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); n(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = count("creates") {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (Counters.on) counted(out) else out
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    count("creates") {
      val out = super.createNonRecursive(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
      if (Counters.on) counted(out) else out
    }
  override def rename(src: Path, dst: Path): Boolean =
    count("renames")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    count("deletes")(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    count("lists")(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    count("lists")(super.listLocatedStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    count("opens")(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus =
    count("status")(super.getFileStatus(f))
}

/** Spark scheduler events: jobs, stages, tasks and their time, by layer. */
class JobTracer extends SparkListener {
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageReadsWarehouse = new ConcurrentHashMap[Int, java.lang.Boolean]()
  /** Job wall intervals (ms), for the driver gap. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
  /** Marker jobs whose end event has been delivered. */
  val sentinels = new java.util.concurrent.atomic.AtomicInteger()

  /** Wall time covered by at least one job, in ms. */
  def unionMs(): Long = {
    var total, end = 0L
    intervals.asScala.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty("perfbench.sentinel") != null)) {
      sentinelJobs.add(e.jobId); return
    }
    if (!Counters.on) return
    // jobs an execution submits from other threads (broadcasts, adaptive
    // stages) carry its id; their own call site names no user file
    val layer = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execLayer.get(id.toLong)))
      .getOrElse(e.stageInfos.headOption.map(s => Layers.ofCallSite(s.name))
        .getOrElse("other"))
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    jobStart.put(e.jobId, e.time)
    Counters.add("spark.jobs", 1)
    Counters.add(s"jobs.$layer", 1)
    if (op.nonEmpty) Counters.add(s"jobs@$op", 1)
    e.stageInfos.foreach { s =>
      if (s.rddInfos.exists(r => r.name.contains("DataSourceRDD") &&
          r.scope.exists(_.name.contains("graft-warehouse"))))
        stageReadsWarehouse.put(s.stageId, true)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execLayer.put(s.executionId, Layers.ofFrames(s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (sentinelJobs.remove(e.jobId)) sentinels.incrementAndGet()
    else if (jobStart.containsKey(e.jobId)) {
      intervals.add((jobStart.remove(e.jobId).longValue, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Counters.on && e.stageInfo.submissionTime.isDefined) {
      Counters.add("spark.stages", 1)
      Counters.add("spark.tasks", e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (!Counters.on || m == null) return
    Counters.add("spark.task_ms", m.executorRunTime)
    Counters.add("spark.gc_ms", m.jvmGCTime)
    Counters.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    if (stageReadsWarehouse.containsKey(e.stageId))
      Counters.add("connector.scan_task_ms", m.executorRunTime)
  }
}

/** Catalyst phases (analysis, optimization, planning) of every query
  * execution, from `qe.tracker`. */
class PlanTracer extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Counters.on) {
    Counters.add("catalyst.executions", 1)
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    Counters.add("catalyst.plan_ms", ms)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Micro-batch progress: the offset/commit log writes and the trigger
  * loop's time outside `addBatch`. */
class StreamTracer extends StreamingQueryListener {
  private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
  /** Waits for query `id`'s termination event: the streams listener queue
    * is FIFO, so all its progress events have been delivered by then. */
  def awaitEnd(id: java.util.UUID): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!ended.contains(id) && System.nanoTime() < deadline) Thread.sleep(5)
    require(ended.contains(id), s"no termination event for query $id in 60 s")
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Counters.on && e.progress.numInputRows > 0) {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      Counters.add("streaming.epochs", 1)
      Counters.add("streaming.wal_ms",
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
      Counters.add("streaming.overhead_ms",
        d.getOrElse("triggerExecution", 0L) - d.getOrElse("addBatch", 0L))
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    ended.add(e.id)
}
