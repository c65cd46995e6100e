package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (SparkSession.builder getOrCreate
  * reuses one JVM-wide session across suites — cheap). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Spark jobs `body` fires on this thread. A sentinel job flushes the
    * listener queue (FIFO) before the count is reset and read, so no job
    * from before `body` leaks in and none from inside it is lost; jobs
    * are matched by a local property of this thread, which Spark hands to
    * the broadcast and adaptive-stage jobs an action spawns. */
  def jobsFiredBy(body: => Unit): Int = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (jobs, sentinels) = (new AtomicInteger, new AtomicInteger)
    val tag = "graft.spec.jobs"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("sentinel") => sentinels.incrementAndGet()
          case Some(_) => jobs.incrementAndGet()
          case None =>
        }
    }
    def flush(): Unit = {
      val before = sentinels.get
      sc.setLocalProperty(tag, "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sentinels.get == before && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(sentinels.get > before, "listener queue did not drain in 60 s")
    }
    sc.addSparkListener(listener)
    try {
      flush(); jobs.set(0)
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, null)
      flush(); jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
