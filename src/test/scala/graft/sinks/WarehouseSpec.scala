package graft.sinks

import graft.SparkSuite

class WarehouseSpec extends SparkSuite {

  test("F19 identifier sanitize matches reference regex semantics") {
    val cases = Map(
      "  O Order-Key! " -> "o_order_key",
      "Total Price" -> "total_price",
      "Order  Date" -> "order_date",
      "__already__ok__" -> "already_ok",
      "Views (P)" -> "views_p")
    cases.foreach { case (in, want) =>
      assert(Warehouse.sanitizeName(in) == want, s"sanitize($in)")
    }
  }

  test("allString casts every column to string") {
    import spark.implicits._
    val df = Seq((1L, 2.5, "x")).toDF("a", "b", "c")
    assert(Warehouse.allString(df).schema.forall(_.dataType.typeName == "string"))
  }

  test("partitioned append: filters prune partitions at planning time") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("wh_part").toString + "/wh"
    val df = (1 to 300).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 3 + 1)}", i * 1.0))
      .toDF("id", "load_date", "v")
    Warehouse.appendPartitioned(df, dir, Seq("load_date"))
    // layout: one directory per load_date value
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("load_date=2024-01-01", "load_date=2024-01-02", "load_date=2024-01-03"))
    val q = spark.read.parquet(dir).where(col("load_date") === "2024-01-02")
    val scan = q.queryExecution.sparkPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(load_date"), scan)
    assert(q.count() == 100)
    // the pruned scan must plan over exactly one partition directory
    val files = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!files.contains("load_date=2024-01-01"))
  }

  test("compaction collapses micro-batch files, content and layout survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def parquetFiles(d: String): Array[java.io.File] = {
      def walk(f: java.io.File): Array[java.io.File] =
        if (f.isDirectory) f.listFiles().flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Array(f)
        else Array.empty
      walk(new java.io.File(d))
    }
    val dir = java.nio.file.Files.createTempDirectory("wh_compact").toString + "/wh"
    // 20 micro-batch appends of 30 rows each — the twice-daily drain
    // pattern after 10 days
    (1 to 20).foreach { b =>
      val df = (1 to 30).map(i => (b * 1000L + i, s"d${i % 2}", i * 1.0))
        .toDF("id", "part", "v")
      Warehouse.appendPartitioned(df, dir, Seq("part"))
    }
    val before = spark.read.parquet(dir)
    val beforeRows = before.collect().map(_.toSeq).toSet
    val nBefore = parquetFiles(dir).length
    assert(nBefore >= 40, s"expected many small files, got $nBefore")

    Warehouse.compact(spark, dir, Seq("part"), targetRowsPerFile = 1000L)
    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.toSeq).toSet == beforeRows)
    val nAfter = parquetFiles(dir).length
    assert(nAfter <= 4, s"compaction left $nAfter files")
    // hive layout preserved → partition pruning still works
    val scan = after.where(col("part") === "d1").queryExecution.sparkPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(part"), scan)

    // unpartitioned flavor
    val flat = java.nio.file.Files.createTempDirectory("wh_flat").toString + "/wh"
    (1 to 10).foreach(b => Seq((b.toLong, b * 1.0)).toDF("id", "v")
      .write.mode("append").parquet(flat))
    Warehouse.compact(spark, flat, Seq.empty, targetRowsPerFile = 1000L)
    assert(parquetFiles(flat).length == 1)
    assert(spark.read.parquet(flat).count() == 10)
  }

  test("compaction fails loudly when the swap's delete fails, data intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wh_nodelete").toString + "/wh"
    (1 to 3).foreach(b => Seq((b.toLong, b * 1.0)).toDF("id", "v")
      .write.mode("append").parquet(dir))
    val e = intercept[java.io.IOException] {
      RefusingFileSystem.refusing(spark, (call, _) => call == "delete") {
        Warehouse.compact(spark, s"refuse://$dir", Seq.empty, targetRowsPerFile = 1000L)
      }
    }
    assert(e.getMessage.contains("could not delete"), e.getMessage)
    // the refused delete is the aside copy's: the compacted rows are in
    // place, all of them, unmixed with the old files
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("compaction swap: a refusal at any of its calls leaves a full copy at dir or aside") {
    import spark.implicits._
    // the swap's three calls: rename dir aside, rename tmp in, delete aside
    val calls = Seq[(String, String => String)](
      "rename" -> (d => d), "rename" -> (d => d + "_compact"),
      "delete" -> (d => d + "_old"))
    calls.foreach { case (call, target) =>
      val dir = java.nio.file.Files.createTempDirectory("wh_refuse").toString + "/wh"
      (1 to 3).foreach(b => Seq((b.toLong, b * 1.0)).toDF("id", "v")
        .write.mode("append").parquet(dir))
      val want = spark.read.parquet(dir).collect().map(_.toSeq).toSet
      val e = intercept[java.io.IOException] {
        RefusingFileSystem.refusing(spark, (c, p) => c == call && p == target(dir)) {
          Warehouse.compact(spark, s"refuse://$dir", Seq.empty, targetRowsPerFile = 1000L)
        }
      }
      assert(e.getMessage.contains("compaction swap failed"), e.getMessage)
      def rows(d: String): Option[Set[Seq[Any]]] =
        if (new java.io.File(d).exists())
          Some(spark.read.parquet(d).collect().map(_.toSeq).toSet)
        else None
      assert(rows(dir).contains(want) || rows(dir + "_old").contains(want),
        s"refused $call of ${target(dir)}: no full copy at dir or aside")
    }
  }
}

/** A local filesystem under the `refuse` scheme that refuses (returns
  * false, does nothing) each `delete` or `rename` for which
  * [[RefusingFileSystem.refuse]] holds on (call, local source path) — a
  * permission-denied or flaky store, for pinning that swaps check every
  * call's result. */
class RefusingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuse:///")
  override def getScheme: String = "refuse"
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    !RefusingFileSystem.refuse("delete", p.toUri.getPath) &&
      super.delete(p, recursive)
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !RefusingFileSystem.refuse("rename", src.toUri.getPath) &&
      super.rename(src, dst)
}

object RefusingFileSystem {
  @volatile var refuse: (String, String) => Boolean = (_, _) => false

  /** Runs `body` with every `refuse://` call matching `refuse`
    * (call, local path) refused, through `FileSystem` and `FileContext`
    * alike. */
  def refusing[T](spark: org.apache.spark.sql.SparkSession,
      refuse: (String, String) => Boolean)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.refuse.impl", classOf[RefusingFileSystem].getName)
    conf.setBoolean("fs.refuse.impl.disable.cache", true)
    conf.set("fs.AbstractFileSystem.refuse.impl", classOf[RefusingFs].getName)
    RefusingFileSystem.refuse = refuse
    try body finally RefusingFileSystem.refuse = (_, _) => false
  }
}

/** [[RefusingFileSystem]] behind Hadoop's `FileContext` API (the one the
  * warehouse publishes directories through off the local scheme): a
  * refused rename fails the call with an `IOException`. */
class RefusingFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new RefusingFileSystem, conf, "refuse", false)
