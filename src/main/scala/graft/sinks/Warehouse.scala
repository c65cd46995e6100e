package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Plain-directory helpers of the reference's BigQuery load path
  * (ref: Python-pipeline/ingestdatainbigquery.py): sanitize column names
  * (F19), all-string mode (F20), hive-partitioned append, small-file
  * compaction and staging truncate (K7). The load itself — append plus
  * the keyed last-wins dedup (K6/W2) — is [[AtomicWarehouse.drain]]'s
  * atomic epoch commit and read-side merge.
  */
object Warehouse {

  /** F19 — identifier sanitize: strip, non-word → '_', collapse repeats,
    * trim leading/trailing '_', lowercase
    * (ingestdatainbigquery.py:37-46). */
  def sanitizeName(c: String): String =
    c.trim.replaceAll("[^\\w]", "_").replaceAll("_+", "_")
      .replaceAll("^_|_$", "").toLowerCase

  def sanitizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(sanitizeName): _*)

  /** F20 — cast every column to string (astype(str),
    * ingestdatainbigquery.py:127). */
  def allString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)

  /** K6 at scale — hive-layout partitioned append: queries filtering on
    * the partition columns prune whole directories at planning time
    * (PartitionFilters in the scan), so a day's query over a years-deep
    * 100 TB warehouse reads one day of files. Partition columns should be
    * low-cardinality (date, region) — high-cardinality keys belong in
    * file-level sort/bucketing instead. */
  def appendPartitioned(df: DataFrame, warehouseDir: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*)
      .parquet(warehouseDir)

  /** Small-file compaction — the maintenance pass every incrementally
    * appended warehouse needs: each micro-batch append (twice daily in
    * the reference, dags/Dashboard-pipeline.py:26) leaves its own files;
    * after months a 100 TB warehouse is millions of KB-sized parquet
    * files and scan planning drowns in footer reads. Rewrite each
    * partition's data into ~targetRowsPerFile-row files, preserving the
    * hive partition layout. Content is untouched — this is a physical
    * re-layout only. */
  def compact(spark: SparkSession, warehouseDir: String,
      partitionCols: Seq[String], targetRowsPerFile: Long): Unit = {
    val df = spark.read.parquet(warehouseDir)
    val tmp = warehouseDir + "_compact"
    val writer =
      if (partitionCols.isEmpty) {
        val n = math.max(1L, df.count() / targetRowsPerFile).toInt
        df.repartition(n).write
      } else {
        // one write task per (partition, file-slot): repartition by the
        // partition columns so each hive dir is written by few tasks,
        // and cap rows per file for the slot split
        df.repartition(partitionCols.map(col): _*)
          .write.option("maxRecordsPerFile", targetRowsPerFile)
          .partitionBy(partitionCols: _*)
      }
    writer.mode(SaveMode.Overwrite).parquet(tmp)
    // rename-aside swap: dir → dir_old, tmp → dir, delete dir_old. A
    // crash or a refused call at any step leaves a complete copy at
    // `warehouseDir` or at the aside name, never only in the tmp dir
    // (a delete-then-rename swap strands the data there). Every refused
    // call fails loudly.
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(warehouseDir)
    val aside = new org.apache.hadoop.fs.Path(warehouseDir + "_old")
    val fs = dst.getFileSystem(conf)
    def fail(what: String) =
      throw new java.io.IOException(s"compaction swap failed: $what")
    // renaming onto an existing aside dir would nest the live dir in it
    if (fs.exists(aside))
      fail(s"$aside exists (an interrupted swap's previous data); " +
        "restore or remove it first")
    if (!fs.rename(dst, aside)) fail(s"rename($warehouseDir -> $aside)")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)) {
      val restored = fs.rename(aside, dst)
      fail(s"rename($tmp -> $warehouseDir); the previous data is " +
        (if (restored) "back in place" else s"intact at $aside"))
    }
    if (!fs.delete(aside, true))
      fail(s"could not delete $aside; the compacted data is in place")
  }

  /** K7 — truncate staging keeping the schema (clear + header re-append,
    * ingestdatainbigquery.py:103-112). */
  def truncate(spark: SparkSession, stagingDir: String): Unit = {
    val schema = spark.read.parquet(stagingDir).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(stagingDir)
  }
}
