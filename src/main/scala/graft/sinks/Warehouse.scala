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
    // swap: write once, rename into place (compaction output can be
    // large, so no second write). Loud on a failed delete or rename:
    // renaming onto a live dir would either fail obscurely or interleave
    // old and new part files
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = dst.getFileSystem(conf)
    if (fs.exists(dst) && !fs.delete(dst, true))
      throw new java.io.IOException(
        s"compaction swap failed: could not delete $warehouseDir before rename")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst))
      throw new java.io.IOException(
        s"compaction swap failed: rename($tmp -> $warehouseDir)")
  }

  /** K7 — truncate staging keeping the schema (clear + header re-append,
    * ingestdatainbigquery.py:103-112). */
  def truncate(spark: SparkSession, stagingDir: String): Unit = {
    val schema = spark.read.parquet(stagingDir).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(stagingDir)
  }
}
