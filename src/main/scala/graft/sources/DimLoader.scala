package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}

/** Dimension-table loader — the reference builds Python dicts from JSON
  * files, where duplicate keys resolve LAST-WINS by file order
  * (ref: Python-pipeline/dataingestion1.py:53-56, dataingestion3.py:37).
  *
  * Spark-first: `multiLine` JSON read (single file ⇒ single partition ⇒
  * file order preserved), explicit order column, row_number window for
  * deterministic last-wins dedup. The stages read a dimension through
  * [[resolve]]: like the reference's dict, a small key-unique dimension
  * becomes a driver-side map folded into the plan as a literal, so an
  * epoch looks keys up in its projections and runs no job for it.
  */
object DimLoader {

  /** Rows above which a dimension stays a broadcast join: a map literal
    * is probed linearly per row (`GetMapValueUtil`), a hash join is not. */
  val MapRowCap = 256

  /** Read a JSON array-of-objects file preserving file order. */
  def readOrdered(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(path)
      .withColumn("__file_order", monotonically_increasing_id())

  /** Last-wins dedup on `key` by file order (dict-build semantics),
    * trimming the key and dropping null/blank keys like the reference's
    * guards. */
  def lastWins(df: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__file_order").desc)
    df.withColumn(key, trim(col(key)))
      .where(col(key).isNotNull && col(key) =!= "")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__file_order")
  }

  def loadDim(spark: SparkSession, path: String, schema: StructType,
      key: String): DataFrame =
    lastWins(readOrdered(spark, path, schema), key)

  /** `frame` resolved for lookups on its `key` column, in one driver
    * collect of at most [[MapRowCap]] + 1 rows. It becomes a map from key
    * to a struct of its other columns unless it holds more rows than the
    * cap or a key twice (a join fans a repeated key out, a map cannot);
    * those keep the broadcast join. Null keys never match a join, so the
    * map leaves them out. */
  def resolve(frame: DataFrame, key: String): Dim = {
    val k = frame.schema.fieldIndex(key)
    val keyed = Some(frame.limit(MapRowCap + 1).collect())
      .filter(_.length <= MapRowCap)
      .map(_.filterNot(_.isNullAt(k)))
      .filter(rows => rows.map(_.get(k)).distinct.length == rows.length)
    new Dim(frame, key, keyed.map { rows =>
      val values = StructType(frame.schema.fields.filter(_.name != key))
      val toStruct = CatalystTypeConverters.createToCatalystConverter(values)
      val data = ArrayBasedMapData(
        rows.map(r => CatalystTypeConverters.convertToCatalyst(r.get(k))),
        rows.map(r => toStruct(Row.fromSeq(r.toSeq.patch(k, Nil, 1)))))
      GraftBridge.column(Literal(data,
        MapType(frame.schema(k).dataType, values, valueContainsNull = false)))
    })
  }
}

/** A dimension as the stages read it (see [[DimLoader.resolve]]): the
  * frame it was resolved from, its key column and, for a small
  * key-unique dimension, the map literal from key to its other columns. */
final class Dim private[graft] (val frame: DataFrame, val key: String,
    val map: Option[Column]) {

  /** `df` with this dimension looked up by `k`: the frame to project
    * from, and the column of a dimension column by name, null where no
    * key matches, as under a left join. A map is probed in the
    * projection itself (`try_element_at`: plain `element_at` throws on a
    * missing key under ANSI mode); otherwise `df` is left-joined to the
    * broadcast frame, whose columns carry a `__dim_` prefix that the
    * stage's projection leaves out. */
  def lookup(df: DataFrame, k: Column): (DataFrame, String => Column) = map match {
    case Some(m) =>
      val hit = try_element_at(m, k)
      (df, c => hit.getField(c))
    case None =>
      val d = frame.select(frame.columns.toIndexedSeq.map(c =>
        col(c).as(if (c == key) "__dim_key" else s"__dim_$c")): _*)
      (df.join(broadcast(d), k === d("__dim_key"), "left"), c => col(s"__dim_$c"))
  }
}
