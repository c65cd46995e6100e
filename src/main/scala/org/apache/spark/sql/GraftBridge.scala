package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Expression↔Column
  * converters (Spark 4 moved them to sql.classic.ExpressionUtils). Lives
  * in the org.apache.spark.sql package solely for access; no Spark
  * internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** An internal function by name (e.g. `bloom_filter_agg`, the
    * aggregate `stat.bloomFilter` runs). */
  def internalFn(name: String, inputs: Column*): Column = Column.internalFn(name, inputs: _*)
  /** A DataFrame of a LogicalPlan: a relation built directly (the
    * engine's warehouse reads) or a hand-transformed plan (rule tests). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
