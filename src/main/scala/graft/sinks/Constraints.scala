package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHECK-constraint gate for warehouse drains — the quality fence the
  * reference applies by hand-inspecting the sheet after each load (and
  * Delta/BigQuery enforce server-side): a drain whose epoch rows
  * violate a declared predicate is REFUSED before anything is committed,
  * so bad batches never reach the warehouse and never cost a rollback.
  *
  * Violation semantics follow SQL CHECK: a row violates a constraint iff
  * the predicate evaluates to FALSE — UNKNOWN (null) passes, exactly as
  * in the standard (`coalesce(NOT pred, false)` on both engines).
  */
object Constraints {

  /** Per-constraint violation counts over `df`, computed in ONE aggregate
    * pass (k conditional sums folded into a single 1-row agg, then
    * unpivoted) — the report stays O(k) however large the staging is.
    * Constraint NAMES are data, never SQL: aggregates alias to positional
    * `__c<i>` and names enter only as literals in the unpivot structs, so
    * quotes/backticks/spaces/duplicates in a name can't break parsing
    * (the PREDICATES are SQL by contract — that's the API). */
  def violationReport(df: DataFrame,
      checks: Seq[(String, String)]): DataFrame = {
    val aggs = violationCounts(checks)
    val one = df.agg(aggs.head, aggs.tail: _*)
    val kv = explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("constraint_name"),
        col(s"__c$i").as("n_violations"))
    }: _*))
    one.select(kv.as("kv")).select(col("kv.constraint_name"),
      col("kv.n_violations"))
  }

  /** One conditional sum per constraint, aliased `__c<i>`. */
  private def violationCounts(checks: Seq[(String, String)]): Seq[Column] = {
    require(checks.nonEmpty, "no constraints declared")
    checks.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(!expr(pred), lit(false)), 1L).otherwise(0L)).as(s"__c$i")
    }
  }

  /** Commit the epoch frame `epoch` as warehouse epoch `seq`, gated on
    * `checks`: any violation aborts BEFORE anything is written — the
    * manifest and the epoch dirs are left untouched, and the error
    * carries the per-constraint counts. A clean epoch commits through
    * the drain's all-string, part-sized commit.
    *
    * CHECK and COMMIT see one frame: the audit is one aggregate pass
    * (the violation sums plus the row count the part sizing needs) and
    * the same DataFrame is committed, so the rows audited are the rows
    * committed. Callers pass a frame whose input is pinned — a
    * `localCheckpoint`ed epoch, or a parquet read (its file listing is
    * fixed when the DataFrame is created). `afterCheck` is a test seam
    * (fires between the audit and the commit) for pinning exactly that
    * property. */
  def drainChecked(spark: SparkSession, epoch: DataFrame, dir: String,
      seq: Long, checks: Seq[(String, String)],
      afterCheck: () => Unit = () => ()): Unit = {
    val audit = epoch.agg(count(lit(1)), violationCounts(checks): _*).head()
    val rows = audit.getLong(0)
    val bad = if (rows == 0L) Nil else checks.zipWithIndex.collect {
      case ((name, _), i) if audit.getLong(i + 1) > 0 =>
        s"$name=${audit.getLong(i + 1)}"
    }
    if (bad.nonEmpty)
      throw new ConstraintViolationException(bad.mkString(
        s"drain epoch $seq refused, constraint violations: ", ", ", ""))
    afterCheck()
    AtomicWarehouse.commitDrained(spark, epoch, rows, dir, seq)
  }
}

final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)
