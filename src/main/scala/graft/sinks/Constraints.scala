package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
    * the drain's all-string, part-sized commit. Returns the committed
    * (pinned) frame.
    *
    * CHECK and COMMIT see one frame without a separate audit job: the
    * frame is pinned by ONE `localCheckpoint`, and the row count the part
    * sizing needs plus the violation sums ride that materialization as
    * an [[org.apache.spark.sql.Observation]]. The observe node is the top
    * of the materialized plan, so its accumulators live in the result
    * stage and count each partition once however tasks retry. The commit
    * writes the checkpointed rows, so the rows audited are the rows
    * committed whatever the input is — callers need not pin it.
    * `afterCheck` is a test seam (fires between the audit and the commit)
    * for pinning exactly that property. */
  def drainChecked(spark: SparkSession, epoch: DataFrame, dir: String,
      seq: Long, checks: Seq[(String, String)],
      afterCheck: () => Unit = () => ()): DataFrame = {
    val audit = Observation()
    val pinned = epoch.observe(audit, count(lit(1)).as("__rows"),
      violationCounts(checks): _*).localCheckpoint()
    val metrics = audit.get
    val rows = metrics("__rows").asInstanceOf[Long]
    // an empty frame observes null sums: the row guard covers them
    val bad = if (rows == 0L) Nil else checks.zipWithIndex.collect {
      case ((name, _), i) if metrics(s"__c$i").asInstanceOf[Long] > 0 =>
        s"$name=${metrics(s"__c$i")}"
    }
    if (bad.nonEmpty)
      throw new ConstraintViolationException(bad.mkString(
        s"drain epoch $seq refused, constraint violations: ", ", ", ""))
    afterCheck()
    AtomicWarehouse.commitDrained(spark, pinned, rows, dir, seq)
    pinned
  }
}

final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)
