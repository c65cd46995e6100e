package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, BindReferences, Expression, InterpretedOrdering, InterpretedUnsafeProjection, Predicate, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import graft.sources.v2.WarehouseScan

/** Physical planning of a warehouse read the driver answers: a chain of
  * deterministic `Project`s and `Filter`s, with at most keyless
  * [[TopKPerGroup]]s in it (the top-1 a key-pinned last-wins window
  * becomes, [[EliminatePinnedWindowPartitions]]), over a
  * `graft-warehouse` scan whose [[WarehouseScan.driverRead]] answers on
  * the driver — a key-pinned connector SQL read or an
  * [[graft.sinks.AtomicWarehouse.readPoint]]-family read. The chain is
  * evaluated on the driver while the files decode, and planned as one
  * `LocalTableScanExec`, so `collect` runs no Spark job. Spark's own
  * `ConvertToLocalRelation` folds `Project`/`Filter` over a local
  * relation during optimization, which is before the scan is known (the
  * pushdown batch runs later) and never folds a top-k; hence a planner
  * strategy. Any other shape, or a scan past the driver bound, plans as
  * before. Expressions are interpreted: each lookup's literals differ,
  * and generated code would compile per literal. */
object DriverAnswerStrategy extends SparkStrategy {
  /** Rows handed to a visitor; each row is reused afterwards. */
  type Source = (InternalRow => Unit) => Unit

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    source(plan, plan.outputSet).map { case (_, src) =>
      val rows = ArrayBuffer.empty[InternalRow]
      src(r => rows += r.copy())
      LocalTableScanExec(plan.output, rows.toSeq, None) :: Nil
    }.getOrElse(Nil)

  /** `e` bound to `input`, when it evaluates on the driver as it would
    * in a task: deterministic, no subquery or other unevaluable part. */
  private def bound[E <: Expression](e: E, input: Seq[Attribute]): Option[E] =
    Some(BindReferences.bindReference(e, input)).filter(b =>
      b.deterministic && !b.exists(_.isInstanceOf[Unevaluable]))

  /** The rows of `plan`, keeping at least the `needed` columns, and the
    * columns they hold. */
  private def source(plan: LogicalPlan, needed: AttributeSet)
      : Option[(Seq[Attribute], Source)] = plan match {
    case s: DataSourceV2ScanRelation => s.scan match {
      case w: WarehouseScan => w.driverRead.map(s.output -> _)
      case _ => None
    }
    case Filter(cond, child) =>
      for {
        (in, src) <- source(child, needed ++ cond.references)
        c <- bound(cond, in)
      } yield {
        val p = Predicate.createInterpreted(c)
        in -> ((visit: InternalRow => Unit) => src(r => if (p.eval(r)) visit(r)))
      }
    case Project(list, child) =>
      source(child, AttributeSet(list.flatMap(_.references))).flatMap {
        case (in, src) =>
          val exprs = list.map {
            case a: Alias => a.child
            case e => e
          }.map(bound(_, in))
          if (exprs.exists(_.isEmpty)) None
          else {
            val proj = InterpretedUnsafeProjection.createProjection(exprs.flatten)
            Some(list.map(_.toAttribute) ->
              ((visit: InternalRow => Unit) => src(r => visit(proj(r)))))
          }
      }
    case TopKPerGroup(Nil, order, k, child) =>
      source(child, needed ++ AttributeSet(order.flatMap(_.references))).flatMap {
        case (in, src) =>
          val ord = order.map(o => bound(o.child, in).map(c => o.copy(child = c)))
          if (ord.exists(_.isEmpty)) None
          else {
            val ordering = new InterpretedOrdering(ord.flatten: Seq[SortOrder])
            Some(in -> ((visit: InternalRow => Unit) => {
              val rows = ArrayBuffer.empty[InternalRow]
              src(r => rows += r.copy())
              rows.sorted(ordering).take(k).foreach(visit)
            }))
          }
      }
    case _ => None
  }
}
