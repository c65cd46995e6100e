package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, EqualNullSafe, EqualTo, Expression, GreaterThanOrEqual, IntegerLiteral, LessThanOrEqual, Literal, NamedExpression, PredicateHelper, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{WINDOW, WINDOW_EXPRESSION}

/** Window partitions that a filter pins to ONE key. Spark's
  * `EliminateWindowPartitions` drops only foldable partition expressions;
  * this rule also drops a deterministic partition expression when every
  * attribute it references is pinned by the child's constraints to one
  * non-null literal (`a = lit` or `a <=> lit` on the attribute itself):
  * every row the child produces then carries the same key, so the
  * partitioning can only ever form one group and its hash exchange buys
  * nothing.
  *
  * The warehouse's last-wins point lookup is the shape this exists for:
  * `row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) = 1` over
  * `WHERE k = 'x'`. When every partition key is pinned and the window is
  * a lone `row_number()` filtered to `= 1` (or `<= 1`), the Window is
  * replaced by a top-1 — a keyless [[TopKPerGroup]] of k = 1 by its order
  * spec, the row number projected as the literal 1 under its own
  * expression id — which plans as one `TakeOrderedAndProject`: no
  * exchange and no `WindowExec`. Not `Limit 1` over a `Sort`: Spark's
  * later column pruning and projection pushdown put two projections
  * between a limit and its sort in a write plan (the DML's key-bound
  * reads), which then plans as a range exchange, a sort and a
  * single-partition exchange. Any other window keeps its functions and
  * loses only the pinned keys.
  *
  * Casts are not pinned: `cast(k AS BIGINT) = 5` over a string `k`
  * still matches "5" and "05", two groups. Nor are `IN` lists of more than
  * one value, nulls or ranges.
  *
  * Runs once per query as a pre-CBO rule ([[graft.GraftExtensions]]):
  * after the operator optimization batches have pushed the filters down,
  * before Spark's `InferWindowGroupLimit`. Plans without a window are
  * pruned on the `WINDOW` pattern and pay nothing. */
object EliminatePinnedWindowPartitions extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsPattern(WINDOW)) {
      case f @ Filter(cond, w: Window) if w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(pinnedBy(pins(w.child))) =>
        topOne(cond, w).getOrElse(f.copy(child = dropPinned(w)))
      case w: Window if w.partitionSpec.exists(pinnedBy(pins(w.child))) =>
        dropPinned(w)
    }

  /** Attributes the plan's constraints hold to one non-null literal. */
  private def pins(plan: LogicalPlan): AttributeSet =
    AttributeSet(plan.constraints.toSeq.collect {
      case EqualTo(a: Attribute, l: Literal) if l.value != null => a
      case EqualTo(l: Literal, a: Attribute) if l.value != null => a
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null => a
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null => a
    })

  private def pinnedBy(pinned: AttributeSet)(e: Expression): Boolean =
    e.deterministic && e.references.nonEmpty && e.references.subsetOf(pinned)

  /** `w` with its pinned partition expressions removed, from the
    * operator and from every window function's own spec. */
  private def dropPinned(w: Window): Window = {
    val pinned = pinnedBy(pins(w.child)) _
    val exprs = w.windowExpressions.map(_.transformWithPruning(
        _.containsPattern(WINDOW_EXPRESSION)) {
      case we @ WindowExpression(_, spec: WindowSpecDefinition) =>
        we.copy(windowSpec =
          spec.copy(partitionSpec = spec.partitionSpec.filterNot(pinned)))
    }.asInstanceOf[NamedExpression])
    w.copy(windowExpressions = exprs,
      partitionSpec = w.partitionSpec.filterNot(pinned))
  }

  /** `Filter(rn = 1, Window(row_number() AS rn))` over one group as the
    * child's first row in window order with `1 AS rn`; the filter's other
    * conjuncts stay above. None for any other shape. */
  private def topOne(cond: Expression, w: Window): Option[LogicalPlan] =
    w.windowExpressions match {
      case Seq(rn @ Alias(WindowExpression(_: RowNumber, _), _))
          if w.orderSpec.nonEmpty =>
        val (first, rest) = splitConjunctivePredicates(cond).partition {
          case EqualTo(a: Attribute, IntegerLiteral(1)) => a.exprId == rn.exprId
          case EqualTo(IntegerLiteral(1), a: Attribute) => a.exprId == rn.exprId
          case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) =>
            a.exprId == rn.exprId
          case GreaterThanOrEqual(IntegerLiteral(1), a: Attribute) =>
            a.exprId == rn.exprId
          case _ => false
        }
        if (first.isEmpty) None
        else {
          val one = Alias(Literal(1), rn.name)(
            exprId = rn.exprId, qualifier = rn.qualifier)
          val top = Project(w.child.output :+ one,
            TopKPerGroup(Nil, w.orderSpec, 1, w.child))
          Some(rest.reduceOption(And).map(Filter(_, top)).getOrElse(top))
        }
      case _ => None
    }
}
