package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}

/** Native top-k-per-group — the full custom-operator path (SURVEY §7.3c):
  * a logical node, a planner Strategy, and a two-phase physical operator
  * pair, registered through SparkSessionExtensions (or lazily via
  * `TopK.perGroup`).
  *
  * WHY a custom operator: the built-in formulation
  * (`row_number().over(Window.partitionBy(keys).orderBy(ord)) <= k`)
  * shuffles EVERY row to its key's reducer and sorts whole partitions
  * before discarding all but k — at 100 TB the exchange carries the
  * complete fact table. This operator keeps a bounded heap per key on
  * the map side, so the shuffle carries at most k rows per (key ×
  * upstream partition) — for k=3 over a billion-row fact with 10k keys,
  * thousands of rows instead of a billion. The same partial/final
  * contract as aggregation, applied to row selection.
  *
  * Semantics: rows whose sort position within their key group is ≤ k,
  * with ties broken by the total order the caller supplies (callers must
  * pass a total order — same contract as any deterministic top-k).
  * Exactly equivalent to the window formulation on any total order.
  */
case class TopKPerGroup(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Shared bounded-heap pass: one pass over a partition keeping the k
  * best rows per key (PriorityQueue head = current worst; replace when a
  * better row arrives). Memory is O(k × distinct keys in partition). */
private[plans] object BoundedTopK {
  def perKey(
      iter: Iterator[InternalRow],
      keyExprs: Seq[Expression],
      sortOrder: Seq[SortOrder],
      k: Int,
      input: Seq[Attribute]): Iterator[(UnsafeRow, mutable.PriorityQueue[InternalRow])] = {
    val keyProj = UnsafeProjection.create(keyExprs, input)
    val ord: Ordering[InternalRow] = RowOrdering.create(sortOrder, input)
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      val heap = heaps.getOrElse(key, {
        val h = mutable.PriorityQueue.empty[InternalRow](ord)
        heaps.put(key.copy(), h)
        h
      })
      if (heap.size < k) heap.enqueue(row.copy())
      else if (ord.compare(row, heap.head) < 0) {
        heap.dequeue(); heap.enqueue(row.copy())
      }
    }
    heaps.iterator
  }
}

/** Map-side phase: emits each partition's per-key survivors (unordered —
  * the final phase re-selects). No distribution requirement; runs where
  * the data already is. */
case class PartialTopKPerGroupExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      BoundedTopK.perKey(iter, keys, order, k, child.output)
        .flatMap { case (_, heap) => heap.iterator }
    }
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Reduce-side phase: requires clustering by the keys (EnsureRequirements
  * inserts the hash exchange — which only ever carries the partial
  * survivors), re-runs the bounded-heap pass on the now-complete key
  * groups, and emits each group's rows in sort order. */
case class FinalTopKPerGroupExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      BoundedTopK.perKey(iter, keys, order, k, child.output)
        .flatMap { case (_, heap) => heap.dequeueAll.reverseIterator }
    }
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Planner rule: TopKPerGroup → Final(Partial(child)); with no keys, one
  * global top-k → Spark's TakeOrderedAndProject (a top-k per partition
  * merged in one task, no exchange operator). */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(keys, order, k, child) if keys.isEmpty =>
      TakeOrderedAndProjectExec(k, order, child.output, planLater(child)) :: Nil
    case TopKPerGroup(keys, order, k, child) =>
      FinalTopKPerGroupExec(keys, order, k,
        PartialTopKPerGroupExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing API. Columns are named (not `Column` objects): the node
  * is built from the child's RESOLVED attributes, so it enters planning
  * fully resolved — no dependence on analyzer traversal of a node class
  * the analyzer has never seen. */
object TopK {
  /** The k best rows per key group under `order` — (column, ascending?)
    * pairs forming a TOTAL order for deterministic results (measure desc
    * + unique-id tiebreak). Installs the planner strategy on the session
    * if absent. */
  def perGroup(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(a => spark.sessionState.analyzer.resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val sortExprs = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    GraftBridge.ofRows(spark,
      TopKPerGroup(keys.map(attr), sortExprs, k, analyzed))
  }
}
