package graft.plans

import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, IsNotNull, Literal, And => CAnd, Or => COr}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import graft.sinks.AtomicWarehouse
import graft.sources.v2.WarehouseTable

/** `DELETE FROM wh.t WHERE <arbitrary deterministic predicate>` on a
  * graft-warehouse catalog table. Key-IDENTITY predicates
  * (`mergeKey = v` / `IN (...)`) keep their own path — [[WarehouseTable]]'s
  * `SupportsDelete`, which tombstones the NAMED keys with no read at
  * all — this rule handles exactly the shapes that path REFUSES: the
  * matched CURRENT WINNERS' keys are collected (bounded by
  * `graft.delete.maxKeys`, default 100k — the deferred-purge contract
  * is a driver-sized key list) and committed as ONE tombstone entry,
  * i.e. `DELETE WHERE category = 'x'` becomes a deferred purge of the
  * keys that predicate selects today.
  *
  * Soundness note (why keys, not a predicate tombstone): the warehouse
  * retracts by ROW IDENTITY. Materializing the predicate to keys at
  * execution time makes the delete's meaning permanent — rows drained
  * LATER that would have matched the predicate are NOT deleted (exactly
  * SQL's semantics: DELETE acts on the table as of execution).
  *
  * Refused loudly: predicates selecting more than the key cap (mass
  * deletion is the purge → compact → vacuum protocol, stated in the
  * error), a null-keyed matched row (null keys are never purge
  * targets), non-deterministic predicates, time-travel targets, and
  * tables without a mergeKey. */
object RewriteWarehouseDelete extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d: DeleteFromTable if d.resolved && warehouseOf(d.table).isDefined
          && !keyIdentity(d) =>
        rewrite(d)
    }

  private def warehouseOf(t: LogicalPlan): Option[DataSourceV2Relation] =
    t.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[WarehouseTable] =>
        r
    }

  /** Shapes [[WarehouseTable.deleteWhere]] already serves (a tombstone
    * of the named keys): conjunctions/disjunctions of key-literal
    * equality/IN plus IsNotNull(key). Leave those alone. */
  private def keyIdentity(d: DeleteFromTable): Boolean = {
    val rel = warehouseOf(d.table).get
    val key = rel.table.asInstanceOf[WarehouseTable].mergeKey
    // analysis wraps literals in casts, so "literal" = foldable here.
    // IN-list coercion also wraps the ATTRIBUTE side in a same-type
    // cast (`cast(k as bigint) IN (...)` for a bigint k) — unwrap
    // NO-OP casts only, so `k IN (9, 18)` keeps the key path while a
    // type-CHANGING cast (`k IN ('x')`) stays with the predicate path,
    // whose execution-time materialization handles it soundly
    def keyAttr(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == key
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.resolved && c.child.dataType == c.dataType =>
        keyAttr(c.child)
      case _ => false
    }
    def keyId(e: Expression): Boolean = e match {
      case EqualTo(a, v) if v.foldable => keyAttr(a)
      case EqualTo(v, a) if v.foldable => keyAttr(a)
      case In(a, vs) if vs.forall(_.foldable) => keyAttr(a)
      case IsNotNull(a) => keyAttr(a)
      case CAnd(l, r) => keyId(l) && keyId(r)
      case COr(l, r) => keyId(l) && keyId(r)
      case _ => false
    }
    key.nonEmpty && keyId(d.condition)
  }

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-warehouse predicate DELETE — $what")

  private def rewrite(d: DeleteFromTable): LogicalPlan = {
    val rel = warehouseOf(d.table).get
    val table = rel.table.asInstanceOf[WarehouseTable]
    if (table.mergeKey.isEmpty)
      refuse("the catalog has no mergeKey configured (deletion is " +
        "key-addressed: a tombstone names row identities)")
    if (table.timeTravelVersion.isDefined)
      refuse("cannot DELETE from a time-travel (VERSION/TIMESTAMP AS OF) " +
        "view")
    if (!d.condition.deterministic)
      refuse("the WHERE predicate must be deterministic (the deleted key " +
        "set must be replayable)")
    val targetIds = rel.output.map(_.exprId).toSet
    val remapped = d.condition.transform {
      case ar: AttributeReference if targetIds.contains(ar.exprId) =>
        UnresolvedAttribute(Seq(ar.name))
    }
    // COMPOSITE mergeKey ("k1,k2"): the tombstone stores the canonical
    // rendering, typed string; single keys keep their column's type
    val keyTyp =
      if (AtomicWarehouse.keyParts(table.mergeKey).size > 1) "string"
      else rel.output.find(_.name == table.mergeKey)
        .map(_.dataType.catalogString)
        .getOrElse(refuse(s"no mergeKey column '${table.mergeKey}'")) match {
          case "string" => "string"
          case _ => "long"
        }
    // key-bound predicates (e.g. `k = 5 AND name LIKE ...`, or a
    // composite `k1 = 5 AND k2 = 3`) read the matched slice through
    // the engine's PRUNED point lookups instead of a full merged scan
    def keyBound(part: String)(e: Expression): Option[Seq[String]] = {
      def render(v: Any): Option[String] = v match {
        case null => None
        case u8: org.apache.spark.unsafe.types.UTF8String => Some(u8.toString)
        case other => Some(other.toString)
      }
      def isPart(a: Expression): Boolean = a match {
        case ar: AttributeReference =>
          targetIds.contains(ar.exprId) && ar.name == part
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.child.resolved && c.child.dataType == c.dataType =>
          isPart(c.child)
        case _ => false
      }
      e match {
        case EqualTo(a, v) if isPart(a) && v.foldable =>
          render(v.eval()).map(Seq(_))
        case EqualTo(v, a) if isPart(a) && v.foldable =>
          render(v.eval()).map(Seq(_))
        case In(a, vs) if isPart(a) && vs.forall(_.foldable) =>
          val rs = vs.map(v => render(v.eval()))
          if (rs.forall(_.isDefined)) Some(rs.flatten.distinct) else None
        case CAnd(l, r) => keyBound(part)(l).orElse(keyBound(part)(r))
        case COr(l, r) => for { a <- keyBound(part)(l); b <- keyBound(part)(r) }
          yield (a ++ b).distinct
        case _ => None
      }
    }
    WarehouseDeleteCommand(table.dir, table.mergeKey, keyTyp,
      MergeBranch(Some(remapped), Map.empty, srcOnly = false),
      pointKeys = PointBound.boundKeys(table.mergeKey, d.condition, keyBound)
        .getOrElse(Nil))
  }
}

/** The rewritten predicate DELETE: collect the matched winners' keys
  * (bounded), commit one tombstone. The predicate hides inside
  * [[MergeBranch]] (remapped UnresolvedAttributes must not surface in
  * QueryPlan's expression traversal). */
final case class WarehouseDeleteCommand(
    dir: String, mergeKey: String, keyTyp: String,
    branch: MergeBranch,
    pointKeys: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val snap = PointBound.read(spark, dir, mergeKey, keyTyp, pointKeys)
    val cond = coalesce(GraftBridge.column(branch.cond.get), lit(false))
    val matched = snap.where(cond)
    val maxKeys = spark.conf.get("graft.delete.maxKeys", "100000").toInt
    // ONE pass over the matched slice: distinct keys in canonical
    // rendering (long keys round-trip the long cast so a "07"-style
    // stored key can never split in two), with null riding along as
    // its own distinct value — the null-key refusal costs no second
    // scan
    val keyExpr = {
      val parts = AtomicWarehouse.keyParts(mergeKey)
      if (parts.size > 1)
        // the engine's null-propagating composite rendering — matches
        // what the tombstone read paths compare
        concat(parts.map(p => col(p).cast("string"))
          .flatMap(c => Seq(lit(AtomicWarehouse.CompositeSep), c))
          .drop(1): _*)
      else col(mergeKey).cast(keyTyp).cast("string")
    }
    val collected = matched
      .select(keyExpr)
      .distinct()
      .limit(maxKeys + 2) // + the possible null slot + overflow probe
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    if (collected.contains(null))
      throw new UnsupportedOperationException(
        "predicate DELETE matched a NULL-keyed row — null keys are " +
          "never purge targets (retraction is key-addressed); filter " +
          s"`$mergeKey IS NOT NULL` explicitly if the null-keyed row " +
          "should survive")
    val keys = collected.toSeq
    if (keys.size > maxKeys)
      throw new IllegalStateException(
        s"predicate DELETE selects more than $maxKeys keys " +
          "(graft.delete.maxKeys) — tombstone key lists are driver-sized " +
          "by the deferred-purge contract. For mass deletion use the " +
          "purge protocol (purge → compact → vacuum), or raise the cap " +
          "if the driver can hold the list.")
    if (keys.nonEmpty)
      AtomicWarehouse.purgeKeysDeferredTyped(spark, dir, mergeKey,
        keyTyp, keys)
    Nil
  }
}
