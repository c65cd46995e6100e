package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import graft.sinks.AtomicWarehouse
import graft.sources.v2.WarehouseTable

/** `UPDATE wh.t SET c = <expr> [, ...] [WHERE <cond>]` on a
  * graft-warehouse catalog table, executed the LOG-STRUCTURED way: the
  * current keyed winners matching the predicate are re-emitted with the
  * assignments applied and committed as ONE appended epoch whose higher
  * `load_seq` wins the last-wins read merge — O(matched rows), never a
  * table rewrite (merge-on-read UPDATE, the companion of
  * [[RewriteWarehouseMerge]]'s MERGE INTO).
  *
  * Unlike DELETE — which is a retraction and therefore key-addressed
  * through the purge/tombstone protocol — an UPDATE only ever APPENDS
  * newer versions, so ARBITRARY deterministic predicates are safe: the
  * matched set is read from the current snapshot (zone-map/bloom pruning
  * applies), and unmatched rows simply have no newer version.
  *
  * Refused shapes (loudly, at analysis):
  *  - assigning the mergeKey (row identity): the old key's latest
  *    version would survive unretracted — that rename is a MERGE INSERT
  *    plus a purge, stated explicitly;
  *  - assigning `load_seq`: system-maintained (maxLoadSeq+1);
  *  - UPDATE of a time-travel view; UPDATE of an empty warehouse.
  *
  * The epoch commits under the collision-free
  * `update_v<base>_<digest>` namespace (digest over the canonicalized
  * predicate + assignments), so only a replay of THIS update at THIS
  * base converges by name — same discipline as MERGE/purge entries.
  *
  * ref: the reference's metric write-back loop updates matched staging
  * rows in place (Python-pipeline/dataprocessing.py:120-163); this is
  * that mutation as SQL against the warehouse, at O(delta) cost. */
object RewriteWarehouseUpdate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u: UpdateTable if u.resolved && isWarehouseTarget(u.table) =>
        rewrite(u)
    }

  private def isWarehouseTarget(t: LogicalPlan): Boolean =
    t.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[WarehouseTable] =>
        r
    }.isDefined

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-warehouse UPDATE supports `SET <dataCol> = <expr>` with " +
        s"any deterministic WHERE over the table's columns — $what")

  private def rewrite(u: UpdateTable): LogicalPlan = {
    val rel = u.table.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[WarehouseTable] => r
    }.get
    val table = rel.table.asInstanceOf[WarehouseTable]
    if (table.mergeKey.isEmpty)
      refuse("the catalog has no mergeKey configured (last-wins row " +
        "identity is what makes an appended UPDATE win)")
    if (table.timeTravelVersion.isDefined)
      refuse("cannot UPDATE a time-travel (VERSION/TIMESTAMP AS OF) view")
    val targetIds = rel.output.map(_.exprId).toSet
    def remap(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.transform {
        case ar: AttributeReference if targetIds.contains(ar.exprId) =>
          UnresolvedAttribute(Seq(ar.name))
      }
    u.condition.foreach { c =>
      if (!c.deterministic)
        refuse("the WHERE predicate must be deterministic (the matched " +
          "set must be replayable)")
    }
    val assigns = u.assignments.map { as =>
      val name = as.key match {
        case ar: AttributeReference => ar.name
        case other => refuse(s"unsupported assignment target: $other")
      }
      if (AtomicWarehouse.keyParts(table.mergeKey).contains(name))
        refuse(s"assigning the mergeKey part '$name' renames row " +
          "identity — the old key's latest version would survive; " +
          "express a rename as MERGE INSERT of the new key + DELETE " +
          "(purge) of the old")
      if (name == "load_seq")
        refuse("load_seq is system-maintained (maxLoadSeq + 1)")
      name -> remap(as.value)
    }.toMap
    if (assigns.isEmpty) refuse("no assignments")
    // KEY-BOUND extraction for the execution plan: when a conjunct of
    // the predicate pins the mergeKey to literal value(s), the command
    // reads through the engine's PRUNED point lookups (zone maps +
    // blooms open only the epochs that can hold the keys) instead of a
    // full merged scan — `UPDATE t SET ... WHERE k = 5` on a 100 TB
    // store must not read the store. The bound is a SUPERSET contract
    // (the full predicate still applies residually), so any conjunct's
    // bound is sound; an Or needs both sides bounded.
    def keyBound(part: String)(
        e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[Seq[String]] = {
      import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, And => CAnd, Or => COr}
      def render(v: Any): Option[String] = v match {
        case null => None
        case u8: org.apache.spark.unsafe.types.UTF8String => Some(u8.toString)
        case other => Some(other.toString)
      }
      def isKey(a: org.apache.spark.sql.catalyst.expressions.Expression) =
        a match {
          case ar: AttributeReference =>
            targetIds.contains(ar.exprId) && ar.name == part
          case _ => false
        }
      e match {
        case EqualTo(a, v) if isKey(a) && v.foldable =>
          render(v.eval()).map(Seq(_))
        case EqualTo(v, a) if isKey(a) && v.foldable =>
          render(v.eval()).map(Seq(_))
        case In(a, vs) if isKey(a) && vs.forall(_.foldable) =>
          val rs = vs.map(v => render(v.eval()))
          if (rs.forall(_.isDefined)) Some(rs.flatten.distinct) else None
        case CAnd(l, r) => keyBound(part)(l).orElse(keyBound(part)(r))
        case COr(l, r) => for { a <- keyBound(part)(l); b <- keyBound(part)(r) }
          yield (a ++ b).distinct
        case _ => None
      }
    }
    val keyTyp = rel.output.find(_.name == table.mergeKey)
      .map(a => if (a.dataType.catalogString == "string") "string"
        else "long").getOrElse("long")
    WarehouseUpdateCommand(table.dir, table.mergeKey,
      rel.output.map(a => a.name -> a.dataType.catalogString),
      MergeBranch(u.condition.map(remap), assigns, srcOnly = false),
      pointKeys = u.condition
        .flatMap(c => PointBound.boundKeys(table.mergeKey, c, keyBound))
        .getOrElse(Nil),
      keyTyp = keyTyp)
  }
}

/** The rewritten UPDATE: reads the current winners under the predicate,
  * applies the assignments, appends ONE epoch at maxLoadSeq+1.
  * Expressions live inside [[MergeBranch]] (hidden from QueryPlan's
  * expression traversal — they hold remapped UnresolvedAttributes). */
final case class WarehouseUpdateCommand(
    dir: String, mergeKey: String,
    targetCols: Seq[(String, String)],
    branch: MergeBranch,
    pointKeys: Seq[String] = Nil,
    keyTyp: String = "long")
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val maxSeq = AtomicWarehouse.maxLoadSeq(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"UPDATE of an empty warehouse at $dir — nothing to update"))
    val newSeq = maxSeq + 1
    val dataCols = targetCols.map(_._1).filter(_ != "load_seq")
    // key-bound predicates read through the PRUNED point lookups (one
    // per key — blooms/zone maps open only the epochs that can hold
    // it); the full predicate still applies residually below, so the
    // bound only has to be a superset of the matched rows
    val snap = PointBound.read(spark, dir, mergeKey, keyTyp, pointKeys)
    val cond = branch.cond
      .map(c => coalesce(GraftBridge.column(c), lit(false)))
      .getOrElse(lit(true))
    val outCols = dataCols.map { c =>
      branch.assigns.get(c) match {
        case Some(e) => GraftBridge.column(e)
          .cast(targetCols.find(_._1 == c).get._2).as(c)
        case None => col(c)
      }
    } :+ lit(newSeq).as("load_seq")
    val newRows = snap.where(cond).select(outCols: _*)
    val baseV = AtomicWarehouse.currentVersion(spark, dir)
    // plain toString, NOT canonicalized: the remapped expressions hold
    // UnresolvedAttributes, and canonicalization asks them their
    // dataType (Cast.needsTimeZone) — names are already stable
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((branch.cond.map(_.toString).getOrElse("") +
          branch.assigns.toSeq.sortBy(_._1).toString)
        .getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    // skipIfEmpty: an UPDATE whose predicate matches ZERO rows commits
    // NOTHING (mirrors DELETE's keys.nonEmpty guard) — decided from the
    // row count the commit's stats pass already computes, so the no-op
    // check costs no extra scan and repeated no-match conditional
    // updates can never inflate the manifest or the compaction cadence
    val entryName = s"update_v${baseV}_$digest"
    if (spark.conf.get("graft.update.logPreimages", "false").toBoolean) {
      // CDF preimages: the matched winners' PRE-update versions — the
      // same matched slice the update already materialized, re-emitted
      // verbatim (original load_seq included) into a preimage log the
      // change feed serves as 'update_preimage' rows behind
      // .option("includePreimages", true). O(matched rows) extra write,
      // zero cost on reads that don't ask for preimages.
      val preRows = snap.where(cond)
        .select(dataCols.map(col) :+ col("load_seq"): _*)
      AtomicWarehouse.commitNamedEpochWithPreimage(spark, dir, newRows,
        entryName, newSeq, preRows,
        statsKey = Some(mergeKey), statsCols = Seq("load_seq"),
        bloomKey = Some(mergeKey), skipIfEmpty = true)
    } else
      AtomicWarehouse.commitNamedEpoch(spark, dir, newRows,
        entryName, newSeq,
        statsKey = Some(mergeKey), statsCols = Seq("load_seq"),
        bloomKey = Some(mergeKey), skipIfEmpty = true)
    Nil
  }
}

/** Shared key-bound reads for the DML paths. When every part of the
  * (possibly composite) mergeKey is pinned to literal value(s) by the
  * predicate, the bounded key set — renderings, parts
  * [[graft.sinks.AtomicWarehouse.CompositeSep]]-joined — is a SUPERSET
  * of the matched rows (the full predicate still applies residually),
  * so the command reads through pruned point lookups instead of a full
  * merged scan. A composite bound is the CROSS PRODUCT of the per-part
  * bounds, capped at [[MaxKeys]] (a blown-up product reads the scan
  * path instead). MERGE bounds its target read by its source's keys
  * through the same [[read]]. */
private[plans] object PointBound {
  /** Most keys read through point lookups; more read the full scan. */
  val MaxKeys = 64

  /** Key column types whose values round-trip through their string
    * renderings into a point lookup of the same value. */
  val KeyTypes = Set("tinyint", "smallint", "int", "bigint", "string")

  def boundKeys(mergeKey: String,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      keyBound: String => org.apache.spark.sql.catalyst.expressions.Expression
        => Option[Seq[String]]): Option[Seq[String]] = {
    val parts = graft.sinks.AtomicWarehouse.keyParts(mergeKey)
    val perPart = parts.map(p => keyBound(p)(cond))
    if (perPart.exists(_.isEmpty)) return None
    val product = perPart.flatten.foldLeft(Seq(Seq.empty[String])) {
      (acc, vs) => if (acc.size * vs.size > MaxKeys) return None
        else acc.flatMap(prefix => vs.map(prefix :+ _))
    }
    Some(product.map(_.mkString(graft.sinks.AtomicWarehouse.CompositeSep)))
  }

  /** The merged snapshot's rows for `keys` (renderings as
    * [[boundKeys]] makes them), as the union of one pruned point lookup
    * per key — a composite rendering splits back into its parts, pruned
    * per part (zone maps + blooms). Each lookup pins its key, so its
    * last-wins window plans as a top-1 and the union shuffles nothing by
    * hash ([[EliminatePinnedWindowPartitions]]); a lookup within the
    * driver bound reads its files and picks its winner on the driver
    * ([[AtomicWarehouse.readPoint]]), so no task decodes them. No keys,
    * more than [[MaxKeys]], or none usable as the key's type read the
    * full merged snapshot. */
  def read(spark: SparkSession, dir: String, mergeKey: String,
      keyTyp: String, keys: Seq[String]): DataFrame = {
    lazy val full = AtomicWarehouse.read(spark, dir, mergeKey)
    if (keys.isEmpty || keys.size > MaxKeys) full
    else keys.flatMap { k =>
      if (AtomicWarehouse.keyParts(mergeKey).size > 1)
        Some(AtomicWarehouse.readPointComposite(spark, dir, mergeKey,
          k.split(AtomicWarehouse.CompositeSep, -1).toSeq))
      else if (keyTyp == "string")
        Some(AtomicWarehouse.readPointStr(spark, dir, mergeKey, k))
      else k.toLongOption
        .map(AtomicWarehouse.readPoint(spark, dir, mergeKey, _))
    }.reduceOption(_.unionByName(_)).getOrElse(full)
  }
}
