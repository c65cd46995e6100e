package graft.plans

import org.apache.spark.sql.{Column, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, And => CAnd}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import graft.sinks.AtomicWarehouse
import graft.sources.v2.WarehouseTable

/** `MERGE INTO wh.t USING updates s ON t.key = s.key WHEN MATCHED [AND
  * <cond>] THEN UPDATE ... WHEN NOT MATCHED [AND <cond>] THEN INSERT
  * ...` on a graft-warehouse catalog table — the SQL face of the
  * reference's K4 scatter-update (ref:
  * Python-pipeline/dataprocessing.py:120-163 writes fetched metrics back
  * into matched staging rows), executed the LOG-STRUCTURED way: the
  * merge result is ONE appended epoch whose rows win the keyed last-wins
  * read merge by `load_seq`, so merge cost is O(delta), never a table
  * rewrite — what Delta/Iceberg call a merge-on-read MERGE.
  *
  * Supported shape (everything else refuses at analysis, naming the
  * violation — half-running a MERGE would corrupt the upsert contract):
  *
  *  - the ON condition is `t.<mergeKey> = <expr over source>` (the
  *    catalog's configured mergeKey: row identity is what the warehouse
  *    merges by);
  *  - WHEN MATCHED: any number of `[AND <cond>] THEN UPDATE SET ...`
  *    branches, FIRST-MATCH-WINS in clause order (Spark's MERGE
  *    semantics); conditions and values may reference target AND source
  *    columns (old values come from one pre-merge snapshot read);
  *    unassigned columns keep the matched row's current value; a
  *    matched row no branch accepts is left unchanged (no new version
  *    appended). `THEN DELETE` refuses: the warehouse is append-only —
  *    deletion is the purge/tombstone protocol, not a MERGE branch;
  *  - WHEN NOT MATCHED: any number of `[AND <cond>] THEN INSERT ...`
  *    branches, first-match-wins; conditions and values over SOURCE
  *    columns only (there is no target row); unassigned columns insert
  *    NULL;
  *  - WHEN NOT MATCHED BY SOURCE [AND <cond over target>] THEN DELETE:
  *    the sync-MERGE clause — target keys ABSENT from the source (and
  *    accepted by any branch condition) are committed as a TOMBSTONE
  *    entry in the same manifest CAS as the merge epoch, so the delta
  *    and the deletes become visible together; `THEN UPDATE` refuses
  *    (updating rows addressed by absence would rewrite unbounded old
  *    epochs);
  *  - `load_seq` is system-maintained: the new epoch's sequence number
  *    overrides any assignment to it. The sequence is
  *    [[AtomicWarehouse.maxLoadSeq]]+1 and the epoch commits under the
  *    collision-free `merge_v<base>_<digest>` entry namespace so it can
  *    never silently swallow (or be swallowed by) an external drain
  *    counter's `epoch_<seq>` commit.
  *
  * Execution picks between two plans:
  *
  *  - FAST PATH (single unconditional branches whose full assignment
  *    lists coincide, source-only values): the source projection IS the
  *    epoch — no target read at all, O(|source|);
  *  - GENERAL PATH (partial assignments, conditional/multiple branches,
  *    or target-referencing values): one left-outer join of the source
  *    against the target supplies old values and the per-row branch
  *    choice; rows with no applicable branch drop out. The target side
  *    is KEY-BOUND: a source of at most 64 keys (the cap UPDATE and
  *    DELETE bound their point reads by) reads only those keys' current
  *    winners, through the same pruned point lookups; a larger source
  *    reads the merged snapshot. Either way the delta-sized source is
  *    the join's small side. WHEN NOT MATCHED BY SOURCE needs the target
  *    keys ABSENT from the source, so it reads the merged snapshot.
  */
object RewriteWarehouseMerge extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable if m.resolved && isWarehouseTarget(m) =>
        rewrite(m)
    }

  private def isWarehouseTarget(m: MergeIntoTable): Boolean =
    m.targetTable.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[WarehouseTable] =>
        r
    }.isDefined

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-warehouse MERGE INTO supports only `ON t.<mergeKey> = " +
        "<source expr>` with WHEN MATCHED [AND cond] THEN UPDATE and " +
        "WHEN NOT MATCHED [AND cond] THEN INSERT branches " +
        s"(first-match-wins) — $what")

  private def rewrite(m: MergeIntoTable): LogicalPlan = {
    val rel = m.targetTable.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[WarehouseTable] => r
    }.get
    val table = rel.table.asInstanceOf[WarehouseTable]
    if (table.mergeKey.isEmpty)
      refuse("the catalog has no mergeKey configured")
    if (table.timeTravelVersion.isDefined)
      refuse("cannot MERGE into a time-travel (VERSION/TIMESTAMP AS OF) view")
    val targetAttrs = rel.output
    val sourceRefs = m.sourceTable.outputSet

    // ON t.<mergeKey> = <source expr> (either side order). A COMPOSITE
    // mergeKey ("k1,k2") takes the conjunction `t.k1 = <e1> AND
    // t.k2 = <e2>` — every part equated exactly once, any order.
    val keyPartNames = AtomicWarehouse.keyParts(table.mergeKey)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def partEq(e: Expression): Option[(String, Expression)] = e match {
      case EqualTo(l: AttributeReference, r)
          if targetAttrs.exists(_.exprId == l.exprId) &&
            keyPartNames.contains(l.name) &&
            r.references.subsetOf(sourceRefs) => Some(l.name -> r)
      case EqualTo(l, r: AttributeReference)
          if targetAttrs.exists(_.exprId == r.exprId) &&
            keyPartNames.contains(r.name) &&
            l.references.subsetOf(sourceRefs) => Some(r.name -> l)
      case _ => None
    }
    val eqs = conjuncts(m.mergeCondition).map(c =>
      partEq(c).getOrElse(refuse(
        s"unsupported ON condition: ${m.mergeCondition.sql} (every " +
          s"conjunct must equate one mergeKey part of " +
          s"'${table.mergeKey}' with a source expression)")))
    if (eqs.map(_._1).distinct.size != eqs.size)
      refuse(s"ON condition equates a mergeKey part twice: " +
        m.mergeCondition.sql)
    val eqByPart = eqs.toMap
    val srcKeyExprs: Seq[Expression] = keyPartNames.map(p =>
      eqByPart.getOrElse(p, refuse(
        s"ON condition must equate EVERY part of mergeKey " +
          s"'${table.mergeKey}'; missing '$p'")))

    val targetIds = targetAttrs.map(_.exprId).toSet
    // target references resolve per-NAME against the `__t_`-prefixed
    // snapshot columns the general path joins in; source references keep
    // their exprIds (the run-time source frame reuses the same plan)
    def remapTarget(e: Expression): Expression = e.transform {
      case ar: AttributeReference if targetIds.contains(ar.exprId) =>
        UnresolvedAttribute(Seq(s"__t_${ar.name}"))
    }
    def srcOnly(e: Expression): Boolean = e.references.subsetOf(sourceRefs)

    def branchesOf(actions: Seq[MergeAction], label: String,
        insert: Boolean): Seq[MergeBranch] = actions.map { a =>
      val (cond, assigns) = a match {
        case u: UpdateAction if !insert => (u.condition, u.assignments)
        case i: InsertAction if insert => (i.condition, i.assignments)
        case _: DeleteAction => refuse(
          s"$label THEN DELETE: the warehouse is append-only — use the " +
            "purge/tombstone protocol (SQL DELETE FROM) for deletion")
        case other => refuse(s"unsupported $label action: $other")
      }
      cond.foreach { c =>
        if (insert && !srcOnly(c))
          refuse(s"$label condition references target columns " +
            "(no target row exists for an INSERT branch)")
      }
      val branchSrcOnly = cond.forall(srcOnly) && assigns.forall(a2 => srcOnly(a2.value))
      val mapped = assigns.map { as =>
        val name = as.key match {
          case ar: AttributeReference => ar.name
          case other => refuse(s"unsupported $label assignment target: $other")
        }
        if (insert && !srcOnly(as.value))
          refuse(s"$label value for '$name' references target columns")
        name -> remapTarget(as.value)
      }.toMap
      MergeBranch(cond.map(remapTarget), mapped, branchSrcOnly)
    }

    val matched = branchesOf(m.matchedActions, "WHEN MATCHED", insert = false)
    val notMatched = branchesOf(m.notMatchedActions, "WHEN NOT MATCHED",
      insert = true)

    // WHEN NOT MATCHED BY SOURCE addresses target rows by ABSENCE from
    // the source. THEN DELETE composes with the append-only store as a
    // TOMBSTONE batch — the deleted keys (target ∖ source, any branch
    // condition accepting) commit as a deletion-vector entry in the SAME
    // manifest CAS as the merge epoch
    // ([[graft.sinks.AtomicWarehouse.commitNamedEpochWithTombstoneTyped]]):
    // the sync-style "delete rows the feed no longer carries" MERGE,
    // with no epoch rewrite. THEN UPDATE stays refused: an update
    // addressed at absent-from-source rows would rewrite arbitrarily
    // many old epochs (the row set is unbounded by the delta), breaking
    // the O(delta) merge contract — drain the new values instead.
    // wrapped in [[MergeBranch]] (assigns empty) so the expressions
    // hide from QueryPlan's expression traversal — remapped `__t_`
    // UnresolvedAttributes inside a command's Expression-typed fields
    // would make AttributeSet construction throw at analysis
    val bySourceDelete: Seq[MergeBranch] =
      m.notMatchedBySourceActions.map {
        case d: DeleteAction =>
          d.condition.foreach { c =>
            if (!c.references.forall(r => targetIds.contains(r.exprId)))
              refuse("WHEN NOT MATCHED BY SOURCE condition references " +
                "source columns (no source row exists by definition)")
          }
          MergeBranch(d.condition.map(remapTarget), Map.empty,
            srcOnly = false)
        case _: UpdateAction => refuse(
          "WHEN NOT MATCHED BY SOURCE THEN UPDATE: updating rows " +
            "addressed by absence would rewrite unbounded old epochs — " +
            "drain the new values as an epoch instead")
        case other => refuse(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
    if (bySourceDelete.nonEmpty) keyPartNames.foreach { part =>
      val keyType = targetAttrs.find(_.name == part)
        .map(_.dataType).getOrElse(refuse(
          s"target has no mergeKey column '$part'"))
      if (!PointBound.KeyTypes.contains(keyType.catalogString))
        refuse("WHEN NOT MATCHED BY SOURCE THEN DELETE needs an integral " +
          s"or string mergeKey (tombstones address typed keys); " +
          s"'$part' is ${keyType.catalogString}")
    }

    if (matched.isEmpty && notMatched.isEmpty && bySourceDelete.isEmpty)
      refuse("no UPDATE, INSERT or DELETE clause")

    WarehouseMergeCommand(table.dir, table.mergeKey,
      targetAttrs.map(a => a.name -> a.dataType.catalogString),
      m.sourceTable, srcKeyExprs, matched, notMatched, bySourceDelete)
  }
}

/** One WHEN (NOT) MATCHED branch: optional condition, assignment map,
  * and whether every expression references only source columns (a
  * fast-path precondition). Expressions referencing the target have been
  * remapped to `__t_<name>` unresolved attributes at analysis. */
final case class MergeBranch(cond: Option[Expression],
    assigns: Map[String, Expression], srcOnly: Boolean)

/** The rewritten MERGE: executes eagerly as a command (the
  * analyzer-produced node [[RewriteWarehouseMerge]] emits). Holds the
  * resolved source plan and per-branch assignment expressions; source
  * references resolve against the source DataFrame rebuilt at run time
  * (same plan, same exprIds), target references by `__t_` name. */
final case class WarehouseMergeCommand(
    dir: String, mergeKey: String,
    targetCols: Seq[(String, String)],
    source: LogicalPlan,
    srcKeyExprs: Seq[Expression],
    matched: Seq[MergeBranch],
    notMatched: Seq[MergeBranch],
    bySourceDelete: Seq[MergeBranch] = Nil)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftBridge.ofRows(spark, source)
    // the floor comes from maxLoadSeq, NOT from epoch_<N> names: a
    // fully compacted warehouse (only compact_v* entries) is still a
    // populated merge target, and prior MERGE epochs live outside the
    // epoch_<N> namespace entirely
    val maxSeq = AtomicWarehouse.maxLoadSeq(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"MERGE INTO an empty warehouse at $dir — drain an epoch first " +
          "(the target schema and merge convention come from committed " +
          "data)"))
    val newSeq = maxSeq + 1
    val dataCols = targetCols.map(_._1).filter(_ != "load_seq")

    def colOf(e: Expression): Column = GraftBridge.column(e)
    // a branch GUARDS on its condition: NULL = false (SQL's WHEN
    // semantics), absent = always-true
    def guard(b: MergeBranch): Column =
      b.cond.map(c => coalesce(colOf(c), lit(false))).getOrElse(lit(true))

    // FAST PATH: exactly one unconditional branch on each side, every
    // expression source-only, full assignment lists that agree per
    // column — the appended epoch is a pure source projection
    val symmetric = (matched, notMatched) match {
      case (Seq(u), Seq(i)) =>
        u.cond.isEmpty && i.cond.isEmpty && u.srcOnly && i.srcOnly &&
          dataCols.forall { c =>
            (u.assigns.get(c), i.assigns.get(c)) match {
              case (Some(uv), Some(iv)) => uv.semanticEquals(iv)
              case _ => false
            }
          }
      case _ => false
    }
    // WHEN NOT MATCHED BY SOURCE THEN DELETE: the key set is (target
    // keys) ∖ (source keys) — ONE anti-join of the merged snapshot
    // against the distinct source keys (broadcast: the delta-sized
    // source is small by the merge contract), filtered by the branch
    // conditions (NULL = false, absent = always), then collected under
    // an ENFORCED driver-size contract: the collect is bounded by
    // `graft.merge.maxDeleteKeys` (default 100k — a sync-MERGE deletes
    // the FEW keys the feed dropped, not the table; a mass delete is
    // the purge protocol's job), and an EMPTY source refuses outright —
    // a feed outage delivering zero rows must fail the sync, not
    // tombstone the entire warehouse. Keys compare as the mergeKey's
    // type: long for integral keys, string for string keys (the
    // reference's video_id).
    val keyPartNames = AtomicWarehouse.keyParts(mergeKey)
    val composite = keyPartNames.size > 1
    // composite keys compare as the engine's null-propagating string
    // rendering; single keys as their column's type
    val keyTyp =
      if (composite) "string"
      else if (targetCols.find(_._1 == mergeKey).exists(_._2 == "string"))
        "string"
      else "long"
    def renderParts(cols: Seq[Column]): Column =
      concat(cols.map(_.cast("string"))
        .flatMap(c => Seq(lit(AtomicWarehouse.CompositeSep), c))
        .drop(1): _*)
    def srcKeyRendered: Column =
      if (composite) renderParts(srcKeyExprs.map(GraftBridge.column))
      else GraftBridge.column(srcKeyExprs.head).cast(keyTyp)
    def targetKeyRendered: Column =
      if (composite) renderParts(keyPartNames.map(p => col(s"__t_$p")))
      else col(s"__t_$mergeKey").cast(keyTyp)
    val deleteKeys: Seq[String] =
      if (bySourceDelete.isEmpty) Nil
      else {
        val merged = AtomicWarehouse.read(spark, dir, mergeKey)
        val t = merged.select(merged.columns.toSeq
          .map(c => col(c).as(s"__t_$c")): _*)
        val srcKeys = src
          .select(srcKeyRendered.as("__sk"))
          .na.drop().distinct()
        if (srcKeys.isEmpty)
          throw new IllegalStateException(
            "MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE over an " +
              "EMPTY source: every target key is absent, so the sync " +
              "would tombstone the whole table — a feed outage must not " +
              "delete the warehouse. Run the purge protocol explicitly " +
              "if mass deletion is intended.")
        val anyDelete = bySourceDelete.map(guard)
          .foldLeft(lit(false))(_ || _)
        val maxKeys = spark.conf
          .get("graft.merge.maxDeleteKeys", "100000").toInt
        val keys = t.join(broadcast(srcKeys),
            targetKeyRendered === col("__sk"), "left_anti")
          .where(anyDelete)
          // canonical rendering: long keys round-trip through the long
          // cast so "07"-style storage can never split one key in two
          .select(targetKeyRendered.cast("string"))
          .na.drop().distinct()
          .limit(maxKeys + 1) // bounds the collect: never a table's keys
          .collect().map(_.getString(0)).toSeq
        if (keys.size > maxKeys)
          throw new IllegalStateException(
            s"MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE would " +
              s"tombstone more than $maxKeys keys (graft.merge." +
              "maxDeleteKeys) — tombstone key lists are driver-sized by " +
              "the deferred-purge contract. Raise the cap only if the " +
              "driver can hold the list; for mass deletion use the purge " +
              "protocol (purge → compact → vacuum).")
        keys
      }

    // KEY-BOUND target read: the left-outer join below takes only the
    // target rows whose key equals a source key (a null source key
    // matches nothing), so when the source carries at most
    // PointBound.MaxKeys keys the target is read through their pruned
    // point lookups — the reads UPDATE and DELETE use — instead of the
    // full merged snapshot. The probe collects at most MaxKeys + 1 key
    // renderings (a VALUES source folds to a local relation: no Spark
    // job); more, or a source key typed unlike its target part (or
    // outside the integral/string types whose renderings round-trip),
    // reads the full snapshot.
    def boundTarget(): org.apache.spark.sql.DataFrame = {
      val sameType = keyPartNames.zip(srcKeyExprs).forall { case (p, e) =>
        targetCols.find(_._1 == p).exists { case (_, t) =>
          t == e.dataType.catalogString && PointBound.KeyTypes.contains(t)
        }
      }
      lazy val probe = src.select(srcKeyRendered.cast("string"))
        .limit(PointBound.MaxKeys + 1).collect()
      if (sameType && probe.length <= PointBound.MaxKeys)
        PointBound.read(spark, dir, mergeKey, keyTyp,
          probe.flatMap(r => Option(r.getString(0))).distinct.toSeq)
      else AtomicWarehouse.read(spark, dir, mergeKey)
    }

    // GENERAL PATH pieces: old values / branch selection need the
    // matched target row — one left-outer join against the key-bound
    // target read (the delta-sized source is the join's small side).
    // Shared by the plain commit and the typed-feed commit (which needs
    // the matched/not-matched SPLIT even for symmetric merges).
    def generalParts(): (org.apache.spark.sql.DataFrame, Column, Column,
        Seq[Column]) = {
      val merged = boundTarget()
      val t = merged.select(merged.columns.toSeq
        .map(c => col(c).as(s"__t_$c")): _*)
      val joinCond = srcKeyExprs.zip(keyPartNames).map { case (e, p) =>
        GraftBridge.column(e) === col(s"__t_$p")
      }.reduce(_ && _)
      val joined = src.join(t, joinCond, "left_outer")
      val isMatched = keyPartNames.map(p => col(s"__t_$p").isNotNull)
        .reduce(_ && _)
      // FIRST-MATCH-WINS branch selection, per Spark MERGE semantics:
      // nested WHEN chains pick the earliest accepting branch; a row
      // no branch accepts is not actionable and appends nothing
      val anyMatched = matched.map(guard)
        .foldLeft(lit(false))(_ || _)
      val anyInsert = notMatched.map(guard)
        .foldLeft(lit(false))(_ || _)
      val actionable = (isMatched && anyMatched) ||
        (!isMatched && anyInsert)
      val outCols = dataCols.map { c =>
        val keep = col(s"__t_$c")
        val nullOf = lit(null).cast(targetCols.find(_._1 == c).get._2)
        val u = matched.foldRight(keep) { (b, els) =>
          when(guard(b), b.assigns.get(c).map(colOf).getOrElse(keep))
            .otherwise(els)
        }
        val i = notMatched.foldRight(nullOf) { (b, els) =>
          when(guard(b), b.assigns.get(c).map(colOf).getOrElse(nullOf))
            .otherwise(els)
        }
        when(isMatched, u).otherwise(i).as(c)
      } :+ lit(newSeq).as("load_seq")
      (joined, isMatched, actionable, outCols)
    }
    lazy val newRows =
      if (symmetric)
        src.select(dataCols.map(c =>
            colOf(matched.head.assigns(c)).as(c)) :+
          lit(newSeq).as("load_seq"): _*)
      else {
        val (joined, _, actionable, outCols) = generalParts()
        joined.where(actionable).select(outCols: _*)
      }
    // COLLISION-FREE entry namespace: never `epoch_<seq>` — the external
    // drain counter owns that namespace, and a collision there would let
    // commitEpoch's name-based idempotence silently no-op the losing
    // writer (lost update). The name encodes (base version, merge-plan
    // digest) like purge rewrites do, so only a replay of THIS merge at
    // THIS base converges by name; any other writer commits under a
    // different name and manifest order + the load_seq tiebreaker decide
    // the keyed winner. `load_seq` stats are recorded so the NEXT
    // self-sequencing writer derives its floor from the manifest alone.
    val baseV = AtomicWarehouse.currentVersion(spark, dir)
    // the digest renders source columns by their ORDINAL in the source's
    // output, never by expression id: ids come from a JVM-wide counter,
    // so an id-bearing rendering would name the same MERGE at the same
    // base differently depending on what was analyzed before it, and a
    // replay would not converge by name
    val srcOrdinal = source.output.map(_.exprId).zipWithIndex.toMap
    def stable(e: Expression): String = e.transform {
      case a: AttributeReference if srcOrdinal.contains(a.exprId) =>
        UnresolvedAttribute(Seq(s"__s${srcOrdinal(a.exprId)}"))
    }.toString
    def stableBranches(bs: Seq[MergeBranch]): String = bs.map { b =>
      (b.cond.map(stable), b.assigns.toSeq.sortBy(_._1)
        .map { case (c, e) => c -> stable(e) }, b.srcOnly)
    }.toString
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((source.canonicalized.toString +
          srcKeyExprs.map(stable).mkString(";") +
          stableBranches(matched) + stableBranches(notMatched) +
          stableBranches(bySourceDelete))
        .getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    if (matched.isEmpty && notMatched.isEmpty) {
      // delete-only MERGE: no epoch to append — the tombstone commit is
      // the whole merge, atomic on its own
      if (deleteKeys.nonEmpty)
        AtomicWarehouse.purgeKeysDeferredTyped(spark, dir, mergeKey,
          keyTyp, deleteKeys)
    } else if (spark.conf
        .get("graft.merge.typedFeedEntries", "false").toBoolean) {
      // TYPED-FEED commit (Delta CDF's per-row merge typing, expressed
      // as per-ENTRY typing): the matched branch's rows land as an
      // `update_v*_m` epoch (feed-typed 'update_postimage'), the
      // not-matched branch's as the plain merge epoch ('insert'), the
      // by-source deletes as the tombstone — all in ONE manifest CAS,
      // with the matched winners' preimages logged alongside when
      // graft.update.logPreimages is on. Needs the matched split, so
      // symmetric merges take the general join too — that one extra
      // target read is the price of the typed feed, paid only under
      // the opt-in.
      val (joined, isMatched, actionable, outCols) = generalParts()
      val updRows = joined.where(actionable && isMatched)
        .select(outCols: _*)
      val insRows = joined.where(actionable && !isMatched)
        .select(outCols: _*)
      val preRows =
        if (!spark.conf.get("graft.update.logPreimages", "false").toBoolean)
          None
        else Some(joined.where(actionable && isMatched).select(
          dataCols.map(c => col(s"__t_$c").as(c)) :+
            col("__t_load_seq").as("load_seq"): _*))
      AtomicWarehouse.commitMergeTyped(spark, dir,
        s"merge_v${baseV}_$digest", updRows, insRows, preRows, newSeq,
        mergeKey, keyTyp, deleteKeys, statsKey = Some(mergeKey),
        statsCols = Seq("load_seq"), bloomKey = Some(mergeKey))
    } else
      AtomicWarehouse.commitNamedEpochWithTombstoneTyped(spark, dir,
        newRows, s"merge_v${baseV}_$digest", newSeq, mergeKey, keyTyp,
        deleteKeys, statsKey = Some(mergeKey), statsCols = Seq("load_seq"),
        bloomKey = Some(mergeKey))
    Nil
  }
}
