package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpressionInfo}
import org.apache.spark.sql.types.{LongType, StringType}
import graft.functions.{BloomMightContain, HexPrefixLong, HexTopBitsPack, SecondsToHms, TitleMainCode, VecDot}

/** SparkSessionExtensions entry point: makes the engine's custom Catalyst
  * expressions and the warehouse change-feed table function callable from
  * SQL, and installs its analyzer rules (title-code fusion, the warehouse
  * MERGE/UPDATE/DELETE rewrites), its optimizer rule (window partitions a
  * filter pins to one key, [[graft.plans.EliminatePinnedWindowPartitions]])
  * and its planner strategies (key-pinned warehouse reads answered on
  * the driver, [[graft.plans.DriverAnswerStrategy]]; native top-k per
  * group).
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   SELECT seconds_to_hms(avg_view_duration_s), title_main_code(title) …
  *
  * For an already-running session GraftExtensions.register(spark) adds the
  * functions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // SQL face of the row-level change feed (Delta's `table_changes`):
    //   SELECT * FROM graft_table_changes('<warehouse dir>', 2[, 5])
    // resolves to the same DSv2 relation as
    // `.option("readChangeFeed", true).option("startingVersion", 2)` —
    // a table-valued FUNCTION, not a procedure, because a feed is data
    // (distributed scan, prunable, joinable), never a driver-collected
    // maintenance result.
    ext.injectTableFunction((FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(classOf[graft.sources.v2.WarehouseSource].getName,
        "graft_table_changes"),
      args => GraftExtensions.tableChanges(args)))
    // post-hoc RESOLUTION rule, not an optimizer rule: the fuse matches
    // the freshly-analyzed chain; by optimizer time ConstantFolding /
    // PushFoldableIntoBranches have already rewritten it beyond template
    // equality
    ext.injectPostHocResolutionRule(_ => graft.plans.FuseTitleCode)
    // MERGE INTO on graft-warehouse catalog tables → one appended upsert
    // epoch (the K4 scatter-update as SQL); must run at analysis, before
    // Spark's own row-level-operation rewrite refuses the table
    ext.injectPostHocResolutionRule(_ => graft.plans.RewriteWarehouseMerge)
    // UPDATE on graft-warehouse catalog tables → one appended epoch of
    // the matched winners with assignments applied (merge-on-read
    // UPDATE; arbitrary deterministic predicates are append-safe)
    ext.injectPostHocResolutionRule(_ => graft.plans.RewriteWarehouseUpdate)
    // predicate DELETE (shapes the key-identity SupportsDelete path
    // refuses) → matched winners' keys collected (bounded) into one
    // deferred-purge tombstone
    ext.injectPostHocResolutionRule(_ => graft.plans.RewriteWarehouseDelete)
    // a last-wins window whose filter pins its key to one literal forms
    // one group: drop the pinned keys, and plan `row_number() = 1` as a
    // top-1 with no exchange. Pre-CBO (batch Once): constraints are
    // derived once per query, after the filters were pushed down
    ext.injectPreCBORule(_ => graft.plans.EliminatePinnedWindowPartitions)
    // a key-pinned warehouse read within the driver bound, with the
    // projections, filters and top-1 above it, answered on the driver as
    // a local table (no Spark job); before the top-k strategy, which
    // would otherwise plan that top-1 as a task
    ext.injectPlannerStrategy(_ => graft.plans.DriverAnswerStrategy)
    // physical planning for the native top-k-per-group logical node
    // (graft.plans.TopKPerGroup → partial/final bounded-heap pair)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {
  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name expects exactly 1 argument")
    args.head
  }

  /** `graft_table_changes(path, startingVersion[, endingVersion])` →
    * the row-level change-feed relation (readChangeFeed semantics:
    * `_change_type`/`_commit_version` columns, deletes as rows,
    * inclusive version bounds). Arguments must be foldable literals —
    * they parameterize ANALYSIS (which table, which versions), not
    * per-row evaluation. */
  private[graft] def tableChanges(args: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_table_changes expects (path, startingVersion" +
        "[, endingVersion])")
    def folded(e: Expression, what: String): Any = {
      require(e.foldable,
        s"graft_table_changes: $what must be a literal")
      e.eval()
    }
    val path = folded(args(0), "path") match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => throw new IllegalArgumentException(
        s"graft_table_changes: path must be a string literal, got $other")
    }
    // integer literal → version bound; string literal → timestamp bound
    // (Delta's table_changes accepts either form)
    def bound(e: Expression, verOpt: String, tsOpt: String)
        : (String, String) = folded(e, verOpt) match {
      case u: org.apache.spark.unsafe.types.UTF8String =>
        (tsOpt, u.toString)
      case _ => Cast(e, LongType).eval() match {
        case l: java.lang.Long => (verOpt, l.toString)
        case _ => throw new IllegalArgumentException(
          s"graft_table_changes: $verOpt must be an integer or " +
            "timestamp-string literal")
      }
    }
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", path)
    opts.put("readChangeFeed", "true")
    val (sk, sv) = bound(args(1), "startingVersion", "startingTimestamp")
    opts.put(sk, sv)
    if (args.length == 3) {
      val (ek, ev) = bound(args(2), "endingVersion", "endingTimestamp")
      opts.put(ek, ev)
    }
    val cis = new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)
    val provider = new graft.sources.v2.WarehouseSource
    val table = provider.getTable(provider.inferSchema(cis),
      Array.empty, opts)
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(table, None, None, cis, None)
  }

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("seconds_to_hms",
      new ExpressionInfo(classOf[SecondsToHms].getName, "seconds_to_hms"),
      args => SecondsToHms(Cast(one(args, "seconds_to_hms"), LongType))),
    ("title_main_code",
      new ExpressionInfo(classOf[TitleMainCode].getName, "title_main_code"),
      args => TitleMainCode(Cast(one(args, "title_main_code"), StringType))),
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      args => {
        require(args.length == 2, "vec_dot expects exactly 2 arguments")
        VecDot(args(0), args(1))
      }),
    ("hex_topbits_pack",
      new ExpressionInfo(classOf[HexTopBitsPack].getName, "hex_topbits_pack"),
      args => HexTopBitsPack(Cast(one(args, "hex_topbits_pack"), StringType))),
    ("hex_prefix_long",
      new ExpressionInfo(classOf[HexPrefixLong].getName, "hex_prefix_long"),
      args => {
        require(args.length == 2, "hex_prefix_long expects exactly 2 arguments")
        val n = args(1) match {
          case e if e.foldable =>
            val v = Cast(e, org.apache.spark.sql.types.IntegerType).eval()
            if (v == null) throw new IllegalArgumentException(
              "hex_prefix_long digit count must be a non-null integer literal")
            v.asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "hex_prefix_long digit count must be a literal")
        }
        HexPrefixLong(Cast(args(0), StringType), n)
      }),
    ("bloom_might_contain",
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      args => {
        require(args.length == 2, "bloom_might_contain expects exactly 2 arguments")
        BloomMightContain(Cast(args(0), LongType), args(1))
      }))

  /** Register on a live session (temp functions only — analyzer rules
    * like FuseTitleCode and optimizer rules like
    * EliminatePinnedWindowPartitions are fixed at session creation; start
    * the session with spark.sql.extensions=graft.GraftExtensions to get
    * them). */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
