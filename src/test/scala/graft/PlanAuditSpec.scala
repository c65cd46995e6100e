package graft

/** Machine-checked physical-plan quality audits: the properties that keep
  * each operator viable at 100 TB — filters reaching the parquet scan,
  * dimension joins broadcast (not shuffled), interval joins never planned
  * as nested loops, top-k as TakeOrderedAndProject (no global sort),
  * unpivot as Expand (zero shuffle), aggregation with a map-side partial
  * phase, and the minhash pipeline paying exactly one shuffle.
  *
  * Assertions run on the pre-AQE static plan (`queryExecution.sparkPlan`)
  * — the plan Catalyst commits to from statistics alone; AQE can only
  * improve on it at runtime.
  */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("s2: predicates and projection reach the parquet scan") {
    val p = plan("s2_pushdown_scan")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), "no filters pushed:\n" + p)
    // projection pruned: the scan must not read the full lineitem schema
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "scan reads columns the query never touches:\n" + p)
  }

  test("dimension joins broadcast; no shuffled join on a dim table") {
    for (q <- Seq("j1_left_join_default", "j3_multihop_dim_join",
        "j4_conditional_lookup")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q shuffle-joins a dim:\n$p")
    }
  }

  test("anti/semi membership joins broadcast") {
    assert(plan("j6_anti_join").contains("BroadcastHashJoin"))
    assert(plan("p5_semi_membership").contains("BroadcastHashJoin"))
  }

  test("binned range join never degrades to a nested loop") {
    val p = plan("e7_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of join never degrades to a nested loop") {
    val p = plan("e5_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("w4_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("unpivot is pure Expand — zero shuffles") {
    val p = plan("e8_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), "unpivot shuffles:\n" + p)
  }

  test("grouped aggregate has a map-side partial phase") {
    val p = plan("a1_grouped_metrics")
    assert(count(p, "HashAggregate") >= 2,
      "no partial aggregation (map-side combine missing):\n" + p)
  }

  test("minhash signature pipeline pays exactly one shuffle") {
    val p = plan("d2_minhash_signature")
    // one round-robin/hash repartition before the explode; the groupBy
    // reuses that partitioning — a second Exchange means the reuse broke
    assert(count(p, "Exchange") == 1,
      s"expected exactly 1 shuffle, got ${count(p, "Exchange")}:\n$p")
  }

  test("codegen dot product is in the similarity plans") {
    assert(plan("v1_cosine_topk").contains("vec_dot"))
    assert(plan("v5_int8_quantize").contains("FLOOR"))
  }

  test("flagship entry broadcasts its dims") {
    val p = SparkEntry.entry(spark).queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c55: aggregate answered from the manifest, zero data partitions") {
    val df = SparkEntry.queries("c55_warehouse_agg_pushdown")(spark, sf)
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("PushedAggregates"), p)
    // the scan serves ONE metadata-computed row — no parquet file opened
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions
    }.flatten
    assert(scans.nonEmpty && scans.forall(
      _.isInstanceOf[graft.sources.v2.WarehouseAggPartition]), scans)
  }

  test("chunking / frame sampling / stratified sample are scan-side — zero shuffles") {
    for (q <- Seq("t9_doc_chunking", "m2_frame_sample", "p6_stratified_sample")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("k-means assignment broadcasts the codebook, never shuffles the vectors") {
    val p = plan("v7_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "codebook not broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), "vectors shuffle for the codebook:\n" + p)
  }

  test("window-family operators pay exactly one shuffle") {
    // SCD2 history, CDC apply, ntile, RANGE frames, value windows: each is
    // one Window over one partitioning — at most one Exchange (zero when a
    // single-partition input already satisfies the distribution); a second
    // means the sort order or partitioning stopped lining up
    for (q <- Seq("j9_scd2_history", "e11_cdc_apply", "w7_ntile_deciles",
        "w8_trailing_range_window", "a15_value_windows")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q lost its Window operator:\n$p")
      assert(count(p, "Exchange") <= 1,
        s"$q: expected at most 1 shuffle, got ${count(p, "Exchange")}:\n$p")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // 100 TB shape: fact ⋈ filtered dim where neither side broadcasts —
    // Spark injects a bloom filter built from the dim's join keys into the
    // fact scan, cutting shuffle volume by the dim's selectivity. Verify
    // the injection fires when thresholds allow it.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .where(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        "no runtime bloom filter injected:\n" + opt)
    }
  }

  test("skip-gram extraction pays at most one shuffle (array-local pairs)") {
    val p = plan("t16_skipgrams")
    // pairs are generated inside the scan projection; the only Exchange is
    // the pair-count aggregation (elided entirely on a single-partition
    // input) — a positional self-join would add more
    assert(count(p, "Exchange") <= 1,
      s"expected at most 1 shuffle, got ${count(p, "Exchange")}:\n$p")
    assert(!p.contains("Join"), s"pairs must be array-local, not a join:\n$p")
  }

  test("broadcast-stats operators never shuffle-join the fact") {
    // per-group stats joined back to the scan must plan as broadcast
    for (q <- Seq("e21_mad_outliers", "v9_feature_scaling", "t15_tfidf")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
    }
    // v9's fact side never shuffles: stats broadcast over the scan
    val p9 = plan("v9_feature_scaling")
    assert(count(p9, "Exchange") <= 1, s"v9 over-shuffles:\n$p9")
  }

  test("running-distinct's two windows share one user_id shuffle") {
    val p = plan("w13_running_distinct")
    assert(count(p, "Exchange") <= 1,
      s"first-seen window re-shuffles instead of re-sorting:\n$p")
  }

  test("scan-local text filters pay zero shuffles") {
    for (q <- Seq("t19_repetition_filters", "f29_map_kitchen",
        "f30_array_setops")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100.0") {
      val fact = spark.read.parquet(dir)
      val dim = spark.read.parquet(s"$sf/region.parquet")
        .select(col("r_name").substr(1, 1).as("flag"), col("r_regionkey"))
        .where(col("r_regionkey") === 0)
      val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      val p = joined.queryExecution.sparkPlan.toString
      assert(p.contains("dynamicpruning"),
        "partitioned scan lacks a dynamic pruning filter:\n" + p)
    }
  }

  test("segment dedup: window + reassembly, at most two shuffles") {
    val p = plan("d11_segment_dedup")
    assert(p.contains("Window"), "keep-first window missing:\n" + p)
    assert(count(p, "Exchange") <= 2,
      s"expected <=2 shuffles (segment window + doc reassembly), got ${count(p, "Exchange")}:\n$p")
  }

  test("mixing quotas broadcast onto the ranked corpus — no dim shuffle") {
    val p = plan("t21_mix_weights")
    assert(p.contains("BroadcastHashJoin"), "quota table not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus shuffles for the quota join:\n" + p)
  }

  test("semdedup broadcasts the codebook; intra-cluster pair join stays equi") {
    val p = plan("v12_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "codebook not broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "pair generation degraded to a corpus-wide cartesian:\n" + p)
    assert(p.contains("vec_dot"), "cosine not on the codegen VecDot path:\n" + p)
  }

  test("64-bit simhash: partial-aggregable signature, no pair-level distinct") {
    val p = plan("d14_simhash64_hamming")
    assert(count(p, "HashAggregate") >= 2,
      "bit-sums lost their map-side partial phase:\n" + p)
    // degree agg + signature agg are the only aggregates; a third would be
    // a pair-dedup Aggregate (the shuffle d8/d14 design removes)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("audio windowing is scan-side — zero shuffles") {
    val p = plan("m3_audio_windows")
    assert(!p.contains("Exchange"), "audio segmentation shuffles:\n" + p)
  }

  test("PMI: unigram joins broadcast onto the filtered bigram table") {
    val p = plan("t22_pmi_collocations")
    assert(count(p, "BroadcastHashJoin") >= 2,
      "vocabulary-sized unigram counts not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "bigram table shuffle-joined:\n" + p)
  }

  test("PQ assignment: broadcast codebook, partial-aggregable argmin, no window") {
    val p = plan("v14_pq_codes")
    assert(!p.contains("CartesianProduct"), p)
    // struct-min argmin must keep a map-side partial phase (the whole
    // point of replacing the row_number window)
    assert(p.contains("partial_min(struct(dist"),
      "argmin lost its partial aggregation:\n" + p)
    assert(!p.contains("Window"), "window crept back into the argmin:\n" + p)
  }

  test("concurrency gauge: fact window is hour-partitioned, never global") {
    val p = plan("e33_concurrency")
    // the ±delta fact stream must sort within hour partitions …
    assert(p.contains("windowspecdefinition(hour"),
      "fact-level running sum lost its hour partitioning:\n" + p)
    // … and only the hours-sized carry table may use a global-order window
    assert(count(p, "Window") == 2, p)
  }

  test("repeated spans: shared-hash filter is a semi join; no pair blowup") {
    val p = plan("d16_repeated_spans")
    assert(p.contains("LeftSemi"), "span filter lost semi-join form:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangle enumeration stays equi-join — no nested loop") {
    val p = plan("g10_triangle_cc")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("warehouse-OLAP stars: dims broadcast, top-k never a global sort") {
    // h2/h7 are the 6-to-8-table stars: every dim side must broadcast —
    // the fact scan is allowed at most the orders/customer shuffles
    for (q <- Seq("h2_regional_supplier_volume", "h7_market_share")) {
      val p = plan(q)
      assert(count(p, "BroadcastHashJoin") >= 3, s"$q lost dim broadcasts:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
    // the top-k family plans TakeOrderedAndProject — bounded per-partition
    // heaps + driver merge, never a full sort of the aggregate output
    for (q <- Seq("h1_shipping_priority", "h3_returned_customers",
        "h5_large_volume_orders")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q sorts globally:\n$p")
    }
  }

  test("h5: HAVING pre-aggregate shrinks the fact before any dim join") {
    val p = plan("h5_large_volume_orders")
    // the quantity rollup must sit BELOW the orders join (partial+final
    // HashAggregate on l_orderkey, then the join consumes its output)
    val aggIdx = p.indexOf("partial_sum(l_quantity")
    assert(aggIdx >= 0, "quantity rollup lost its partial phase:\n" + p)
  }

  test("h8: lateness EXISTS compiles to a semi join") {
    val p = plan("h8_priority_late_orders")
    assert(p.contains("LeftSemi"), "EXISTS not planned as semi join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v15: ADC reads codes + broadcast LUT; argmin stays partial-aggregable") {
    val p = plan("v15_pq_adc_topk")
    assert(p.contains("partial_min(struct(dist"),
      "code assignment argmin lost partial aggregation:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "ADC top-k sorts globally:\n" + p)
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v16: staged retrieval — broadcast query, top-k merges not global sorts") {
    val p = plan("v16_matryoshka_rerank")
    assert(p.contains("TakeOrderedAndProject"),
      "coarse candidate cut sorts globally:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "single query row not broadcast:\n" + p)
  }

  test("sql surface: co-located star honors its BROADCAST hints") {
    val p = plan("sql_colocated_star")
    assert(count(p, "BroadcastHashJoin") >= 3, "hinted dims not broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e34: lateness audit is one keyed shuffle (user-partitioned window)") {
    val p = plan("e34_out_of_order")
    assert(p.contains("windowspecdefinition(user_id"),
      "running-max window lost user partitioning:\n" + p)
    assert(count(p, "Exchange") <= 1, "extra shuffle beyond the keyed window:\n" + p)
  }

  test("c2: the composed epoch is one plan — window filter pushed, no rescan") {
    val p = plan("c2_analytics_epoch")
    assert(p.contains("PushedFilters: [IsNotNull(ts)"),
      "epoch window predicate not pushed to the scan:\n" + p)
    assert(count(p, "FileScan") == 1,
      "stage composition re-scans the source:\n" + p)
  }

  test("p10: column profile is ONE scan (never per-column rescans)") {
    val p = plan("p10_column_profile")
    assert(count(p, "FileScan") == 1, "profile rescans per column:\n" + p)
  }

  test("t24: lexical diversity is scan-local — no explode, no extra shuffle") {
    val p = plan("t24_lexical_diversity")
    assert(!p.contains("Generate"), "per-token explode crept in:\n" + p)
    assert(!p.contains("Exchange"), "diversity screen shuffles:\n" + p)
  }

  test("h9/h10: scan-bound aggregates — filters pushed, partial agg, no join") {
    for (q <- Seq("h9_pricing_summary", "h10_forecast_revenue")) {
      val p = plan(q)
      assert(!p.contains("PushedFilters: []"), s"$q pushes no filters:\n$p")
      assert(count(p, "HashAggregate") >= 2, s"$q lost map-side combine:\n$p")
      assert(!p.contains("Join"), s"$q joins — should be scan-only:\n$p")
    }
  }

  test("h19: decorrelated Q21 — one fact aggregation, no fact self-join") {
    val p = plan("h19_waiting_suppliers")
    // the fact (lineitem) appears exactly once: the EXISTS/NOT-EXISTS pair
    // is folded into the per-order aggregate, not two more fact joins
    assert(count(p, "lineitem.parquet") == 1,
      "fact scanned more than once (correlated EXISTS not folded):\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-20 sorts globally:\n" + p)
  }

  test("h16: NOT IN runs as broadcast anti join; distinct count stays partial") {
    val p = plan("h16_supplier_diversity")
    assert(p.contains("LeftAnti"), "NOT IN not planned as anti join:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "exclusion list shuffles:\n" + p)
  }

  test("h13/h14/h20: scalar-subquery thresholds broadcast as one-row sides") {
    for (q <- Seq("h13_important_parts", "h14_top_supplier",
        "h20_idle_rich_customers")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q pays a real cartesian for its scalar:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q shuffle-joins a scalar/dim:\n$p")
    }
  }

  test("h21: argmin window runs over the (part×supplier) rollup, not the fact") {
    val p = plan("h21_cheapest_supplier")
    // partial min below the exchange: the fact collapses to the rollup
    // before any window/sort sees it
    assert(p.contains("partial_min"), "unit-price rollup lost partials:\n" + p)
    assert(count(p, "lineitem.parquet") == 1, p)
  }

  test("v19: sign-bit signature packs to one long before the query cross") {
    val p = plan("v19_sign_hamming")
    // the corpus side carries (vec_id, sig) only — no 64-float payload
    // survives past the projection under the broadcast join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set not broadcast:\n" + p)
    assert(count(p, "Exchange") <= 2, "extra shuffles beyond the window:\n" + p)
  }

  test("v20: Lloyd update — broadcast codebook, partial per-dim means") {
    val p = plan("v20_kmeans_update")
    assert(!p.contains("SortMergeJoin"), "codebook shuffle-joined:\n" + p)
    assert(count(p, "HashAggregate") >= 2, "per-dim means lost partials:\n" + p)
    assert(count(p, "embeddings.parquet") <= 2, p)
  }

  test("d18: URL dedup is one derived-key aggregation — no join, no window") {
    val p = plan("d18_url_dedup")
    // pre-EnsureRequirements plan: the partial/final pair implies exactly
    // one inserted exchange; anything else (join, window, sort) is a bug
    assert(count(p, "HashAggregate") >= 2, "keeper agg lost partials:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("Sort"),
      "URL dedup grew non-aggregate operators:\n" + p)
  }

  test("g12: deadline funnel — range predicate rides the user-key equi join") {
    val p = plan("g12_conversion_window")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("LeftSemi"),
      "conversion join degraded to a nested loop:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p11: priority sample is a scan-side top-k — no shuffle, no global sort") {
    val p = plan("p11_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), "top-k became a sort:\n" + p)
    assert(!p.contains("Exchange hashpartitioning"),
      "priority keys should be scan-side:\n" + p)
  }

  test("e35: run-length encode pays ONE keyed shuffle (windows + agg share it)") {
    // the groupBy's (user_id, seg, event_type) clustering is satisfied by
    // the window's user_id hash partitioning (subset rule) — a second
    // exchange means the reuse broke. Exchanges only exist post-
    // EnsureRequirements, so audit the executed plan.
    val p = SparkEntry.queries("e35_run_length")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(count(p, "Exchange hashpartitioning") == 1,
      "expected exactly one keyed exchange:\n" + p)
  }

  test("sql subqueries decorrelate — no nested-loop per-row re-execution") {
    for (q <- Seq("sql_scalar_subquery", "sql_lateral_agg")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q re-executes per row:\n$p")
      assert(p.contains("HashAggregate"), s"$q lost its decorrelated agg:\n$p")
    }
  }

  test("t29/m7: corpus-frequency flag joins stay equi — no nested loop") {
    for (q <- Seq("t29_boilerplate_strip", "m7_patch_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(count(p, "HashAggregate") >= 2,
        s"$q frequency count lost its partial phase:\n$p")
    }
  }

  test("d19: incremental dedup signs the corpus once — both band sides read the checkpoint") {
    val p = plan("d19_incremental_dedup")
    // the banded table is localCheckpointed before fanning into batch and
    // corpus sides: the minhash explode/agg pipeline must NOT appear in
    // the final plan at all (it already ran, once)
    assert(p.contains("ExistingRDD"), "checkpoint reuse lost:\n" + p)
    assert(!p.contains("partial_min"), "signature pipeline re-runs inline:\n" + p)
  }

  test("v22: IVF-PQ — sub-distances checkpointed once, probe cut is a semi join, LUT broadcast") {
    val p = plan("v22_ivf_pq_topk")
    assert(p.contains("ExistingRDD"), "sub-distance checkpoint lost:\n" + p)
    assert(p.contains("LeftSemi"), "probe filter is not a semi join:\n" + p)
    assert(count(p, "BroadcastHashJoin") >= 1, "LUT/probe lost broadcast:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "final top-k became a sort:\n" + p)
  }

  test("m8/t30: per-doc rollups pay one keyed shuffle") {
    for (q <- Seq("m8_shot_boundaries", "t30_code_switch")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(count(p, "Exchange hashpartitioning") == 1,
        s"$q grew a second shuffle:\n$p")
    }
  }

  test("j12: bloom probe filters the fact BELOW the join exchange") {
    val p = plan("j12_bloom_prejoin")
    val probe = p.indexOf("bloom_might_contain")
    assert(probe >= 0, "bloom probe missing from plan:\n" + p)
    // the probe's Filter must sit scan-side: walking DOWN from the probe
    // we must reach the lineitem scan without crossing another Exchange
    val below = p.substring(probe)
    val scanAt = below.indexOf("lineitem.parquet")
    val exchangeAt = below.indexOf("Exchange")
    assert(scanAt >= 0, "no lineitem scan below the probe:\n" + p)
    assert(exchangeAt == -1 || exchangeAt > scanAt,
      "bloom probe runs above an exchange — fact shuffles unfiltered:\n" + p)
    // and the probe really prunes: pushed down next to the scan, the
    // surviving fraction at sf0.001 is ~the dim selectivity, not 100%
    import org.apache.spark.sql.functions.col
    val dim = graft.Tables.orders(spark, sf)
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_totalprice") > 250000)
    val dimFrac = dim.count().toDouble /
      graft.Tables.orders(spark, sf).count()
    val kept = graft.Tables.lineitem(spark, sf)
      .where(graft.functions.BloomMightContain(col("l_orderkey"),
        graft.functions.BloomMightContain.serialize(
          dim.stat.bloomFilter("o_orderkey", 1000, 0.01)))).count()
    val total = graft.Tables.lineitem(spark, sf).count()
    // fpp 0.01: surviving fraction ≈ dim selectivity (+1% FPs), not 100%
    assert(kept <= (dimFrac + 0.05) * total,
      s"bloom kept $kept of $total (dim frac $dimFrac) — not selective")
  }

  test("c8: partition filter prunes directories at planning time") {
    val p = plan("c8_partition_prune")
    assert(p.contains("PartitionFilters"), "no partition filters:\n" + p)
    val pf = p.substring(p.indexOf("PartitionFilters"))
      .takeWhile(_ != ']')
    assert(pf.contains("event_type"),
      "event_type filter not applied at partition level:\n" + p)
    // the data filter must NOT degrade to a post-scan Filter on event_type
    assert(!p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type"),
      "partition column filtered row-wise instead of pruned:\n" + p)
  }

  test("e36: schema profile is one aggregation — no join, partial phase intact") {
    val p = plan("e36_props_schema")
    assert(count(p, "HashAggregate") >= 2, "profile lost partial agg:\n" + p)
    assert(!p.contains("Join"), "profile grew a join:\n" + p)
  }

  test("c9: bucketed co-located join plans NO exchange and NO sort") {
    val df = SparkEntry.queries("c9_bucketed_join")(spark, sf)
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("SortMergeJoin"), "bucketed join not SMJ:\n" + p)
    assert(!p.contains("Exchange"),
      "bucketed join/agg still shuffles — bucket layout not honored:\n" + p)
    // bucket sort order satisfies the SMJ requirement: no explicit Sort
    assert(!p.contains("Sort "), "bucket sortBy not honored, plan re-sorts:\n" + p)
  }

  test("j13: salted join is shuffled-hash (the shape salting targets)") {
    val p = plan("j13_salted_skew_join")
    assert(p.contains("ShuffledHashJoin"), "salted join lost its SHJ shape:\n" + p)
    assert(!p.contains("BroadcastHashJoin"),
      "salted join broadcast — salting mooted:\n" + p)
  }

  test("t34: BM25 is one scan + broadcast 1-row stats — no explode, no extra shuffle") {
    val p = plan("t34_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "corpus stats not broadcast:\n" + p)
    assert(!p.contains("Generate"), "BM25 grew an explode:\n" + p)
    assert(count(p, "Exchange") <= 1, "BM25 shuffles beyond the 1-row agg:\n" + p)
  }

  test("t12: count tables broadcast back; no shuffled join, ≤3 exchanges") {
    val p = plan("t12_bigram_lm_score")
    assert(p.contains("BroadcastHashJoin"), "count tables not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "bigram scoring shuffle-joins:\n" + p)
    assert(count(p, "Exchange") <= 3,
      "more shuffles than count-build + vocab agg + per-doc agg:\n" + p)
  }

  test("t35: hashed featurization is join-free and shuffle-free") {
    val p = plan("t35_hashed_features")
    assert(!p.contains("Join"), "featurization grew a join:\n" + p)
    assert(!p.contains("Exchange"), "featurization shuffles:\n" + p)
    assert(!p.contains("Generate"), "featurization explodes:\n" + p)
  }

  test("w16: skyline never plans a cartesian; agg keeps its partial phase") {
    val p = plan("w16_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "skyline degenerated to the quadratic dominance join:\n" + p)
    assert(count(p, "HashAggregate") >= 2, "per-supplier agg lost partial phase:\n" + p)
  }

  test("e41: interval islands pay ≤2 keyed shuffles and no join") {
    val p = plan("e41_interval_merge")
    assert(!p.contains("Join"), "island merge grew a join:\n" + p)
    assert(count(p, "Exchange") <= 2,
      "island merge shuffles beyond window + island agg:\n" + p)
  }

  test("m14: patch projection is scan-side — no join, no shuffle") {
    val p = plan("m14_patch_project")
    assert(!p.contains("Join"), "projection weights joined, not inlined:\n" + p)
    assert(!p.contains("Exchange"), "patch projection shuffles:\n" + p)
  }

  test("p14: weighted thinning is one aggregation pass, accept test scan-side") {
    val p = plan("p14_weighted_thinning")
    assert(!p.contains("Join"), "thinning grew a join:\n" + p)
    assert(count(p, "Exchange") <= 1, "thinning shuffles before the audit agg:\n" + p)
    assert(count(p, "HashAggregate") >= 2, "audit agg lost partial phase:\n" + p)
  }

  test("v24: kNN join pairs form cell-locally — keyed join, no cartesian") {
    val p = plan("v24_knn_join")
    assert(!p.contains("CartesianProduct"),
      "kNN join degenerated to all-pairs:\n" + p)
    // the candidate-pair join must be an equi-join ON THE CELL KEY (the
    // only BNLJs are the broadcast scalar/seed cross joins, one per side)
    assert(p.contains("SortMergeJoin [cell") || p.contains("ShuffledHashJoin [cell") ||
      p.contains("BroadcastHashJoin [cell"),
      "pair join not keyed by cell:\n" + p)
    assert(count(p, "BroadcastNestedLoopJoin") <= 4,
      "more nested loops than the four broadcast scalar/seed joins:\n" + p)
  }

  test("t36: span corruption is join-free after the checkpoint barrier") {
    val p = plan("t36_span_corruption")
    assert(!p.contains("Join"), "objective builder grew a join:\n" + p)
    assert(!p.contains("Exchange"), "objective builder shuffles:\n" + p)
  }

  test("w17: per-source cap runs partitioned; global rank sees survivors only") {
    val df = SparkEntry.queries("w17_diversified_topk")(spark, sf)
    val p = df.queryExecution.sparkPlan.toString
    // two Window operators: the partitioned source cap, then the global rank
    assert(count(p, "Window") >= 2, "cap/global window pair collapsed:\n" + p)
    assert(!p.contains("Join"), "diversified top-k grew a join:\n" + p)
  }

  test("c13: table diff is one full-outer join, never a cartesian") {
    val p = plan("c13_table_diff")
    assert(p.contains("FullOuter") || p.contains("full_outer") ||
      p.contains("FullOuterJoin") || p.contains("SortMergeJoin"),
      "diff lost its keyed join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c17: fact scan carries a dynamic partition pruning subquery") {
    // executedPlan, not sparkPlan: DPP subqueries are injected as
    // planning-time subqueries visible in the executed plan tree
    val p = SparkEntry.queries("c17_dynamic_partition_pruning")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), "no DPP on the fact scan:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("runtime bloom filter prunes a selective fact-fact join") {
    // thresholds dropped so the tiny test tables qualify; semantics (and
    // the battery hash gate) are unchanged by the runtime filter — this
    // pins that the engine KEEPS Spark's runtime-filter path available
    // (at 100 TB the default 10 GB application-side threshold activates
    // it on exactly the scans that matter)
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sf)
        .where(col("o_orderkey") % 7 === 0)
        .select("o_orderkey")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        "no runtime bloom filter injected:\n" + p)
      assert(j.count() > 0)
    }
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("c30: streamed epochs commit one part file each and stage nothing") {
    SparkEntry.queries("c30_streaming_pipeline_epoch")(spark, sf).count()
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_c30")
    assert(!new java.io.File(base, "staging").exists(),
      "the streaming path wrote the staging dir")
    val epochs = new java.io.File(base, "warehouse").listFiles()
      .filter(_.getName.startsWith("epoch_"))
    assert(epochs.length == 2, epochs.map(_.getName).mkString(","))
    for (e <- epochs)
      assert(e.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${e.getName}: ${e.list().mkString(",")}")
  }

  test("composed 7-stage epoch: dims are map lookups, no nested loop anywhere") {
    import spark.implicits._
    import graft.pipeline.Stages
    import graft.sources.DimLoader
    // the c30/c35 streaming entries run this exact composition per
    // micro-batch; audit the one-plan batch form Catalyst commits to
    val videos = Seq(("v1", "Show | AB4", "2024-05-01T00:00:00Z", "ch0", 1L))
      .toDF("video_id", "video_title", "published_at", "channel_id", "ingest_seq")
    val channels = Seq(("ch0", "C0")).toDF("channel_id", "channel_name")
    val employees = Seq(("T", "4")).toDF("team", "employee_code")
    val shows = Seq(("AB4", "S", "B", "Cat"))
      .toDF("code", "show_name", "broadcaster", "category")
    val cpm = Seq(("S", "P")).toDF("shows_name", "cpm_category")
    // owner2 holds a row too: the optimizer prunes an owner without one
    val facts = Seq(("v1", "owner1", "vod", 1L, 1.0, 1L, 1L, 1L, 1L, 1.0, 1.0, 1L, 1L),
        ("v1", "owner2", "vod", 2L, 2.0, 2L, 2L, 2L, 2L, 2.0, 2.0, 2L, 2L))
      .toDF("video_id", "content_owner_id", "content_type", "views",
        "minutes_watched", "avg_view_duration_s", "comments", "likes",
        "shares", "revenue", "cpm", "subs_gained", "subs_lost")
    val s1 = Stages.ingest(videos, DimLoader.resolve(channels, "channel_id"),
      "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z")
    val s3 = Stages.enrichShow(Stages.enrichTitleCode(s1,
      DimLoader.resolve(employees, "employee_code")),
      DimLoader.resolve(shows, "code"))
    val metrics = graft.sources.AnalyticsSource.metricsAcrossOwners(
      facts, s3.select("video_id"), Seq("owner1", "owner2"),
      withContentType = true)
    val s6 = Stages.toCanonical(Stages.derive(Stages.mergeAnalytics(s3, metrics),
      DimLoader.resolve(cpm, "shows_name")))
    val p = s6.queryExecution.sparkPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"nested-loop/cartesian in the epoch plan:\n$p")
    // the four dims are map literals probed in projections: no join has
    // a dim on either side (a dim join keys on channel_id, resource_code,
    // code or show_name), and the only joins are the owner pass's one
    // semi id join and the video_id-keyed staging-metrics merge (so no
    // anti-join hop attributes the owners either)
    import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val opt = s6.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.forall(_.condition.forall(_.references.forall(_.name == "video_id"))),
      s"a join keyed on a dim:\n$opt")
    assert(joins.map(_.joinType).sortBy(_.toString) == Seq(LeftOuter, LeftSemi),
      s"joins beyond the id semi join and the metrics merge:\n$opt")
    // the owners are attributed in ONE pass over the facts: one aggregate
    // whose input holds the facts
    val factAggs = opt.collect {
      case a: Aggregate if a.collectLeaves()
        .exists(_.output.exists(_.name == "content_owner_id")) => a
    }
    assert(factAggs.size == 1, s"${factAggs.size} aggregates over the facts:\n$opt")
  }
}
