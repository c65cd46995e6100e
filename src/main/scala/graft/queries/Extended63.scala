package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6 widening, part 63: two time-series curation operators the
  * battery lacked — OHLC bar aggregation (the canonical irregular→bar
  * downsample) and the embargoed temporal split (leakage-safe
  * train/test partitioning for time-ordered corpora).
  */
object Extended63 {

  /** E48 — OHLC BAR AGGREGATION: irregular per-event values rolled to
    * one bar per (event_type, day) — open = first value in (ts,
    * event_id) order, close = last, high/low = extrema, volume = count.
    * The open/close selection rides the same two-window row_number
    * pattern on BOTH engines (Spark's min_by/DuckDB's arg_min have
    * engine-specific tie rules; an explicit total order does not). One
    * shuffle for the windows, map-side-combinable aggregates on top.
    *
    * Scale: the canonical downsample of a 100 TB event log to
    * dashboard granularity — output is O(types × days) however large
    * the input; the window partitions by the same key the groupBy
    * shuffles on, so Catalyst reuses one exchange. */
  val e48OhlcBars = q("e48_ohlc_bars",
    """WITH x AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value,
      |         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                            ORDER BY ts, event_id) AS rna,
      |         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                            ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM events)
      |SELECT event_type, day,
      |       max(CASE WHEN rna = 1 THEN value END) AS open,
      |       max(value) AS high, min(value) AS low,
      |       max(CASE WHEN rnd = 1 THEN value END) AS close,
      |       count(*) AS volume
      |FROM x GROUP BY event_type, day""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), col("value"))
    val asc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val desc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(desc))
      .groupBy("event_type", "day")
      .agg(max(when(col("rna") === 1, col("value"))).as("open"),
        max("value").as("high"), min("value").as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"),
        count(lit(1)).as("volume"))
  }

  /** P18 — EMBARGOED TEMPORAL SPLIT: time-ordered data split into
    * train (before the cutoff minus the embargo), test (after the
    * cutoff) and an EXCLUDED embargo gap between them — the
    * leakage-safe backtest split (a gap-less temporal split leaks
    * boundary-window context: any feature computed over a trailing
    * window crosses the cut). The cutoff is the 80th percentile event
    * time and the embargo is 7 days, both computed IN-QUERY so the
    * split is a pure function of the data. Output: per (split,
    * event_type) counts — the class-balance audit read before
    * training.
    *
    * Scale: one percentile aggregate (partial-merge) + one stateless
    * classify + one count rollup; nothing is data-size-bound but the
    * scan. */
  val p18TemporalSplit = q("p18_temporal_split",
    """WITH cut AS (
      |  SELECT quantile_cont(epoch_us(ts::TIMESTAMP), 0.8) AS c FROM events),
      |tagged AS (
      |  SELECT event_type,
      |         CASE WHEN epoch_us(ts::TIMESTAMP) > (SELECT c FROM cut)
      |                THEN 'test'
      |              WHEN epoch_us(ts::TIMESTAMP)
      |                   <= (SELECT c FROM cut) - CAST(604800000000 AS BIGINT)
      |                THEN 'train'
      |              ELSE 'embargo' END AS split
      |  FROM events)
      |SELECT split, event_type, count(*) AS n
      |FROM tagged GROUP BY split, event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val cut = ev.agg(
      expr("percentile(us, 0.8)").as("c")).select(col("c"))
    val embargoUs = 7L * 86400 * 1000000
    ev.crossJoin(broadcast(cut))
      .withColumn("split",
        when(col("us") > col("c"), lit("test"))
          .when(col("us") <= col("c") - embargoUs, lit("train"))
          .otherwise(lit("embargo")))
      .groupBy("split", "event_type").agg(count(lit(1)).as("n"))
  }

  /** C50 — the OLAP family ON THE ENGINE'S OWN STORAGE: lineitem is
    * drained into an AtomicWarehouse through the connector's CLUSTERED
    * write (`clusterBy l_shipdate`, shipdate zone maps in the
    * manifest), the warehouse is mounted via the catalog plugin, and a
    * TPC-H-Q4-shaped priority/revenue rollup runs as ONE `spark.sql`
    * statement joining the catalog table against the raw orders view —
    * the full stack in one statement: SQL → catalog → DSv2 scan →
    * manifest zone-map pruning on the date window → row-group skipping
    * inside the clustered files → broadcast star join. The oracle runs
    * the same query on the raw parquet: storage must never change
    * answers.
    *
    * Scale: exactly how a 100 TB deployment serves its analysts — facts
    * live in the clustered warehouse, queries arrive as SQL by name,
    * and the date predicate prunes at three levels before the join. */
  val c50OlapOnWarehouse = q("c50_olap_on_warehouse",
    s"""SELECT o.o_orderpriority,
       |       ${rnd("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
       |       count(DISTINCT l.l_orderkey) AS n_orders
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE l.l_shipdate >= TIMESTAMP '1995-03-01'
       |  AND l.l_shipdate < TIMESTAMP '1995-09-01'
       |GROUP BY o.o_orderpriority""".stripMargin) { (s, d) =>
    val root = freshScratch("c50")
    Tables.lineitem(s, d)
      .select(col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_extendedprice"), col("l_discount"), col("l_shipdate"),
        lit(1L).as("load_seq"))
      .write.format("graft-warehouse")
      .option("path", s"$root/lineitem").option("seq", "1")
      .option("clusterBy", "l_shipdate")
      .option("statsKey", "l_orderkey").option("statsCols", "l_shipdate")
      .mode("append").save()
    s.conf.set("spark.sql.catalog.whc50", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc50.root", root)
    Tables.orders(s, d).createOrReplaceTempView("c50_orders")
    s.sql(
      """SELECT o.o_orderpriority,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |       count(DISTINCT l.l_orderkey) AS n_orders
        |FROM whc50.lineitem l JOIN c50_orders o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l.l_shipdate < TIMESTAMP '1995-09-01'
        |GROUP BY o.o_orderpriority""".stripMargin)
  }

  /** C51 — the warehouse DESCRIBE report
    * ([[graft.sinks.AtomicWarehouse.describe]], every table format's
    * `DESCRIBE DETAIL`): after a full maintenance lifecycle — two
    * drains, a compaction fold, a post-fold drain, and a key purge —
    * the report must show exactly the surviving manifest entries with
    * their kinds and footer-derived row counts (no data scan), plus
    * which pruning artifacts (zone-map columns, key bloom) each entry
    * carries. The oracle computes each entry's expected population
    * declaratively; a report row that misses a purge or a fold
    * hash-mismatches. Since the round-9 default-on multi-column zone
    * maps, every stats-eligible column shows in `stats_cols`
    * (`c_name,k,load_seq`) — the report pins that commit-time default
    * alongside the declared artifacts.
    *
    * Scale: the report is O(entries) metadata reads — the first thing
    * an operator looks at before compacting/vacuuming a 100 TB store. */
  val c51WarehouseDescribe = q("c51_warehouse_describe",
    """WITH total AS (SELECT count(*) AS n FROM customer),
      |doomed AS (
      |  SELECT count(*) AS n FROM customer
      |  WHERE c_custkey % 101 = 17 AND c_custkey < 3000),
      |dig AS (
      |  SELECT substr(md5(string_agg(CAST(k AS VARCHAR), ',' ORDER BY k)),
      |                1, 8) AS dg
      |  FROM (SELECT DISTINCT c_custkey AS k FROM customer
      |        WHERE c_custkey % 101 = 17 AND c_custkey < 3000))
      |SELECT * FROM (
      |  SELECT 'compact_v2_p4_' || (SELECT dg FROM dig) AS entry_name,
      |         'purged' AS kind,
      |         (SELECT n FROM total) - (SELECT n FROM doomed) AS n_rows,
      |         'c_name,k,load_seq' AS stats_cols, true AS has_bloom
      |  UNION ALL
      |  SELECT 'epoch_4', 'epoch', (SELECT n FROM total),
      |         'c_name,k,load_seq', true
      |  UNION ALL
      |  SELECT 'tombstone_noop_v4_' || (SELECT dg FROM dig), 'purge-log',
      |         (SELECT n FROM doomed), 'k', false)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val wh = freshScratch("c51") + "/wh"
    val cust = Tables.customer(s, d)
    def ep(seq: Long, dfv: DataFrame): Unit =
      AtomicWarehouse.commitEpoch(s, wh,
        dfv.select(col("k"), col("c_name"), lit(seq).as("load_seq")), seq,
        statsKey = Some("k"), bloomKey = Some("k"))
    val base = cust.withColumn("k", col("c_custkey").cast("long"))
    ep(1L, base)
    ep(2L, base.where(col("c_nationkey") < 10))
    AtomicWarehouse.compact(s, wh, "k",                  // [compact_v2]
      statsKey = Some("k"), bloomKey = Some("k"))
    // "new arrivals": keys shifted +1e6, so the purge's zone maps
    // exclude epoch_4 STRUCTURALLY (range-disjoint — the report's entry
    // set can never flip on a bloom false positive)
    ep(4L, base.withColumn("k", col("k") + lit(1000000L)))
    val doomed = base
      .where(col("k") % 101 === 17 && col("k") < 3000)
      .select(col("k"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    AtomicWarehouse.purgeKeys(s, wh, "k", doomed,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.describe(s, wh)
      .select("entry_name", "kind", "n_rows", "stats_cols", "has_bloom")
  }

  /** C52 — SQL `DELETE FROM` through the catalog: the right-to-be-
    * forgotten purge addressed the way an operator actually issues it —
    * `DELETE FROM whc52.parts WHERE k IN (…)` resolves through
    * [[graft.sources.v2.WarehouseTable]]'s SupportsDelete into
    * [[graft.sinks.AtomicWarehouse.purgeKeysDeferredTyped]] (one
    * tombstone of the named keys + one manifest CAS; the reads drop
    * them); WarehouseCatalogSpec pins the tombstone shape. The hashed
    * result is the post-DELETE merged snapshot read back BY SQL; the
    * oracle replays both epochs minus the keys.
    *
    * Scale: the DELETE writes O(keys) and rewrites no epoch — the
    * deferred half of c48's purge, reachable from any SQL client with
    * zero engine API. */
  val c52SqlDeletePurge = q("c52_sql_delete_purge",
    """WITH e1 AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name,
      |         CAST(1 AS BIGINT) AS load_seq FROM part),
      |e2 AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS k, 'REFETCHED' AS p_name,
      |         CAST(2 AS BIGINT) AS load_seq FROM part
      |  WHERE p_partkey % 4 = 0),
      |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
      |SELECT k, p_name, load_seq FROM (
      |  SELECT *, row_number() OVER (PARTITION BY k
      |                               ORDER BY load_seq DESC) AS rn
      |  FROM u) WHERE rn = 1 AND k NOT IN (3, 17, 41)""".stripMargin) { (s, d) =>
    import graft.sinks.AtomicWarehouse
    val root = freshScratch("c52")
    val base = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("k"), col("p_name"))
    AtomicWarehouse.commitEpoch(s, s"$root/parts",
      base.withColumn("load_seq", lit(1L)), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(s, s"$root/parts",
      base.where(col("k") % 4 === 0)
        .withColumn("p_name", lit("REFETCHED"))
        .withColumn("load_seq", lit(2L)), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))
    s.conf.set("spark.sql.catalog.whc52", "graft.sources.v2.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.whc52.root", root)
    s.conf.set("spark.sql.catalog.whc52.mergeKey", "k")
    s.sql("DELETE FROM whc52.parts WHERE k IN (3, 17, 41)")
    s.sql(
      """SELECT k, p_name, load_seq FROM (
        |  SELECT k, p_name, load_seq,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY load_seq DESC) AS rn
        |  FROM whc52.parts) WHERE rn = 1""".stripMargin)
  }

  val all: Seq[Q] = Seq(e48OhlcBars, p18TemporalSplit, c50OlapOnWarehouse,
    c51WarehouseDescribe, c52SqlDeletePurge)
}
