package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 widening, part 37: the storage-layout scale features — a
  * bucketed co-located join (zero-shuffle SMJ off pre-bucketed tables)
  * and an explicit salted join for skewed keys — plus BM25 relevance
  * scoring and nearest-neighbor resize over genuinely-decoded pixels.
  */
object Extended37 {

  private val rev = "l.l_extendedprice * (1 - l.l_discount)"

  /** C9 — bucketed CO-LOCATED join: both join sides are written as
    * 8-bucket tables hash-clustered and sorted on the join key
    * (`bucketBy(8, key).sortBy(key)`), then sort-merge joined and
    * aggregated ON the bucket key. Because both scans already satisfy the
    * required `HashPartitioning(orderkey, 8)` and sort order, Catalyst
    * plans NO exchange and NO sort anywhere — the join and the groupBy
    * both run bucket-local (PlanAuditSpec pins the exchange-free plan).
    * The oracle replays the same join/agg straight off the raw parquet,
    * so the bucketed write+read round-trip is also value-checked.
    *
    * Scale: this is the canonical 100 TB fact⋈fact answer — pay the
    * shuffle ONCE at layout time, then every subsequent join/agg on the
    * bucket key is embarrassingly parallel with zero network. At 1000
    * executors the bucket count would be a few thousand, not 8; the plan
    * shape is identical. */
  val c9BucketedJoin = q("c9_bucketed_join",
    s"""SELECT l.l_orderkey,
       |       ${rnd(rnd(s"sum($rev)", 4), 2)} AS revenue,
       |       CAST(count(*) AS BIGINT) AS n_lines
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey % 97 = 0
       |GROUP BY 1""".stripMargin) { (s, d) =>
    // FIXED table names + dir, overwritten per run: repeated battery
    // invocations (each query runs warmup + timed) reuse the
    // same two metastore entries and disk footprint instead of
    // accumulating uniquely-named tables and temp dirs
    val base = sys.props("java.io.tmpdir") + "/graft_c9_tables"
    val tO = "graft_c9_o"
    val tL = "graft_c9_l"
    // repartition on the bucket key with numPartitions == bucket count →
    // ONE file per bucket (same Murmur3 pmod as the bucket spec), which is
    // the precondition for the read side to trust the per-bucket sort
    Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .repartition(8, col("o_orderkey"))
      .write.format("parquet").mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/o").saveAsTable(tO)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .repartition(8, col("l_orderkey"))
      .write.format("parquet").mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/l").saveAsTable(tL)
    val o = s.table(tO)
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 97 === 0)
    val l = s.table(tL)
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(round(round(sum("rev"), 4), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** J13 — explicitly SALTED join for skewed keys (the manual form of
    * what AQE skew-join does adaptively, needed when one key's rows
    * exceed a single executor even post-split): the fact side gets a
    * deterministic salt in 0..7, the dimension side is replicated once
    * per salt value (8× a small table), and the join key becomes
    * (suppkey, salt) — so one hot supplier's rows spread across 8 tasks
    * instead of hammering one. A `shuffle_hash` hint keeps the plan the
    * shape salting targets (a broadcast would moot it). The rollup to
    * s_name merges the 8 shards back; the oracle is the plain unsalted
    * join.
    *
    * Scale: salt factor scales with observed skew (key histogram →
    * per-key salt), replication cost is |dim|×S rows — trivial for any
    * dimension that was near-broadcastable anyway. */
  val j13SaltedSkewJoin = q("j13_salted_skew_join",
    s"""SELECT s.s_name,
       |       ${rnd(rnd(s"sum($rev)", 4), 2)} AS revenue,
       |       CAST(count(*) AS BIGINT) AS n_lines
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val fact = Tables.lineitem(s, d).select(
      col("l_suppkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
      pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(8)).as("salt"))
    val dim = Tables.supplier(s, d).select("s_suppkey", "s_name")
      .withColumn("salt", explode(sequence(lit(0), lit(7))))
    fact.join(dim.hint("shuffle_hash"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy(col("s_name"))
      .agg(round(round(sum("rev"), 4), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** T34 — BM25 relevance scoring (k1=1.2, b=0.75) of every document
    * against a fixed 3-term query, the standard lexical ranker (and the
    * retrieval half of RAG data pipelines). Per-term term frequencies
    * are computed ARRAY-LOCALLY (`filter(tokens, _ == term).size` — no
    * explode, no shuffle), the corpus statistics (N, avgdl, per-term df)
    * collapse into ONE single-row aggregate that broadcasts back, and
    * the score is a fixed-shape arithmetic expression — so the whole
    * ranker is one scan + one 1-row agg. Cross-engine exactness: every
    * input to the float expression is integer-exact, the expression
    * trees are structurally identical in Spark and DuckDB (same
    * operation order), and the result goes through the shared `rnd`
    * rounding.
    *
    * Scale: per-doc work is linear in its token count; the only
    * all-corpus reduction is the 1-row stats agg. A real system would
    * precompute df in the inverted index (t18) — the score expression is
    * unchanged. */
  val t34Bm25 = q("t34_bm25",
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, len(t) AS dlen,
       |         len(list_filter(t, x -> x = 'dup')) AS tf1,
       |         len(list_filter(t, x -> x = 'vector')) AS tf2,
       |         len(list_filter(t, x -> x = 'spark')) AS tf3
       |  FROM tok),
       |st AS (
       |  SELECT count(*) AS n, avg(dlen) AS avgdl,
       |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
       |         sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
       |  FROM tf)
       |SELECT tf.doc_id,
       |       CAST((CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS INT) AS n_hits,
       |       ${rnd(
        "ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * ((tf1 * 2.2) / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)))" +
          " + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * ((tf2 * 2.2) / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)))" +
          " + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * ((tf3 * 2.2) / (tf3 + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)))",
        6)} AS bm25
       |FROM tf CROSS JOIN st""".stripMargin) { (s, d) =>
    val toks = filter(split(trim(col("text")), "\\s+"), x => x =!= "")
    def tfOf(term: String) = size(filter(col("t"), x => x === term))
    val tf = Tables.documents(s, d).select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), size(col("t")).as("dlen"),
        tfOf("dup").as("tf1"), tfOf("vector").as("tf2"), tfOf("spark").as("tf3"))
    val st = tf.agg(
      count(lit(1)).as("n"), avg("dlen").as("avgdl"),
      sum(when(col("tf1") > 0, 1).otherwise(0)).as("df1"),
      sum(when(col("tf2") > 0, 1).otherwise(0)).as("df2"),
      sum(when(col("tf3") > 0, 1).otherwise(0)).as("df3"))
    def score(tf: String, df: String) =
      log(lit(1) + (col("n") - col(df) + lit(0.5)) / (col(df) + lit(0.5))) *
        ((col(tf) * lit(2.2)) /
          (col(tf) + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dlen") / col("avgdl"))))
    tf.crossJoin(broadcast(st))
      .select(col("doc_id"),
        (when(col("tf1") > 0, 1).otherwise(0) +
          when(col("tf2") > 0, 1).otherwise(0) +
          when(col("tf3") > 0, 1).otherwise(0)).cast("int").as("n_hits"),
        round(score("tf1", "df1") + score("tf2", "df2") + score("tf3", "df3"), 6)
          .as("bm25"))
  }

  /** M12 — nearest-neighbor RESIZE over genuinely decoded pixels: each
    * document's closed-form image is encoded to a real PNG, decoded back
    * through `javax.imageio` (as in m9), then downsampled to a fixed 4×4
    * thumbnail by explicit NN indexing (`sx = X*w/4` integer floor — not
    * `Graphics2D`, whose interpolation is implementation-defined). The
    * output is the per-channel sum over the 16 sampled pixels; the
    * oracle recomputes the same sums arithmetically from the pixel
    * function at the same sample coordinates, so a one-pixel error in
    * decode OR in the resample indexing breaks the hash. This is the
    * "resize" step of the brief's multimodal decode/resize/frame-sample
    * trio running on real codec output.
    *
    * Scale: encode+decode+resample are scan-side per-partition work;
    * only 6 small columns leave the executor. */
  val m12ResizeNn = q("m12_resize_nn",
    """WITH dims AS (
      |  SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id * 3) % 8 AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, (x.x * d.w) // 4 AS sx, (y.y * d.h) // 4 AS sy
      |  FROM dims d, generate_series(0, 3) x(x), generate_series(0, 3) y(y))
      |SELECT doc_id,
      |       CAST(sum((sx * 7 + sy * 13 + doc_id) % 256) AS BIGINT) AS r_sum,
      |       CAST(sum((sx * 3 + sy * 5 + 2 * doc_id) % 256) AS BIGINT) AS g_sum,
      |       CAST(sum((sx + sy + 3 * doc_id) % 256) AS BIGINT) AS b_sum
      |FROM px GROUP BY 1""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.multimodal.BinaryOps
    docIds(s, d) // single-row-group input: repartition or the codec loop below runs serial
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (8 + id % 8).toInt
          val h = (8 + (id * 3) % 8).toInt
          val png = BinaryOps.encodePng(w, h, (x, y) =>
            ((((x * 7 + y * 13 + id) % 256).toInt << 16) |
              (((x * 3 + y * 5 + 2 * id) % 256).toInt << 8) |
              ((x + y + 3 * id) % 256).toInt))
          val img = BinaryOps.readImage(png)
          require(img != null, s"PNG for doc $id failed to decode")
          var rs = 0L; var gs = 0L; var bs = 0L
          var yy = 0
          while (yy < 4) {
            var xx = 0
            while (xx < 4) {
              val rgb = img.getRGB(xx * img.getWidth / 4, yy * img.getHeight / 4)
              rs += (rgb >> 16) & 0xFF; gs += (rgb >> 8) & 0xFF; bs += rgb & 0xFF
              xx += 1
            }
            yy += 1
          }
          (id, rs, gs, bs)
        }
      }
      .toDF("doc_id", "r_sum", "g_sum", "b_sum")
  }

  val all: Seq[Q] = Seq(c9BucketedJoin, j13SaltedSkewJoin, t34Bm25, m12ResizeNn)
}
