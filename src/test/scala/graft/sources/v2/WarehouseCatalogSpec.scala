package graft.sources.v2

import graft.SparkSuite
import graft.sinks.AtomicWarehouse
import org.apache.spark.sql.functions._

/** The warehouse catalog plugin: SQL-by-name reads, VERSION AS OF /
  * TIMESTAMP AS OF time travel, table listing, and the read-only DDL
  * contract. */
class WarehouseCatalogSpec extends SparkSuite {
  import spark.implicits._

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("wh_cat").toString
    spark.conf.set("spark.sql.catalog.whcat",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whcat.root", r)
    r
  }

  private def rows(lo: Int, hi: Int, seq: Long) =
    (lo to hi).map(i => (i.toLong, s"n$i", seq))
      .toDF("k", "name", "load_seq")

  test("CTAS: CREATE TABLE AS SELECT births a warehouse with the rows") {
    root // force catalog registration
    (1L to 8L).map(i => (i, s"v$i", 1L)).toDF("k", "name", "load_seq")
      .createOrReplaceTempView("ctas_src")
    spark.sql(
      """CREATE TABLE whcat.ctas_t USING `graft-warehouse`
        |TBLPROPERTIES ('mergeKey'='k', 'statsKey'='k')
        |AS SELECT k, name, load_seq FROM ctas_src""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM whcat.ctas_t").head.getLong(0)
      == 8L)
    // the CTAS write drained through the standard commit protocol:
    // one data entry, conf-declared stats recorded
    val entries = AtomicWarehouse.committedEntriesAt(spark, s"$root/ctas_t",
      AtomicWarehouse.currentVersion(spark, s"$root/ctas_t"))
    assert(entries.size == 1 && entries.head.statsFor("k", "k").isDefined,
      s"CTAS must commit one stats-bearing epoch: $entries")
  }

  test("SQL reads a warehouse by name; VERSION AS OF travels") {
    AtomicWarehouse.commitEpoch(spark, s"$root/videos", rows(1, 10, 1L), 1L)
    // ext4 mtime granularity is fine-grained but keep a visible gap for
    // the TIMESTAMP AS OF boundary below
    Thread.sleep(1100)
    val betweenCommits = java.time.Instant.now()
    Thread.sleep(1100)
    AtomicWarehouse.commitEpoch(spark, s"$root/videos", rows(11, 30, 2L), 2L)

    assert(spark.sql("SELECT count(*) AS c FROM whcat.videos")
      .head.getLong(0) == 30)
    assert(spark.sql("SELECT count(*) AS c FROM whcat.videos VERSION AS OF 1")
      .head.getLong(0) == 10)
    val ts = java.sql.Timestamp.from(betweenCommits).toString
    assert(spark.sql(
      s"SELECT count(*) AS c FROM whcat.videos TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 10)
  }

  test("catalog queries inherit the pruning scan (filters pushed)") {
    AtomicWarehouse.commitEpoch(spark, s"$root/pruned", rows(1, 100, 1L), 1L,
      statsKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, s"$root/pruned",
      rows(1000, 1100, 2L), 2L, statsKey = Some("k"))
    val df = spark.sql("SELECT k, name FROM whcat.pruned WHERE k >= 1000")
    assert(df.count() == 101)
    assert(df.queryExecution.executedPlan.toString.contains("graft-warehouse"))
  }

  test("SHOW TABLES lists only manifest-bearing dirs") {
    AtomicWarehouse.commitEpoch(spark, s"$root/listed", rows(1, 3, 1L), 1L)
    new java.io.File(s"$root/not_a_warehouse").mkdirs()
    val names = spark.sql("SHOW TABLES IN whcat").select("tableName")
      .as[String].collect().toSet
    assert(names.contains("listed"))
    assert(!names.contains("not_a_warehouse"))
  }

  test("DESCRIBE EXTENDED surfaces warehouse facts as table properties") {
    AtomicWarehouse.commitEpoch(spark, s"$root/props", rows(1, 5, 1L), 1L)
    AtomicWarehouse.commitEpoch(spark, s"$root/props", rows(6, 9, 2L), 2L)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED whcat.props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val props = desc.getOrElse("Table Properties", "")
    assert(props.contains("manifestVersion=2") &&
      props.contains("committedEntries=2"), props)
  }

  test("SQL DELETE maps to the key purge; predicates go deferred") {
    def real(ns: Seq[String]) = ns.count(n =>
      AtomicWarehouse.isTombstone(n) && !AtomicWarehouse.isNoopTombstone(n))
    val delRoot = java.nio.file.Files.createTempDirectory("wh_del").toString
    spark.conf.set("spark.sql.catalog.whdel",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whdel.root", delRoot)
    spark.conf.set("spark.sql.catalog.whdel.mergeKey", "k")
    AtomicWarehouse.commitEpoch(spark, s"$delRoot/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, s"$delRoot/t", rows(5, 20, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))

    spark.sql("DELETE FROM whdel.t WHERE k IN (3, 7, 15)")
    val left = spark.sql("SELECT DISTINCT k FROM whdel.t")
      .as[Long].collect().toSet
    assert(left == (1L to 20L).toSet -- Set(3L, 7L, 15L))
    // a key-identity DELETE is ONE tombstone commit: both epochs stay
    // as committed, no copy-on-write rewrite
    val keyed = AtomicWarehouse.committedEpochs(spark, s"$delRoot/t")
    assert(real(keyed) == 1 && keyed.count(_.startsWith("epoch_")) == 2 &&
      !keyed.exists(AtomicWarehouse.isPurgeRewrite),
      s"key DELETE must commit one tombstone and rewrite nothing: $keyed")

    // not a key-identity predicate → round 12: served as a DEFERRED
    // purge of the matched winners' keys (was refused at analysis)
    spark.sql("DELETE FROM whdel.t WHERE name = 'n4'")
    assert(spark.sql("SELECT count(DISTINCT k) AS c FROM whdel.t")
      .head.getLong(0) == 16)
    val names = AtomicWarehouse.committedEpochs(spark, s"$delRoot/t")
    assert(real(names) == 2 && !names.exists(AtomicWarehouse.isPurgeRewrite),
      s"predicate DELETE goes through the tombstone path: $names")
  }

  test("DELETE with contradictory conjuncts purges nothing") {
    val delRoot = java.nio.file.Files.createTempDirectory("wh_del2").toString
    spark.conf.set("spark.sql.catalog.whdel2",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whdel2.root", delRoot)
    spark.conf.set("spark.sql.catalog.whdel2.mergeKey", "k")
    AtomicWarehouse.commitEpoch(spark, s"$delRoot/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    // `k = 5 AND k = 6` matches NOTHING: the conjunction must intersect
    // (the pre-round-7 union semantics purged both keys)
    spark.sql("DELETE FROM whdel2.t WHERE k = 5 AND k = 6")
    assert(spark.sql("SELECT count(*) AS c FROM whdel2.t")
      .head.getLong(0) == 10)
    spark.sql("DELETE FROM whdel2.t WHERE k = 5 AND k IN (5, 6)")
    assert(spark.sql("SELECT DISTINCT k FROM whdel2.t").as[Long]
      .collect().toSet == (1L to 10L).toSet - 5L)
  }

  // one catalog name per test: Spark caches catalog instances on first
  // use, so re-pointing an existing name's root would silently no-op
  private def mergeRoot(cat: String): String = {
    val r = java.nio.file.Files.createTempDirectory(s"wh_$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", r)
    spark.conf.set(s"spark.sql.catalog.$cat.mergeKey", "k")
    r
  }

  test("predicate DELETE tombstones the matched winners' keys") {
    val r = mergeRoot("whdel3")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    // a NON-key predicate: refused by the key-identity SupportsDelete
    // path, now served as a deferred purge of the matched keys
    spark.sql("DELETE FROM whdel3.t WHERE name IN ('n2', 'n7') OR k = 9")
    assert(spark.sql("SELECT DISTINCT k FROM whdel3.t").as[Long]
      .collect().toSet == (1L to 10L).toSet -- Set(2L, 7L, 9L))
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(names.exists(AtomicWarehouse.isTombstone),
      s"predicate DELETE must commit a tombstone, not rewrite: $names")
    // the delete bound keys AS OF execution: a later drain re-adding a
    // matching row is NOT retroactively deleted (SQL semantics)
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      Seq((2L, "n2", 2L)).toDF("k", "name", "load_seq"), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))
    assert(spark.sql("SELECT count(*) FROM whdel3.t WHERE k = 2")
      .head.getLong(0) == 1L)
    // key-identity predicates commit a tombstone of the NAMED keys:
    // one more real tombstone, no copy-on-write rewrite
    def real(ns: Seq[String]) = ns.filter(n =>
      AtomicWarehouse.isTombstone(n) && !AtomicWarehouse.isNoopTombstone(n))
    spark.sql("DELETE FROM whdel3.t WHERE k = 5")
    val names2 = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(real(names2).size == real(names).size + 1 &&
      !names2.exists(AtomicWarehouse.isPurgeRewrite),
      s"key-identity DELETE must commit one tombstone: $names2")
    // ... IN-lists included: coercion wraps the attribute in a NO-OP
    // cast (`cast(k as bigint) IN (...)`), which must not demote the
    // shape to the predicate path (round-12 regression: every long-key
    // IN delete silently went deferred). The key path tombstones every
    // named key, 999 included; the predicate path would list only the
    // matched winners (3, 4)
    spark.sql("DELETE FROM whdel3.t WHERE k IN (3, 4, 999)")
    val names3 = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    val added = real(names3).diff(real(names2))
    assert(added.size == 1 && !names3.exists(AtomicWarehouse.isPurgeRewrite),
      s"key IN (...) DELETE must commit one tombstone: $names3")
    assert(AtomicWarehouse.readTombstoneKeys(spark, s"$r/t", added.head)._2
      .toSet == Set(3L, 4L, 999L),
      "key IN (...) DELETE must take the key path, not the predicate path")
    assert(spark.sql("SELECT DISTINCT k FROM whdel3.t").as[Long]
      .collect().toSet == Set(1L, 2L, 6L, 8L, 10L))
    // over-cap predicate deletes refuse loudly
    spark.conf.set("graft.delete.maxKeys", "2")
    try {
      val e = intercept[Exception] {
        spark.sql("DELETE FROM whdel3.t WHERE name LIKE 'n%'")
      }
      assert(e.getMessage.contains("maxKeys") ||
        Option(e.getCause).exists(_.getMessage.contains("maxKeys")))
    } finally spark.conf.unset("graft.delete.maxKeys")
  }

  test("composite mergeKey: SQL UPDATE, predicate DELETE, MERGE, refusals") {
    val r = java.nio.file.Files.createTempDirectory("wh_whck").toString
    spark.conf.set("spark.sql.catalog.whck",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whck.root", r)
    spark.conf.set("spark.sql.catalog.whck.mergeKey", "grp,id")
    val key = "grp,id"
    def cRows(seq: Long, triples: (String, Long, String)*) =
      triples.toSeq.toDF("grp", "id", "name").withColumn("load_seq", lit(seq))
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      cRows(1L, ("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, "b1"),
        ("b", 2L, "b2"), ("c", 1L, "c1")), 1L,
      statsKey = Some(key), bloomKey = Some(key))
    def merged = AtomicWarehouse.read(spark, s"$r/t", key)
    // UPDATE with an arbitrary predicate over the parts
    spark.sql("UPDATE whck.t SET name = concat('X-', name) " +
      "WHERE grp = 'a' AND id >= 2")
    assert(merged.where(col("grp") === "a" && col("id") === 2L)
      .head.getAs[String]("name") == "X-a2")
    // assigning a key PART refuses (row identity)
    val e1 = intercept[Exception] {
      spark.sql("UPDATE whck.t SET id = 9 WHERE grp = 'a'")
    }
    assert(e1.getMessage.contains("mergeKey part") ||
      Option(e1.getCause).exists(_.getMessage.contains("mergeKey part")))
    // predicate DELETE → composite deferred tombstone
    spark.sql("DELETE FROM whck.t WHERE grp = 'b' AND id = 2")
    assert(merged.count() == 4)
    assert(merged.where(col("grp") === "b" && col("id") === 2L).isEmpty)
    assert(AtomicWarehouse.committedEpochs(spark, s"$r/t")
      .exists(AtomicWarehouse.isTombstone), "composite DELETE tombstones")
    // MERGE with the composite ON conjunction: update (a,1), insert (d,7)
    Seq(("a", 1L, "merged-a1"), ("d", 7L, "new-d7"))
      .toDF("g", "i", "n").createOrReplaceTempView("ck_src")
    spark.sql(
      """MERGE INTO whck.t AS t USING ck_src AS s
        |ON t.grp = s.g AND t.id = s.i
        |WHEN MATCHED THEN UPDATE SET name = s.n
        |WHEN NOT MATCHED THEN INSERT (grp, id, name) VALUES (s.g, s.i, s.n)
        |""".stripMargin)
    assert(merged.count() == 5)
    assert(merged.where(col("grp") === "a" && col("id") === 1L)
      .head.getAs[String]("name") == "merged-a1")
    assert(merged.where(col("grp") === "d" && col("id") === 7L)
      .head.getAs[String]("name") == "new-d7")
    // an ON condition missing a part refuses loudly
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO whck.t AS t USING ck_src AS s ON t.grp = s.g
          |WHEN MATCHED THEN UPDATE SET name = s.n""".stripMargin)
    }
    assert(e2.getMessage.contains("EVERY part") ||
      Option(e2.getCause).exists(_.getMessage.contains("EVERY part")))
    // sync-MERGE: WHEN NOT MATCHED BY SOURCE THEN DELETE tombstones the
    // composite keys the source no longer carries
    Seq(("a", 1L), ("a", 2L), ("d", 7L)).toDF("g", "i")
      .createOrReplaceTempView("ck_src2")
    spark.sql(
      """MERGE INTO whck.t AS t USING ck_src2 AS s
        |ON t.grp = s.g AND t.id = s.i
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(merged.count() == 3)
    assert(merged.where((col("grp") === "b" && col("id") === 1L) ||
      (col("grp") === "c" && col("id") === 1L)).isEmpty,
      "keys absent from the source must be tombstoned")
    // KEY-BOUND composite predicates ride the pruned point-read path
    // (per-part zone maps + blooms); results identical to the scan path
    spark.sql("UPDATE whck.t SET name = 'pt' " +
      "WHERE grp = 'a' AND id = 2 AND name LIKE 'X%'")
    assert(merged.where(col("grp") === "a" && col("id") === 2L)
      .head.getAs[String]("name") == "pt")
    spark.sql("DELETE FROM whck.t " +
      "WHERE grp = 'd' AND id IN (7, 8) AND name IS NOT NULL")
    assert(merged.count() == 2)
    assert(merged.where(col("grp") === "d").isEmpty)
    // metadata COUNT stays exact with composite tombstones outstanding:
    // suppression totals were counted over the composite rendering at
    // tombstone-commit time (log-view row versions, not merged winners)
    val logRows = spark.read.format("graft-warehouse")
      .option("path", s"$r/t").load().rdd.count() // row scan, no pushdown
    assert(spark.sql("SELECT count(*) AS c FROM whck.t").head.getLong(0)
      == logRows)
  }

  test("typed MERGE feed: matched rows update_postimage + preimages, inserts insert") {
    val r = mergeRoot("whmtyp")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    Seq((3L, "u3"), (4L, "u4"), (20L, "i20"), (21L, "i21"))
      .toDF("sk", "sn").createOrReplaceTempView("mtyp_src")
    spark.conf.set("graft.merge.typedFeedEntries", "true")
    spark.conf.set("graft.update.logPreimages", "true")
    try spark.sql(
      """MERGE INTO whmtyp.t AS t USING mtyp_src AS s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET name = s.sn
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, s.sn)
        |""".stripMargin) // v2: preimage log + update epoch + insert epoch
    finally {
      spark.conf.unset("graft.merge.typedFeedEntries")
      spark.conf.unset("graft.update.logPreimages")
    }
    assert(AtomicWarehouse.currentVersion(spark, s"$r/t") == 2L,
      "the typed merge must commit ONE manifest version")
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(names.count(AtomicWarehouse.isPreimageLog) == 1 &&
      names.exists(n => n.startsWith("update_v1_") && n.endsWith("_m")) &&
      names.exists(_.startsWith("merge_v1_")), names)
    // merged content is the normal MERGE result
    val merged = AtomicWarehouse.read(spark, s"$r/t", "k")
    assert(merged.count() == 12)
    assert(merged.where(col("k") === 3L).head.getAs[String]("name") == "u3")
    assert(merged.where(col("k") === 20L).head.getAs[String]("name") == "i20")
    // the feed types the branches apart, preimages behind the option
    val feed = spark.read.format("graft-warehouse").option("path", s"$r/t")
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .option("includePreimages", "true").load()
    val posts = feed.where(col("_change_type") === "update_postimage")
      .select("k", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(posts.toSeq == Seq((3L, "u3"), (4L, "u4")))
    val pres = feed.where(col("_change_type") === "update_preimage")
      .select("k", "name", "load_seq").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(pres.toSeq == Seq((3L, "n3", 1L), (4L, "n4", 1L)),
      "preimages are the matched winners' OLD versions")
    assert(feed.where(col("_change_type") === "insert" &&
      col("k").isin(20L, 21L)).count() == 2)
    // a last-wins consumer over the typed feed reproduces the snapshot
    val applied = graft.ops.Merge.applyChangeFeed(
      feed.select(col("*"), col("_pos")), "k")
    assert(applied.count() == 12 &&
      applied.where(col("k") === 3L).head.getAs[String]("name") == "u3")
    // typed merge with WHEN NOT MATCHED BY SOURCE THEN DELETE: the
    // tombstone rides the same CAS
    Seq((3L, "u3b")).toDF("sk", "sn").createOrReplaceTempView("mtyp_src2")
    spark.conf.set("graft.merge.typedFeedEntries", "true")
    try spark.sql(
      """MERGE INTO whmtyp.t AS t USING mtyp_src2 AS s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET name = s.sn
        |WHEN NOT MATCHED BY SOURCE AND k >= 20 THEN DELETE
        |""".stripMargin) // v3: update epoch + tombstone, one CAS
    finally spark.conf.unset("graft.merge.typedFeedEntries")
    assert(AtomicWarehouse.currentVersion(spark, s"$r/t") == 3L)
    val after = AtomicWarehouse.read(spark, s"$r/t", "k")
    assert(after.count() == 10, "k=20,21 tombstoned")
    assert(after.where(col("k") === 3L).head.getAs[String]("name") == "u3b")
    // zero-row branches commit no empty entries: the v3 diff is exactly
    // one update epoch + one tombstone (no insert epoch, no preimage)
    val v3names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
      .filterNot(names.contains)
    assert(v3names.size == 2 &&
      v3names.count(AtomicWarehouse.isTombstone) == 1 &&
      v3names.count(n => n.startsWith("update_v2_")) == 1, v3names)
  }

  test("UPDATE with logPreimages serves update_preimage rows on the feed") {
    val r = mergeRoot("whupre")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k")) // v1
    spark.conf.set("graft.update.logPreimages", "true")
    try spark.sql(
      "UPDATE whupre.t SET name = concat('X-', name) WHERE k % 3 = 0")
    finally spark.conf.unset("graft.update.logPreimages")
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    // one CAS committed preimage log + postimage epoch together,
    // preimage ordered first (Delta CDF's pre-before-post row order)
    assert(names.size == 3 &&
      AtomicWarehouse.isPreimageLog(names(1)) &&
      names(1) == s"tombstone_noop_pre_${names(2)}" &&
      names(2).startsWith("update_v1_"), names)
    // the preimage log is invisible to everything but the CDF read: the
    // log view serves 10 inserts + 3 postimages (13, not 16), and the
    // merged read serves the 10 winners
    assert(spark.sql("SELECT count(*) AS c FROM whupre.t").head.getLong(0)
      == 13, "the log view must skip the preimage log")
    assert(AtomicWarehouse.read(spark, s"$r/t", "k").count() == 10)
    def feed(pre: Boolean) = {
      val b = spark.read.format("graft-warehouse").option("path", s"$r/t")
        .option("startingVersion", "1").option("readChangeFeed", "true")
      (if (pre) b.option("includePreimages", "true") else b).load()
    }
    // default: no preimages (round-13 behavior unchanged)
    assert(feed(false).where(col("_change_type") === "update_preimage")
      .count() == 0)
    val withPre = feed(true)
    val pres = withPre.where(col("_change_type") === "update_preimage")
      .select("k", "name", "load_seq").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(pres.toSeq == Seq((3L, "n3", 1L), (6L, "n6", 1L),
      (9L, "n9", 1L)), "preimages are the matched winners' OLD versions")
    val posts = withPre.where(col("_change_type") === "update_postimage")
      .select("k", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(posts.toSeq == Seq((3L, "X-n3"), (6L, "X-n6"), (9L, "X-n9")))
    // preimages carry the UPDATE's commit version, ordered BELOW the
    // postimage by _pos (pre-before-post)
    val pp = withPre.select(col("_change_type"), col("_commit_version"),
      col("_pos")).where(col("_change_type").startsWith("update"))
      .distinct().collect()
    assert(pp.forall(_.getLong(1) == 2L))
    val posBy = pp.map(x => x.getString(0) -> x.getInt(2)).toMap
    assert(posBy("update_preimage") < posBy("update_postimage"))
    // a last-wins consumer IGNORES preimages: applying the feed with
    // preimages included still reproduces the snapshot exactly
    val applied = graft.ops.Merge.applyChangeFeed(
      withPre.select(col("*"), col("_pos")), "k")
    assert(applied.count() == 10 &&
      applied.where(col("k") === 3L).head.getAs[String]("name") == "X-n3")
    // a STREAMING CDF tail serves the same preimage rows
    val streamed = spark.readStream.format("graft-warehouse")
      .option("path", s"$r/t").option("startingVersion", "1")
      .option("readChangeFeed", "true").option("includePreimages", "true")
      .load()
    val sink = graft.queries.memorySinkName(spark, "upre")
    val q = streamed.writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table(sink).where(col("_change_type") ===
      "update_preimage").count() == 3)
    // includePreimages without readChangeFeed refuses loudly
    val err = intercept[Exception] {
      spark.read.format("graft-warehouse").option("path", s"$r/t")
        .option("includePreimages", "true").load().count()
    }
    assert(err.getMessage.contains("readChangeFeed") ||
      Option(err.getCause).exists(_.getMessage.contains("readChangeFeed")))
  }

  test("UPDATE appends one epoch of rewritten winners (merge-on-read)") {
    val r = mergeRoot("whupd1")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    // arbitrary (non-key) predicate + expression assignment over the
    // row's own columns
    spark.sql(
      """UPDATE whupd1.t SET name = concat('X-', name)
        |WHERE k % 3 = 0 AND name LIKE 'n%'""".stripMargin)
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(names.size == 2 && names(1).startsWith("update_v1_"), names)
    val after = spark.sql("SELECT k, name FROM (SELECT k, name, load_seq,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whupd1.t) WHERE rn = 1")
      .as[(Long, String)].collect().toMap
    assert(after.size == 10)
    assert(after(3L) == "X-n3" && after(6L) == "X-n6" && after(9L) == "X-n9")
    assert(after(1L) == "n1" && after(5L) == "n5",
      "unmatched rows keep their current version")
    // a second UPDATE stacks on the first (reads current winners)
    spark.sql("UPDATE whupd1.t SET name = concat(name, '!') WHERE k = 3")
    val k3 = spark.sql("SELECT name FROM (SELECT name, load_seq,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whupd1.t WHERE k = 3) WHERE rn = 1").head.getString(0)
    assert(k3 == "X-n3!")
    // an UPDATE matching ZERO rows is a no-op: no empty update_v* epoch,
    // no manifest bump (mirrors DELETE's keys.nonEmpty guard — repeated
    // no-match conditional updates must not inflate compaction cadence)
    val vBefore = AtomicWarehouse.currentVersion(spark, s"$r/t")
    spark.sql("UPDATE whupd1.t SET name = 'ghost' WHERE k = 424242")
    assert(AtomicWarehouse.currentVersion(spark, s"$r/t") == vBefore,
      "a no-match UPDATE must not commit an empty epoch")
    // key-bound predicates ride the PRUNED point-read path; results
    // must be identical to the scan path across multi-epoch keys,
    // IN-lists, and mixed conjunctions (the key bound is a superset;
    // the rest of the predicate applies residually)
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      Seq((5L, "v2-n5", 5L)).toDF("k", "name", "load_seq"), 5L,
      statsKey = Some("k"), bloomKey = Some("k"))
    spark.sql("UPDATE whupd1.t SET name = concat(name, '@') " +
      "WHERE k IN (5, 7) AND name LIKE 'v2%'")
    val after2 = spark.sql("SELECT k, name FROM (SELECT k, name, load_seq,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whupd1.t) WHERE rn = 1")
      .as[(Long, String)].collect().toMap
    assert(after2(5L) == "v2-n5@",
      "the point path must read the key's LATEST version across epochs")
    assert(after2(7L) == "n7", "residual conjunct must still filter")
    // identity/system columns refuse loudly
    val e1 = intercept[Exception] {
      spark.sql("UPDATE whupd1.t SET k = k + 1 WHERE k = 1")
    }
    assert(e1.getMessage.contains("mergeKey") ||
      Option(e1.getCause).exists(_.getMessage.contains("mergeKey")))
    intercept[Exception] {
      spark.sql("UPDATE whupd1.t SET load_seq = 99 WHERE k = 1")
    }
  }

  test("MERGE INTO upserts as one appended epoch (fast path)") {
    val r = mergeRoot("whmrg1")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 10, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    Seq((5L, "UPD"), (6L, "UPD"), (100L, "NEW"))
      .toDF("k", "name").createOrReplaceTempView("mrg_src_fast")
    spark.sql(
      """MERGE INTO whmrg1.t t USING mrg_src_fast s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.k, name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
        |""".stripMargin)
    // the merge appended ONE entry in its own collision-free namespace
    // (never epoch_<N>: an external drain counter's next seq must not be
    // silently consumed); nothing was rewritten
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(names.size == 2 && names.head == "epoch_1" &&
      names(1).startsWith("merge_v1_"), names)
    val after = spark.sql("SELECT k, name FROM (SELECT k, name, load_seq,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whmrg1.t) WHERE rn = 1")
      .as[(Long, String)].collect().toMap
    assert(after.size == 11)
    assert(after(5L) == "UPD" && after(6L) == "UPD" && after(100L) == "NEW")
    assert(after(3L) == "n3")
  }

  test("MERGE INTO partial update keeps unassigned columns (general path)") {
    val r = mergeRoot("whmrg2")
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      (1 to 10).map(i => (i.toLong, s"n$i", s"seg$i", 1L))
        .toDF("k", "name", "seg", "load_seq"), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    Seq((4L, "UPD"), (200L, "NEW")).toDF("k", "name")
      .createOrReplaceTempView("mrg_src_part")
    spark.sql(
      """MERGE INTO whmrg2.t t USING mrg_src_part s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
        |""".stripMargin)
    val after = spark.sql("SELECT k, name, seg FROM (SELECT *,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whmrg2.t) WHERE rn = 1")
      .as[(Long, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(after.size == 11)
    assert(after(4L) == ("UPD", "seg4")) // unassigned seg kept its value
    assert(after(200L) == ("NEW", null)) // unassigned seg inserts NULL
    assert(after(7L) == ("n7", "seg7"))
  }

  test("MERGE INTO update-only and unsupported shapes") {
    val r = mergeRoot("whmrg3")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 5, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    Seq((2L, "UPD"), (300L, "IGNORED")).toDF("k", "name")
      .createOrReplaceTempView("mrg_src_upd")
    // update-only: unmatched source rows are NOT inserted
    spark.sql(
      """MERGE INTO whmrg3.t t USING mrg_src_upd s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin)
    val ks = spark.sql("SELECT DISTINCT k FROM whmrg3.t").as[Long]
      .collect().toSet
    assert(ks == (1L to 5L).toSet) // 300 not inserted

    def refused(sql: String, hint: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("graft-warehouse MERGE")),
        s"$hint: " + msgs(e).take(3).mkString("; "))
    }
    refused(
      """MERGE INTO whmrg3.t t USING mrg_src_upd s ON t.name = s.name
        |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin,
      "non-key ON condition")
    // (THEN DELETE is now the supported tombstone-batch sync clause —
    // see the atomic-tombstone tests below; only the UPDATE form of
    // BY SOURCE still refuses)
    refused(
      """MERGE INTO whmrg3.t t USING mrg_src_upd s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'gone'
        |""".stripMargin,
      "not matched by source update")
    refused(
      """MERGE INTO whmrg3.t t USING mrg_src_upd s ON t.k = s.k
        |WHEN MATCHED AND s.name = 'UPD' THEN DELETE""".stripMargin,
      "matched delete (append-only)")
  }

  test("MERGE INTO conditional branches pick first match in clause order") {
    val r = mergeRoot("whmrg4")
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      (1 to 6).map(i => (i.toLong, s"n$i", i * 10L, 1L))
        .toDF("k", "name", "score", "load_seq"), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    Seq((1L, "a", 5L), (2L, "b", 25L), (3L, "c", 100L), (400L, "d", 7L),
      (500L, "e", 99L)).toDF("k", "name", "score")
      .createOrReplaceTempView("mrg_src_cond")
    // branch order matters: k=3 (target score 30) satisfies BOTH matched
    // conditions; the FIRST branch must win. k=1 (target score 10)
    // satisfies only the second. k=2 (target score 20, source 25)
    // satisfies neither -> left unchanged, no new version appended.
    // Unmatched: 400 (score<50) inserts via the conditional branch with
    // a marker name; 500 (score>=50) falls to the final branch.
    spark.sql(
      """MERGE INTO whmrg4.t t USING mrg_src_cond s ON t.k = s.k
        |WHEN MATCHED AND t.score >= 30 THEN UPDATE SET name = concat('hi_', s.name)
        |WHEN MATCHED AND t.score <= 10 THEN UPDATE SET name = concat('lo_', s.name)
        |WHEN NOT MATCHED AND s.score < 50 THEN INSERT (k, name, score) VALUES (s.k, concat('small_', s.name), s.score)
        |WHEN NOT MATCHED THEN INSERT (k, name, score) VALUES (s.k, s.name, s.score)
        |""".stripMargin)
    val after = spark.sql("SELECT k, name, score FROM (SELECT *,"
      + " row_number() OVER (PARTITION BY k ORDER BY load_seq DESC) rn"
      + " FROM whmrg4.t) WHERE rn = 1")
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(after.size == 8, after)
    assert(after(3L) == ("hi_c", 30L)) // first branch wins; score kept
    assert(after(1L) == ("lo_a", 10L))
    assert(after(2L) == ("n2", 20L)) // no branch accepted: unchanged
    assert(after(400L) == ("small_d", 7L))
    assert(after(500L) == ("e", 99L))
  }

  test("MERGE INTO a fully compacted warehouse and seq-collision safety") {
    val r = mergeRoot("whmrg5")
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(1, 5, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.commitEpoch(spark, s"$r/t", rows(3, 7, 2L), 2L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.compact(spark, s"$r/t", "k", statsKey = Some("k"))
    assert(AtomicWarehouse.committedEpochs(spark, s"$r/t")
      == Seq("compact_v2"))
    // compact-only manifest is a VALID merge target (the pre-round-8
    // shape refused it as "empty": no epoch_<N> names survive the fold)
    Seq((5L, "UPD"), (900L, "NEW")).toDF("k", "name")
      .createOrReplaceTempView("mrg_src_cpt")
    spark.sql(
      """MERGE INTO whmrg5.t t USING mrg_src_cpt s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
        |""".stripMargin)
    val after = AtomicWarehouse.read(spark, s"$r/t", "k")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(after.size == 8 && after(5L) == "UPD" && after(900L) == "NEW",
      after)
    // the merge took load_seq 3 (max fold seq 2 + 1, from its recorded
    // stats). An external drain counter unaware of the merge now drains
    // seq 3 TOO: distinct entry names mean NO lost update, and the
    // engine read resolves the load_seq tie by manifest position — the
    // later drain wins the overlapping key
    AtomicWarehouse.commitEpoch(spark, s"$r/t",
      Seq((5L, "drain3", 3L)).toDF("k", "name", "load_seq"), 3L,
      statsKey = Some("k"), bloomKey = Some("k"))
    val names = AtomicWarehouse.committedEpochs(spark, s"$r/t")
    assert(names.size == 3 && names.contains("epoch_3"), names)
    val after2 = AtomicWarehouse.read(spark, s"$r/t", "k")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(after2(5L) == "drain3", after2)
    // and the NEXT merge floors above the tie: its rows must beat seq 3
    Seq((6L, "UPD2")).toDF("k", "name")
      .createOrReplaceTempView("mrg_src_cpt2")
    spark.sql(
      """MERGE INTO whmrg5.t t USING mrg_src_cpt2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin)
    val after3 = AtomicWarehouse.read(spark, s"$r/t", "k")
      .select("k", "name", "load_seq").as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(after3(6L) == ("UPD2", 4L), after3)
  }

  test("CREATE TABLE USING graft-warehouse births a warehouse; INSERT drains") {
    val r = mergeRoot("whddl1")
    spark.sql(
      """CREATE TABLE whddl1.fresh (k BIGINT, name STRING, load_seq BIGINT)
        |USING `graft-warehouse`
        |TBLPROPERTIES ('mergeKey'='k', 'statsKey'='k', 'bloomKey'='k')
        |""".stripMargin)
    // born empty: listed, SELECTable with the declared schema, 0 rows
    assert(spark.sql("SHOW TABLES IN whddl1").collect()
      .map(_.getString(1)).contains("fresh"))
    val empty = spark.sql("SELECT * FROM whddl1.fresh")
    assert(empty.columns.toSeq == Seq("k", "name", "load_seq"))
    assert(empty.count() == 0)
    // INSERT = auto-sequenced drain through the staged-commit protocol
    spark.sql(
      "INSERT INTO whddl1.fresh VALUES (1, 'a', 1), (2, 'b', 1)")
    spark.sql(
      "INSERT INTO whddl1.fresh VALUES (2, 'b2', 2), (3, 'c', 2)")
    val names = AtomicWarehouse.committedEpochs(spark,
      s"$r/fresh")
    assert(names.size == 2 && names.forall(_.startsWith("insert_v")), names)
    // table-conf mergeKey drives the engine read: last-wins on k
    val merged = AtomicWarehouse.read(spark, s"$r/fresh", "k")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "a", 2L -> "b2", 3L -> "c"), merged)
    // and the persisted stats make the NEXT auto-seq metadata-only
    assert(AtomicWarehouse.maxLoadSeq(spark, s"$r/fresh").contains(2L))
    // MERGE works against the DDL-created table (mergeKey from conf)
    Seq((3L, "c3"), (9L, "i")).toDF("k", "name")
      .createOrReplaceTempView("ddl_mrg_src")
    spark.sql(
      """MERGE INTO whddl1.fresh t USING ddl_mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
        |""".stripMargin)
    val after = AtomicWarehouse.read(spark, s"$r/fresh", "k")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(after(3L) == "c3" && after(9L) == "i", after)
    // re-CREATE refuses; CREATE with another provider refuses
    assert(intercept[Exception](spark.sql(
      "CREATE TABLE whddl1.fresh (x BIGINT) USING `graft-warehouse`"))
      .getMessage.toLowerCase.contains("exists"))
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE whddl1.other (x BIGINT) USING parquet"))
    assert(e.getMessage.contains("AtomicWarehouse"), e.getMessage)
  }

  test("DDL through the catalog refuses with a drain pointer") {
    AtomicWarehouse.commitEpoch(spark, s"$root/fixed", rows(1, 3, 1L), 1L)
    val e = intercept[Exception](
      spark.sql("DROP TABLE whcat.fixed"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("AtomicWarehouse")), msgs(e).mkString("; "))
  }

  test("ALTER TABLE RENAME/DROP COLUMN: zero-rewrite mapping through SQL") {
    AtomicWarehouse.commitEpoch(spark, s"$root/cmap", rows(1, 6, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    spark.sql("ALTER TABLE whcat.cmap RENAME COLUMN name TO title")
    // the catalog schema and SELECT serve the new name over OLD parquet
    assert(spark.table("whcat.cmap").columns.contains("title"))
    assert(spark.sql(
      "SELECT title FROM whcat.cmap WHERE k = 3").head.getString(0) == "n3")
    // a pushed filter ON THE RENAMED column still row-group-filters the
    // old file correctly (resolved to the physical name executor-side)
    assert(spark.sql(
      "SELECT count(*) FROM whcat.cmap WHERE title = 'n4'")
      .head.getLong(0) == 1L)
    // post-rename drains commit the new name; both generations read as one
    AtomicWarehouse.commitEpoch(spark, s"$root/cmap",
      Seq((7L, "n7", 2L)).toDF("k", "title", "load_seq"), 2L)
    assert(spark.sql("SELECT count(*) FROM whcat.cmap WHERE title LIKE 'n%'")
      .head.getLong(0) == 7L)
    // DROP COLUMN masks values without touching data
    spark.sql("ALTER TABLE whcat.cmap DROP COLUMN title")
    assert(!spark.table("whcat.cmap").columns.contains("title"))
    assert(spark.sql("SELECT count(*) FROM whcat.cmap").head.getLong(0) == 7L)
    // time travel BEFORE the directives serves the original shape
    assert(spark.sql("SELECT name FROM whcat.cmap VERSION AS OF 1 " +
      "WHERE k = 1").head.getString(0) == "n1")
    // a stream whose schema was pinned BEFORE a directive refuses loudly
    // (Delta's own restriction on streaming over rename/drop); one whose
    // schema already reflects the mapping is served through it
    val pinned = spark.readStream.format("graft-warehouse")
      .option("path", s"$root/cmap").option("startingVersion", "1").load()
    spark.sql("ALTER TABLE whcat.cmap RENAME COLUMN k TO id")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val out1 = java.nio.file.Files.createTempDirectory("cmap_out").toString
    val e = intercept[Exception] {
      pinned.writeStream.format("noop")
        .option("checkpointLocation", s"$out1/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(msgs(e).exists(_.contains("column-mapping")), msgs(e).mkString(";"))
    // a freshly pinned stream reads old epochs THROUGH the mapping
    val out2 = java.nio.file.Files.createTempDirectory("cmap_out2").toString
    spark.readStream.format("graft-warehouse")
      .option("path", s"$root/cmap").option("startingVersion", "1").load()
      .writeStream.format("parquet").option("path", s"$out2/data")
      .option("checkpointLocation", s"$out2/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val streamed = spark.read.parquet(s"$out2/data")
    assert(streamed.columns.contains("id") && streamed.count() == 7,
      s"${streamed.columns.toSeq} / ${streamed.count()}")
    // the engine's load_seq sequencing column is never remappable
    val e2 = intercept[IllegalArgumentException] {
      AtomicWarehouse.renameColumn(spark, s"$root/cmap", "load_seq", "ls")
    }
    assert(e2.getMessage.contains("load_seq"), e2.getMessage)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE is an atomic " +
      "tombstone batch") {
    spark.conf.set("spark.sql.catalog.whsync",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whsync.root", root)
    spark.conf.set("spark.sql.catalog.whsync.mergeKey", "k")
    val dir = s"$root/sync"
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 10).map(i => (i.toLong, s"n$i", i.toLong, 1L))
        .toDF("k", "name", "size", "load_seq"), 1L,
      statsKey = Some("k"))
    val v0 = AtomicWarehouse.currentVersion(spark, dir)
    // feed carries keys 1-5 (update) and 11 (insert); keys 6-10 are
    // absent → delete those with size >= 8 (8, 9, 10)
    (1 to 5).map(i => (i.toLong, s"u$i")).toDF("k", "name")
      .unionByName(Seq((11L, "new")).toDF("k", "name"))
      .createOrReplaceTempView("sync_src")
    spark.sql(
      """MERGE INTO whsync.sync t USING sync_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
        |WHEN NOT MATCHED BY SOURCE AND t.size >= 8 THEN DELETE
        |""".stripMargin)
    // ATOMIC: the merge epoch and its tombstone landed in ONE manifest
    // version bump — no intermediate version holds one without the other
    assert(AtomicWarehouse.currentVersion(spark, dir) == v0 + 1)
    val entries = AtomicWarehouse.committedEpochs(spark, dir)
    assert(entries.count(_.startsWith("merge_")) == 1, entries)
    assert(entries.count(_.startsWith("tombstone_")) == 1, entries)
    val after = AtomicWarehouse.read(spark, dir, "k")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(after.keySet == (1 to 7).map(_.toLong).toSet + 11L, after)
    assert(after(3L) == "u3" && after(6L) == "n6" && after(11L) == "new")
    // the connector read agrees (tombstone applied at scan): the RAW
    // upsert stream keeps both versions of updated keys (7 survivors of
    // epoch 1 + 6 merge rows); the deleted keys' rows are suppressed
    assert(spark.sql("SELECT count(*) AS c FROM whsync.sync")
      .head.getLong(0) == 13)
    assert(spark.sql("SELECT count(DISTINCT k) AS c FROM whsync.sync")
      .head.getLong(0) == 8)
  }

  test("delete-only sync MERGE commits just the tombstone; " +
      "UPDATE form refuses") {
    spark.conf.set("spark.sql.catalog.whsync2",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whsync2.root", root)
    spark.conf.set("spark.sql.catalog.whsync2.mergeKey", "k")
    val dir = s"$root/sync2"
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 6).map(i => (i.toLong, s"n$i", 1L))
        .toDF("k", "name", "load_seq"), 1L, statsKey = Some("k"))
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("sync2_src")
    spark.sql(
      """MERGE INTO whsync2.sync2 t USING sync2_src s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val entries = AtomicWarehouse.committedEpochs(spark, dir)
    assert(entries.count(_.startsWith("merge_")) == 0, entries)
    assert(entries.count(_.startsWith("tombstone_")) == 1, entries)
    assert(AtomicWarehouse.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val e = intercept[Exception](spark.sql(
      """MERGE INTO whsync2.sync2 t USING sync2_src s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'x'
        |""".stripMargin))
    assert(e.getMessage.contains("absence"), e.getMessage)
    // a sync MERGE whose feed matches the table deletes nothing and
    // commits nothing
    val v = AtomicWarehouse.currentVersion(spark, dir)
    spark.sql(
      """MERGE INTO whsync2.sync2 t USING sync2_src s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(AtomicWarehouse.currentVersion(spark, dir) == v)
  }

  test("sync MERGE refuses an EMPTY source and an over-cap delete set") {
    spark.conf.set("spark.sql.catalog.whsync3",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whsync3.root", root)
    spark.conf.set("spark.sql.catalog.whsync3.mergeKey", "k")
    val dir = s"$root/sync3"
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 10).map(i => (i.toLong, s"n$i", 1L))
        .toDF("k", "name", "load_seq"), 1L, statsKey = Some("k"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

    // EMPTY source: a feed outage must not tombstone the whole table
    Seq.empty[Long].toDF("k").createOrReplaceTempView("sync3_empty")
    val e1 = intercept[Exception](spark.sql(
      """MERGE INTO whsync3.sync3 t USING sync3_empty s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    assert(msgs(e1).exists(_.contains("EMPTY source")),
      msgs(e1).take(3).mkString("; "))

    // over-cap delete set: the driver-sized contract is ENFORCED, with
    // a pointer at the purge protocol
    spark.conf.set("graft.merge.maxDeleteKeys", "3")
    try {
      Seq(1L).toDF("k").createOrReplaceTempView("sync3_one")
      val e2 = intercept[Exception](spark.sql(
        """MERGE INTO whsync3.sync3 t USING sync3_one s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
      assert(msgs(e2).exists(m => m.contains("maxDeleteKeys") &&
        m.contains("purge")), msgs(e2).take(3).mkString("; "))
      // neither refusal committed anything
      assert(AtomicWarehouse.committedEpochs(spark, dir) == Seq("epoch_1"))
      // within the cap the sync proceeds
      spark.conf.set("graft.merge.maxDeleteKeys", "100")
      spark.sql(
        """MERGE INTO whsync3.sync3 t USING sync3_one s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      assert(AtomicWarehouse.read(spark, dir, "k")
        .select("k").as[Long].collect().toSet == Set(1L))
    } finally spark.conf.unset("graft.merge.maxDeleteKeys")
  }

  test("STRING merge key: SQL DELETE and the sync MERGE address " +
      "video_id-style keys") {
    spark.conf.set("spark.sql.catalog.whvid",
      "graft.sources.v2.WarehouseCatalog")
    spark.conf.set("spark.sql.catalog.whvid.root", root)
    spark.conf.set("spark.sql.catalog.whvid.mergeKey", "vid")
    val dir = s"$root/vids"
    AtomicWarehouse.commitEpoch(spark, dir,
      (1 to 8).map(i => (s"VID$i", s"title$i", 1L))
        .toDF("vid", "title", "load_seq"), 1L,
      statsKey = Some("vid"), bloomKey = Some("vid"))

    // key-identity DELETE on the string key: one string tombstone, the
    // epoch untouched
    spark.sql("DELETE FROM whvid.vids WHERE vid IN ('VID3', 'VID5')")
    assert(spark.sql("SELECT vid FROM whvid.vids").as[String]
      .collect().toSet == Set("VID1", "VID2", "VID4", "VID6", "VID7",
        "VID8"))
    val keyed = AtomicWarehouse.committedEpochs(spark, dir)
    assert(keyed.size == 2 && keyed.head == "epoch_1" &&
      AtomicWarehouse.isTombstone(keyed(1)) &&
      !AtomicWarehouse.isNoopTombstone(keyed(1)) &&
      AtomicWarehouse.readTombstoneKeys(spark, dir, keyed(1))._3.toSet ==
        Set("VID3", "VID5"),
      s"string key DELETE must commit one string tombstone: $keyed")
    // arbitrary predicates on a STRING-keyed table: deferred purge of
    // the matched keys (string-typed tombstone)
    spark.sql("DELETE FROM whvid.vids WHERE title = 'title1'")
    assert(spark.sql("SELECT vid FROM whvid.vids").as[String]
      .collect().toSet == Set("VID2", "VID4", "VID6", "VID7", "VID8"))
    // key-bound UPDATE on the STRING key rides readPointStr (pruned)
    spark.sql("UPDATE whvid.vids SET title = 'pt' WHERE vid = 'VID4'")
    assert(spark.sql("SELECT title FROM (SELECT title, load_seq, " +
      "row_number() OVER (PARTITION BY vid ORDER BY load_seq DESC) rn " +
      "FROM whvid.vids WHERE vid = 'VID4') WHERE rn = 1")
      .head.getString(0) == "pt")

    // sync MERGE on the string key: update VID1, insert VID9, delete
    // the keys the feed no longer carries (VID6-8); epoch + tombstone
    // land in ONE manifest CAS
    val v0 = AtomicWarehouse.currentVersion(spark, dir)
    (Seq(("VID1", "u1"), ("VID2", "u2"), ("VID4", "u4"), ("VID9", "new")))
      .toDF("vid", "title").createOrReplaceTempView("vid_src")
    spark.sql(
      """MERGE INTO whvid.vids t USING vid_src s ON t.vid = s.vid
        |WHEN MATCHED THEN UPDATE SET title = s.title
        |WHEN NOT MATCHED THEN INSERT (vid, title) VALUES (s.vid, s.title)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(AtomicWarehouse.currentVersion(spark, dir) == v0 + 1)
    val after = AtomicWarehouse.read(spark, dir, "vid")
      .select("vid", "title").as[(String, String)].collect().toMap
    assert(after == Map("VID1" -> "u1", "VID2" -> "u2", "VID4" -> "u4",
      "VID9" -> "new"), after)
    // the connector read agrees (string tombstone applied at scan time)
    assert(spark.sql("SELECT count(DISTINCT vid) AS c FROM whvid.vids")
      .head.getLong(0) == 4)
  }

  test("deferred purge AFTER a key rename reaches pre-rename files " +
      "(drop keys resolve through the mapping directives)") {
    val dir = s"$root/keyren"
    AtomicWarehouse.commitEpoch(spark, dir, rows(1, 6, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.renameColumn(spark, dir, "k", "id")
    // the purge addresses the NEW name; epoch_1's parquet only has 'k' —
    // before the directive-walking resolution the connector classified
    // 'id' as "epoch predates the column" and served keys 1 and 5 back
    // (while the engine's merged read suppressed them: divergence)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "id", Seq(1L, 5L))
    val engine = AtomicWarehouse.read(spark, dir, "id")
      .select("id", "name").collect()
      .map(r => (r.get(0), r.get(1))).toMap
    assert(engine.keySet == Set(2L, 3L, 4L, 6L), engine.toSeq.sortBy(_.toString))
    val sql = spark.read.format("graft-warehouse").option("path", dir)
      .load().select("id", "name").collect()
      .map(r => (r.get(0), r.get(1))).toMap
    assert(sql == engine, s"connector ${sql.toSeq.sortBy(_.toString)} vs engine ${engine.toSeq.sortBy(_.toString)}")
    // a SECOND rename after the purge: the old tombstone (key 'id')
    // still resolves onto pre-rename files via the multi-hop walk
    AtomicWarehouse.renameColumn(spark, dir, "id", "uid")
    AtomicWarehouse.commitEpoch(spark, dir,
      Seq((1L, "readd")).toDF("uid", "name")
        .withColumn("load_seq", lit(2L)), 2L)
    // key 1 re-added AFTER its tombstone is new data and survives;
    // key 5 stays suppressed in BOTH paths
    val engine2 = AtomicWarehouse.read(spark, dir, "uid")
      .select("uid", "name").collect()
      .map(r => (r.get(0), r.get(1))).toMap
    assert(engine2 == Map(1L -> "readd", 2L -> "n2", 3L -> "n3",
      4L -> "n4", 6L -> "n6"), engine2.toSeq.sortBy(_.toString))
    val sql2 = spark.read.format("graft-warehouse").option("path", dir)
      .load().select("uid", "name").collect()
      .map(r => (r.get(0), r.get(1))).toMap
    assert(sql2 == engine2, s"connector ${sql2.toSeq.sortBy(_.toString)} vs engine ${engine2.toSeq.sortBy(_.toString)}")
    // and a purge on the LATEST name reaches files two renames back
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "uid", Seq(3L))
    val sql3 = spark.read.format("graft-warehouse").option("path", dir)
      .load().select("uid").collect().map(_.get(0)).toSet
    assert(sql3 == Set(1L, 2L, 4L, 6L), sql3)
  }

  test("change feed across a KEY rename serves delete rows under the " +
      "new name") {
    val dir = s"$root/cdfkeyren"
    AtomicWarehouse.commitEpoch(spark, dir, rows(1, 6, 1L), 1L,
      statsKey = Some("k"), bloomKey = Some("k"))
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", Seq(2L, 4L)) // v2
    AtomicWarehouse.renameColumn(spark, dir, "k", "id") // v3
    val feed = spark.read.format("graft-warehouse").option("path", dir)
      .option("startingVersion", "1").option("readChangeFeed", "true")
      .load()
    assert(feed.columns.contains("id") && !feed.columns.contains("k"),
      feed.columns.toSeq)
    // the tombstone recorded its keys under 'k'; the feed's END schema
    // serves 'id' — before the forward resolution the delete rows'
    // identities silently landed on no column at all (null keys)
    val dels = feed.where(col("_change_type") === "delete")
      .select("id").collect().map(_.get(0)).toSet
    assert(dels == Set(2L, 4L), dels)
    val ins = feed.where(col("_change_type") === "insert")
      .select("id").collect().map(_.get(0)).toSet
    assert(ins == Set(1L, 2L, 3L, 4L, 5L, 6L), ins)
  }

  test("a tombstone keyed on a DROPPED-then-re-added column never " +
      "suppresses the old identity's rows") {
    val dir = s"$root/dropread"
    AtomicWarehouse.commitEpoch(spark, dir,
      Seq((10L, "old10", 1L), (11L, "old11", 1L))
        .toDF("tag", "name", "load_seq"), 1L)
    AtomicWarehouse.dropColumn(spark, dir, "tag")
    // re-added name = NEW column identity (Delta semantics)
    AtomicWarehouse.commitEpoch(spark, dir,
      Seq((10L, "new10")).toDF("tag", "name")
        .withColumn("load_seq", lit(2L)), 2L)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "tag", Seq(10L))
    // old epoch's tag=10 row has a MASKED tag (serves null) — only the
    // re-added identity's row dies; the old rows survive with null tag
    val sql = spark.read.format("graft-warehouse").option("path", dir)
      .load().select("name").as[String].collect().toSet
    assert(sql == Set("old10", "old11"), sql)
  }
}
