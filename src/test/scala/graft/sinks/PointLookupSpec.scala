package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point lookups — the connector's last-wins SQL on a catalog table and
  * `readPointStr`/`readPoint`/`readPointComposite` — return exactly the
  * full merged snapshot filtered to the key: for keys tombstoned by a
  * deferred purge or removed by a copy-on-write purge, a key re-added
  * after its tombstone, keys with versions in several epochs, a
  * `load_seq` tie that manifest position decides, and `VERSION AS OF`. */
class PointLookupSpec extends SparkSuite {

  /** How a key kind names, renders and looks up its keys. */
  private case class Kind(tag: String, key: String, sqlVal: Int => String,
      point: (String, Int) => DataFrame)

  private val kinds = Seq(
    Kind("s", "k", i => f"'a$i%02d'",
      (dir, i) => AtomicWarehouse.readPointStr(spark, dir, "k", f"a$i%02d")),
    Kind("l", "k", _.toString,
      (dir, i) => AtomicWarehouse.readPoint(spark, dir, "k", i.toLong)),
    Kind("c", "grp,k", _.toString,
      (dir, i) => AtomicWarehouse.readPointComposite(spark, dir, "grp,k",
        Seq("g", i.toString))))

  /** Rows for keys `ids` at `seq`, named `<tag>-<id>`; a composite kind
    * writes each id under groups "g" and "h". */
  private def rows(kind: Kind, ids: Seq[Int], seq: Long,
      tag: String): DataFrame = {
    import spark.implicits._
    val base = ids.toDF("id").select(
      (if (kind.tag == "s") format_string("a%02d", col("id"))
       else col("id").cast("long")).as("k"),
      concat(lit(s"$tag-"), col("id").cast("string")).as("name"),
      lit(seq).as("load_seq"))
    if (kind.tag != "c") base
    else Seq("g", "h").map(g => base.withColumn("grp", lit(g)))
      .reduce(_.unionByName(_))
  }

  /** v1-v3: keys 1-20, 10-30 and 15-18 at load_seq 1, 2 and 3; v4: a
    * deferred purge of 12 and 13; v5: a copy-on-write purge of 25; v6:
    * keys 13 and 16 again at load_seq 3 under a named entry, so 16 ties
    * with its v3 version and the later entry wins. */
  private def build(kind: Kind, dir: String): Unit = {
    val key = kind.key
    def commit(df: DataFrame, seq: Long): Unit =
      AtomicWarehouse.commitEpoch(spark, dir, df, seq,
        statsKey = Some(key), bloomKey = Some(key))
    commit(rows(kind, 1 to 20, 1L, "e1"), 1L)
    commit(rows(kind, 10 to 30, 2L, "e2"), 2L)
    commit(rows(kind, 15 to 18, 3L, "e3"), 3L)
    kind.tag match {
      case "s" =>
        AtomicWarehouse.purgeKeysDeferredStr(spark, dir, key, Seq("a12", "a13"))
        AtomicWarehouse.purgeKeysStr(spark, dir, key, Seq("a25"),
          statsKey = Some(key), bloomKey = Some(key))
      case "l" =>
        AtomicWarehouse.purgeKeysDeferred(spark, dir, key, Seq(12L, 13L))
        AtomicWarehouse.purgeKeys(spark, dir, key, Seq(25L),
          statsKey = Some(key), bloomKey = Some(key))
      case _ =>
        AtomicWarehouse.purgeCompositeKeysDeferred(spark, dir, key,
          Seq(Seq("g", "12"), Seq("g", "13")))
        AtomicWarehouse.purgeKeysStr(spark, dir, key,
          Seq(Seq("g", "25").mkString(AtomicWarehouse.CompositeSep)),
          statsKey = Some(key), bloomKey = Some(key))
    }
    AtomicWarehouse.commitNamedEpoch(spark, dir, rows(kind, Seq(13, 16), 3L,
      "tie"), "tie_3", 3L, statsKey = Some(key), bloomKey = Some(key))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.select("k", "name", "load_seq").collect().map(_.toString).sorted.toSeq

  test("point lookups equal the full snapshot filtered to the key " +
      "(string, long and composite keys)") {
    for (kind <- kinds) {
      val cat = s"whpl${kind.tag}"
      val r = java.nio.file.Files.createTempDirectory(cat).toString
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.v2.WarehouseCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", r)
      spark.conf.set(s"spark.sql.catalog.$cat.mergeKey", kind.key)
      val dir = s"$r/t"
      build(kind, dir)
      val parts = AtomicWarehouse.keyParts(kind.key)
      def pred(i: Int): String =
        (if (parts.size > 1) "grp = 'g' AND " else "") + s"k = ${kind.sqlVal(i)}"
      def lookupSql(i: Int, asOf: String = ""): DataFrame = spark.sql(
        s"""SELECT k, name, load_seq FROM (SELECT k, name, load_seq,
           |  row_number() OVER (PARTITION BY ${parts.mkString(", ")}
           |  ORDER BY load_seq DESC, _pos DESC) rn
           |  FROM $cat.t $asOf WHERE ${pred(i)}) WHERE rn = 1""".stripMargin)
      // one epoch, tombstoned, tombstoned then re-added, a tie across
      // three epochs, three epochs, copy-on-write purged, absent
      for (i <- Seq(1, 12, 13, 16, 17, 25, 99)) {
        val want = sorted(AtomicWarehouse.read(spark, dir, kind.key)
          .where(expr(pred(i))))
        assert(sorted(lookupSql(i)) == want, s"${kind.tag} SQL key $i")
        assert(sorted(kind.point(dir, i)) == want, s"${kind.tag} point key $i")
        // version 3 is before both purges and the tie
        val was = sorted(AtomicWarehouse.readVersion(spark, dir, kind.key, 3L)
          .where(expr(pred(i))))
        assert(sorted(lookupSql(i, "VERSION AS OF 3")) == was,
          s"${kind.tag} VERSION AS OF 3 key $i")
      }
      // the snapshot itself: purged keys gone, the re-add and the later
      // tied entry win, three-epoch keys at their latest version
      def names(i: Int) = sorted(kind.point(dir, i)).map(_.split(",")(1))
      assert(names(12).isEmpty && names(25).isEmpty && names(99).isEmpty,
        kind.tag)
      assert(names(13) == Seq("tie-13") && names(16) == Seq("tie-16") &&
        names(17) == Seq("e3-17") && names(1) == Seq("e1-1"), kind.tag)
      assert(sorted(lookupSql(12, "VERSION AS OF 3")).map(_.split(",")(1)) ==
        Seq("e2-12"), kind.tag)
      // a long part's value is its canonical rendering: "016" names no key
      if (kind.tag == "c") assert(AtomicWarehouse.readPointComposite(spark,
        dir, kind.key, Seq("g", "016")).isEmpty)
    }
  }
}
