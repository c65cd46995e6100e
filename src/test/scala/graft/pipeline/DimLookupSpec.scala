package graft.pipeline

import graft.SparkSuite
import graft.sources.{Dim, DimLoader}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The stages' dimension map lookups against the broadcast left joins
  * they replace: generated dimensions (null, blank and padded keys, null
  * columns; raw with unique keys, or deduped by `lastWins`, which trims
  * keys) give every stage the same rows either way, for every kind of
  * probe key, a missing one included. A repeated key or a dimension over
  * the cap keeps the join. */
class DimLookupSpec extends SparkSuite {
  import org.scalacheck.{Gen, Prop}
  import org.scalacheck.Prop.propBoolean
  import org.scalacheck.Test.{check, Parameters}

  /** Key alphabets: null, blank and whitespace-padded keys in each. */
  private val channelKeys = Seq("ch1", "ch2", " ch1", "ch2 ", "", null)
  private val employeeKeys = Seq("4", "5", "A", " 4", "5 ", "", null)
  private val codeKeys = Seq("AB", "K6A", " AB", "QB ", "", null)
  private val showKeys = Seq("Morning News", "Talk", " Talk", "Talk ", "", null)
  /** Title codes whose resource codes are "4", "5", "1", "A" and "". */
  private val titleCodes = Seq("AB4", "ABC5", "QB1", "K6A", "2024", "ab4")
  private val categories = Seq("International News", "News", null)

  private def frame(names: Seq[String], rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava,
      StructType(names.map(StructField(_, StringType))))

  /** A dimension over `names` (key first): raw with no key twice, nulls
    * aside, or any keys deduped by `lastWins`; values may be null. */
  private def dimGen(names: Seq[String], keys: Seq[String]): Gen[DataFrame] = for {
    raw <- Gen.oneOf(true, false)
    ks <- if (raw) Gen.zip(Gen.someOf(keys.filter(_ != null)), Gen.choose(0, 2))
        .map { case (ks, nulls) => ks.toSeq ++ Seq.fill(nulls)(null: String) }
      else Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(keys)))
    rows <- Gen.sequence[Seq[Seq[String]], Seq[String]](ks.map(k =>
      Gen.listOfN(names.size - 1, Gen.oneOf("x", "y", "", null)).map(k +: _)))
  } yield {
    val df = frame(names, rows)
    if (raw) df
    else DimLoader.lastWins(df.coalesce(1)
      .withColumn("__file_order", monotonically_increasing_id()), names.head)
  }

  private case class Scenario(channels: DataFrame, employees: DataFrame,
      shows: DataFrame, cpm: DataFrame, codes: Seq[String], cats: Seq[String])

  private val scenario = for {
    channels <- dimGen(Seq("channel_id", "channel_name"), channelKeys)
    employees <- dimGen(Seq("employee_code", "team"), employeeKeys)
    shows <- dimGen(Seq("code", "show_name", "broadcaster", "category"), codeKeys)
    cpm <- dimGen(Seq("shows_name", "cpm_category"), showKeys)
    codes <- Gen.listOfN(7, Gen.oneOf(titleCodes))
    cats <- Gen.listOfN(7, Gen.oneOf(categories))
  } yield Scenario(channels, employees, shows, cpm, codes, cats)

  /** Every key of `keys` and one no dimension holds, one per probe row. */
  private def probes(keys: Seq[String]): Seq[String] = keys :+ "missing"

  /** `stage`'s rows under `dim` resolved, which must give a map, against
    * its rows under `dim` as a broadcast join; a label on a mismatch. */
  private def sameBothWays(name: String, dim: DataFrame, key: String)
      (stage: Dim => DataFrame): Prop = {
    val resolved = DimLoader.resolve(dim, key)
    def rows(d: Dim) = stage(d).collect().map(_.toString).sorted.toSeq
    val (viaMap, viaJoin) = (rows(resolved), rows(new Dim(dim, key, None)))
    (resolved.map.isDefined :| s"$name resolved to a join") &&
      (viaMap == viaJoin) :| s"$name:\n map  $viaMap\n join $viaJoin"
  }

  private def run(sc: Scenario): Prop = {
    val videos = frame(
      Seq("video_id", "video_title", "published_at", "channel_id", "ingest_seq"),
      probes(channelKeys).zipWithIndex.map { case (k, i) =>
        Seq(s"v$i", s"T | ${sc.codes(i % sc.codes.size)}",
          "2024-05-01T00:00:00Z", k, i.toString) })
      .withColumn("ingest_seq", col("ingest_seq").cast("long"))
    val coded = frame(Seq("video_id", "code"),
      probes(codeKeys).zipWithIndex.map { case (k, i) => Seq(s"v$i", k) })
    val named = frame(Seq("video_id", "show_name", "category", "published_at"),
      probes(showKeys).zipWithIndex.map { case (k, i) =>
        Seq(s"v$i", k, sc.cats(i % sc.cats.size), "2024-05-01T10:00:00Z") })
    val measured = named.select(col("*"), lit(10L).as("views"),
      lit(2.5).as("estimated_revenue"), lit(3L).as("subscribers_gained"),
      lit(1L).as("subscribers_lost"), lit(1L).as("comments"), lit(2L).as("likes"),
      lit(null).cast("long").as("shares"))
    sameBothWays("channels", sc.channels, "channel_id")(
      Stages.ingest(videos, _, "2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z")) &&
      sameBothWays("employees", sc.employees, "employee_code")(
        Stages.enrichTitleCode(videos, _)) &&
      sameBothWays("shows", sc.shows, "code")(Stages.enrichShow(coded, _)) &&
      sameBothWays("cpm categories", sc.cpm, "shows_name")(
        Stages.derive(measured, _))
  }

  test("ScalaCheck: every stage's map lookup equals its broadcast join") {
    val r = check(Parameters.default.withMinSuccessfulTests(8)
        .withWorkers(1).withInitialSeed(7919L),
      Prop.forAllNoShrink(scenario)(run))
    assert(r.passed, r.status.toString)
  }

  test("a repeated key keeps the broadcast join, which fans the row out") {
    val shows = frame(Seq("code", "show_name", "broadcaster", "category"),
      Seq(Seq("AB", "One", "B", "News"), Seq("AB", "Two", "B", "News"),
        Seq("QB", "Three", "B", "Drama")))
    val dim = DimLoader.resolve(shows, "code")
    assert(dim.map.isEmpty)
    val out = Stages.enrichShow(frame(Seq("video_id", "code"), Seq(Seq("v1", "AB"))), dim)
    assert(out.select("show_name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("One", "Two"))
  }

  test("a dimension over the row cap keeps the broadcast join; one at it is a map") {
    def channels(n: Int) = frame(Seq("channel_id", "channel_name"),
      (1 to n).map(i => Seq(s"ch$i", s"Channel $i")))
    assert(DimLoader.resolve(channels(DimLoader.MapRowCap), "channel_id").map.isDefined)
    val over = DimLoader.resolve(channels(DimLoader.MapRowCap + 1), "channel_id")
    assert(over.map.isEmpty)
    val videos = frame(Seq("video_id", "video_title", "published_at", "channel_id"),
      Seq(Seq("v1", "T", "2024-05-01T00:00:00Z", s"ch${DimLoader.MapRowCap + 1}"),
        Seq("v2", "T", "2024-05-01T00:00:00Z", "nope")))
      .withColumn("ingest_seq", monotonically_increasing_id())
    val names = Stages.ingest(videos, over, "2024-05-01T00:00:00Z",
      "2024-05-02T23:59:59Z").collect()
      .map(r => r.getAs[String]("video_id") -> r.getAs[String]("channel_name")).toMap
    assert(names == Map("v1" -> s"Channel ${DimLoader.MapRowCap + 1}",
      "v2" -> "Unknown Channel"))
  }
}
