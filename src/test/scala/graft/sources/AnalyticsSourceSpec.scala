package graft.sources

import graft.SparkSuite
import graft.pipeline.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalacheck.rng.Seed

/** [[AnalyticsSource.metricsAcrossOwners]]'s one-pass owner attribution
  * against the reference's per-owner loop (dataprocessing.py:106-114),
  * kept here as the model: per owner, a semi-join on the ids still
  * unserved, a grouped aggregate, and an anti-join hop removing the ids
  * that owner served. */
class AnalyticsSourceSpec extends SparkSuite {

  private def loopModel(facts: DataFrame, ids: DataFrame,
      owners: Seq[String], withContentType: Boolean): DataFrame = {
    def metricsFor(remaining: DataFrame, owner: String): DataFrame = {
      val keys = if (withContentType) Seq(col("video_id"), col("content_type"))
        else Seq(col("video_id"))
      facts.where(col("content_owner_id") === owner)
        .join(broadcast(remaining.select(col("video_id"))), Seq("video_id"),
          "left_semi")
        .groupBy(keys: _*).agg(
          sum("views").as("views"),
          sum("minutes_watched").as("minutes_watched"),
          avg("avg_view_duration_s").cast("long").as("avg_view_duration_s"),
          sum("comments").as("comments"),
          sum("likes").as("likes"),
          sum("shares").as("shares"),
          sum("revenue").as("revenue"),
          avg("cpm").as("cpm"),
          sum("subs_gained").as("subs_gained"),
          sum("subs_lost").as("subs_lost"))
    }
    owners.foldLeft((Option.empty[DataFrame], ids)) {
      case ((acc, remaining), owner) =>
        val got = metricsFor(remaining, owner)
        (acc.map(_.unionByName(got)).orElse(Some(got)),
          remaining.join(got.select("video_id"), Seq("video_id"), "left_anti"))
    }._1.get
  }

  private val videos = Seq("v0", "v1", "v2", "v3", "v4", "v5")
  // o1–o3 hold facts; o4 and o5 never do
  private val factOwners = Seq("o1", "o2", "o3")
  private val ownerPool = factOwners ++ Seq("o4", "o5")

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(8 -> g, 1 -> Gen.const(null))

  // dyadic doubles sum exactly in any order, so the two plans' sums and
  // avgs compare with ==
  private val dyadic = Gen.choose(0, 400).map(_ * 0.25)

  private val factRow: Gen[Row] = for {
    v <- orNull(Gen.oneOf(videos))
    o <- Gen.frequency(12 -> Gen.oneOf(factOwners), 1 -> Gen.const(null))
    ct <- orNull(Gen.oneOf("video", "short"))
    views <- Gen.choose(0L, 1000L)
    minutes <- dyadic
    dur <- Gen.choose(0L, 9000L)
    small <- Gen.listOfN(5, Gen.choose(0L, 50L))
    revenue <- dyadic
    cpm <- dyadic
  } yield Row(v, o, ct, views, minutes, dur, small(0), small(1), small(2),
    revenue, cpm, small(3), small(4))

  // ids: any subset of the videos, ids without facts, a null, duplicates
  private val idList: Gen[Seq[Any]] = for {
    some <- Gen.someOf(videos ++ Seq("vx", "vy"))
    dups <- Gen.listOfN(2, Gen.oneOf(videos))
    withNull <- Gen.oneOf(true, false)
  } yield some.toSeq ++ dups ++ (if (withNull) Seq(null) else Nil)

  // 2–4 owners in any order, repeats and fact-less owners included
  private val ownerList: Gen[Seq[String]] =
    Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(ownerPool)))

  private val idSchema = StructType(Seq(StructField("video_id", StringType)))

  // RDD-backed, not local relations: the optimizer folds filters over a
  // local relation and prunes the branches they empty, which would hide
  // the plan under test
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  test("one-pass owner attribution equals the per-owner anti-join loop (ScalaCheck)") {
    val cases = for {
      facts <- Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, factRow))
      ids <- idList
      owners <- ownerList
    } yield (facts, ids, owners)
    val prop = Prop.forAll(cases) { case (factRows, idRows, owners) =>
      val facts = frame(factRows, Schemas.analyticsFacts)
      val ids = frame(idRows.map(Row(_)), idSchema)
      Seq(true, false).forall { withContentType =>
        val got = AnalyticsSource.metricsAcrossOwners(facts, ids, owners,
          withContentType)
        val want = loopModel(facts, ids, owners, withContentType)
        got.columns.sameElements(want.columns) && got.schema == want.schema &&
          bag(got) == bag(want)
      }
    }
    val r = check(Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(r.passed, r.status.toString)
  }

  test("the owner attribution shuffles the facts once and anti-joins nothing") {
    val facts = frame(Seq("o1" -> 10L, "o2" -> 20L, "o3" -> 30L).map {
      case (o, views) =>
        Row("v1", o, "video", views, 1.0, 1L, 1L, 1L, 1L, 1.0, 1.0, 1L, 1L)
    }, Schemas.analyticsFacts)
    val m = AnalyticsSource.metricsAcrossOwners(facts,
      frame(Seq(Row("v1")), idSchema), Seq("o2", "o1", "o3"),
      withContentType = true)
    val p = m.queryExecution.executedPlan.toString
    assert(!p.contains("LeftAnti"), p)
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1, p)
    // o2 comes first in the owner list
    assert(m.collect().map(_.getLong(2)).toSeq == Seq(20L))
  }
}
