package graft

import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q_percentile computes p50 and p95 with one `percentile` aggregate over
  * both fractions; these specs hold it equal to the two-aggregate form
  * (one `percentile` per fraction) it replaced. */
class PercentileSpec extends SparkSpec {

  private def twoAggregates(df: DataFrame, key: String,
      cents: Column): DataFrame =
    df.groupBy(key).agg(
      round(percentile(cents, lit(0.5)) / 100.0, 6).as("p50"),
      round(percentile(cents, lit(0.95)) / 100.0, 6).as("p95"))

  private def rows(df: DataFrame): Seq[(String, Double, Double)] =
    df.orderBy("k").collect().toSeq.map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2)))

  test("fused p50/p95 equals the two-aggregate form on small groups") {
    import spark.implicits._
    val groups: Seq[(String, Seq[Option[Long]])] = Seq(
      "one" -> Seq(Some(4217L)),
      "two" -> Seq(Some(100L), Some(351L)),
      "same" -> Seq.fill(5)(Some(999L)),
      "repeats" -> Seq(1L, 1L, 2L, 2L, 2L, 9L, 9L, 100L).map(Some(_)),
      "nulls" -> Seq(Some(-50L), None, Some(50L), None, Some(50L)),
      "wide" -> (1L to 41L).map(i => Some((i * 7919L) % 613L)))
    val df = groups.flatMap { case (k, vs) => vs.map(k -> _) }
      .toDF("k", "cents")
    val fused = rows(Relational.p50p95(df, "k", col("cents")))
    fused shouldBe rows(twoAggregates(df, "k", col("cents")))
    fused.map(_._1) shouldBe groups.map(_._1).sorted
    // the one-row group's percentiles are its value; two rows interpolate
    fused.find(_._1 == "one").get shouldBe (("one", 42.17, 42.17))
    fused.find(_._1 == "two").get shouldBe (("two", 2.255, 3.3845))
  }

  test("q_percentile equals the two-aggregate form on lineitem") {
    val li = Tables.lineitem(spark, sfDir).withColumnRenamed("l_returnflag", "k")
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val got = SparkEntry.queries("q_percentile")(spark, sfDir)
      .withColumnRenamed("l_returnflag", "k")
    rows(got) shouldBe rows(twoAggregates(li, "k", cents))
  }
}
