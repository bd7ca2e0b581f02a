package graft

import graft.functions.LogBucket
import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q_percentile and q_hist_percentile read their order statistics off
  * `Relational.rankSelect`; these specs hold the percentiles equal to
  * Spark's own `percentile` (the two-aggregate form, one `percentile` per
  * fraction) and the histogram readout equal to the Catalyst chain it
  * replaced, on edge-case groups and through the sub-bucket pass. */
class PercentileSpec extends SparkSpec {

  private def twoAggregates(df: DataFrame, key: String,
      cents: Column): DataFrame =
    df.groupBy(key).agg(
      round(percentile(cents, lit(0.5)) / 100.0, 6).as("p50"),
      round(percentile(cents, lit(0.95)) / 100.0, 6).as("p95"))

  private def rows(df: DataFrame): Seq[(String, Double, Double)] =
    df.orderBy("k").collect().toSeq.map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2)))

  /** Every row as a list of its values, in the frame's own order. */
  private def asIs(df: DataFrame): Seq[List[Any]] =
    df.collect().toSeq.map(_.toSeq.toList)

  private def frame(groups: Seq[(String, Seq[Option[Long]])]): DataFrame = {
    import spark.implicits._
    groups.flatMap { case (k, vs) => vs.map(k -> _) }.toDF("k", "cents")
  }

  private val pow2 = (1 to 62).flatMap { k =>
    val p = 1L << k
    Seq(p - 1, p, p + 1)
  }

  /** Edge-case groups: sizes 1 and 2, ties, nulls, an all-null group,
    * zero, negatives, powers of two ±1 up to 2⁶² and the BIGINT ends. */
  private val edgeGroups: Seq[(String, Seq[Option[Long]])] = Seq(
    "one" -> Seq(Some(4217L)),
    "two" -> Seq(Some(100L), Some(351L)),
    "same" -> Seq.fill(5)(Some(999L)),
    "repeats" -> Seq(1L, 1L, 2L, 2L, 2L, 9L, 9L, 100L).map(Some(_)),
    "nulls" -> Seq(Some(-50L), None, Some(50L), None, Some(50L)),
    "allnull" -> Seq(None, None),
    "wide" -> (1L to 41L).map(i => Some((i * 7919L) % 613L)),
    "zero" -> Seq(0L, 0L, -1L, 1L, 0L).map(Some(_)),
    "neg" -> (1L to 30L).map(i => Some(-i * i * 1009L)),
    "pow2" -> pow2.map(Some(_)),
    "negpow2" -> pow2.map(v => Some(-v)),
    "ends" -> Seq(Long.MinValue, Long.MinValue + 1, Long.MinValue + 2,
      -1L, 0L, Long.MaxValue - 2, Long.MaxValue - 1, Long.MaxValue)
      .map(Some(_)),
    "top" -> Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue,
      Long.MaxValue - 1000).map(Some(_)))

  /** A group whose middle bucket holds far more values than a band bound
    * of 8 — spread over its range, with heavy ties — so each target rank
    * takes sub-bucket passes before its values are collected. */
  private val heavyGroups: Seq[(String, Seq[Option[Long]])] = Seq(
    "heavy" -> ((0L until 3000L).map(i => (1L << 20) + (i * 37L) % 4096L) ++
      Seq.fill(500)((1L << 20) + 1234L) ++ Seq(5L, 1L << 30))
      .map(Some(_)),
    "light" -> Seq(3L, 4L, 5L).map(Some(_)))

  test("LogBucket is monotone and mirrored, spans 28,672 buckets, each at most 1/256 of its values wide") {
    val rnd = new scala.util.Random(7)
    val vs = (pow2 ++ Seq(0L, 1L, 255L, 256L, 511L, 512L, Long.MaxValue) ++
      Seq.fill(2000)((rnd.nextLong() >>> 1) >>> rnd.nextInt(63))).distinct
    val all = (vs ++ vs.map(v => -1 - v)).sorted
    val bs = all.map(LogBucket.of)
    bs shouldBe bs.sorted
    (bs.min, bs.max) shouldBe ((-14336L, 14335L))
    vs.foreach { v =>
      LogBucket.of(-1 - v) shouldBe -1 - LogBucket.of(v)
      // v's bucket is [start, start + 2^s - 1], s = max(0, bitLength − 9)
      val s = math.max(0, 55 - java.lang.Long.numberOfLeadingZeros(v))
      val start = (v >> s) << s
      val end = start + ((1L << s) - 1)
      withClue(s"v = $v: ") {
        Seq(start, end).map(LogBucket.of) shouldBe Seq.fill(2)(LogBucket.of(v))
        if (start > 0) LogBucket.of(start - 1) should be < LogBucket.of(v)
        if (end < Long.MaxValue) LogBucket.of(end + 1) should be > LogBucket.of(v)
        if (s > 0) (1L << s) should be <= start / 256
      }
    }
  }

  test("fused p50/p95 equals the two-aggregate form on small groups") {
    val small = Set("one", "two", "same", "repeats", "nulls", "wide")
    val df = frame(edgeGroups.filter(g => small(g._1)))
    val fused = rows(Relational.percentiles(df, "k", col("cents")))
    fused shouldBe rows(twoAggregates(df, "k", col("cents")))
    // the one-row group's percentiles are its value; two rows interpolate
    fused.find(_._1 == "one").get shouldBe (("one", 42.17, 42.17))
    fused.find(_._1 == "two").get shouldBe (("two", 2.255, 3.3845))
  }

  test("rank-select percentiles equal Spark's percentile on edge groups, in key order") {
    val df = frame(edgeGroups)
    val got = Relational.percentiles(df, "k", col("cents"))
    // emitted in key order with no sort, nulls for the all-null group
    asIs(got) shouldBe asIs(twoAggregates(df, "k", col("cents")).orderBy("k"))
    asIs(got).map(_.head) shouldBe edgeGroups.map(_._1).sorted
    asIs(got).find(_.head == "allnull").get shouldBe List("allnull", null, null)
    // every order statistic is exact, and unrounded the interpolation is
    // Spark's, bit for bit
    val raw = Relational.rankSelect(df, "k", col("cents"), n => 1L to n)
    val sorted = edgeGroups.map { case (k, vs) => k -> vs.flatten.sorted }.toMap
    raw.map(g => g.key -> g.n) shouldBe
      sorted.toSeq.sortBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.95, 0.99)
    val fromSpark = df.groupBy("k")
      .agg(array(ps.map(p => percentile(col("cents"), lit(p))): _*))
      .collect().map(r => r.getString(0) ->
        r.getSeq[java.lang.Double](1).map(Option(_).map(_.doubleValue)))
      .toMap
    raw.foreach { g =>
      val vs = sorted(g.key)
      withClue(s"group ${g.key}: ") {
        g.min shouldBe vs.headOption
        g.max shouldBe vs.lastOption
        (1L to g.n).map(g.at) shouldBe vs
        ps.map(p => Relational.interpolated(g, p).map(java.lang.Double
          .doubleToLongBits)) shouldBe
          fromSpark(g.key).map(_.map(java.lang.Double.doubleToLongBits))
      }
    }
  }

  test("a target bucket over the band bound takes sub-bucket passes and stays exact") {
    val df = frame(heavyGroups)
    val (got, jobs) = jobsOf(rows(Relational.percentiles(df, "k",
      col("cents"), bandBound = 8)))
    got shouldBe rows(twoAggregates(df, "k", col("cents")))
    val (_, plainJobs) = jobsOf(rows(Relational.percentiles(df, "k",
      col("cents"))))
    withClue("the small bound must add refine passes: ")(
      jobs should be > plainJobs)
    val heavy = heavyGroups.head._2.flatten.sorted
    val n = heavy.size.toLong
    val ranks = Seq(1L, 2L, n / 3, n / 2, n / 2 + 1, 19 * n / 20, n - 1, n)
    val g = Relational.rankSelect(df, "k", col("cents"),
      m => if (m == n) ranks else Seq(m), bandBound = 8).find(_.key == "heavy").get
    ranks.map(g.at) shouldBe ranks.map(r => heavy((r - 1).toInt))
  }

  /** q_hist_percentile's former Catalyst form over (rf, c): a stats pass,
    * the 256-bin histogram, a running-count window and a conditional-min
    * pick of the nearest-rank bins. */
  private def histChain(x: DataFrame): DataFrame = {
    val mm = x.groupBy("rf")
      .agg(min("c").as("mn"), max("c").as("mx"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val b = mm.select("rf", "mn", "mx").collect()
      .foldLeft(lit(null).cast("long")) { (acc, r) =>
        val (mn, mx) = (r.getLong(1), r.getLong(2))
        when(col("rf") === lit(r.getString(0)),
          expr(s"((c - ${mn}L) * 256) DIV ${mx - mn + 1}L")).otherwise(acc)
      }
    val h = x.select(col("rf"), b.as("b"))
      .groupBy("rf", "b").agg(count(lit(1)).as("cnt"))
    val cum = h.withColumn("cum",
      sum("cnt").over(Window.partitionBy("rf").orderBy("b")))
      .join(broadcast(mm), "rf")
    val sel = cum.groupBy("rf").agg(
      min(when(col("cum") >= expr("(n + 1) DIV 2"), col("b"))).as("b50"),
      min(when(col("cum") >= expr("(19 * n + 19) DIV 20"), col("b")))
        .as("b95"))
    mm.join(sel, "rf")
      .select(col("rf"),
        round((col("mn") + expr("(b50 * (mx - mn + 1)) DIV 256")) / 100.0, 6)
          .as("p50_hist"),
        round((col("mn") + expr("(b95 * (mx - mn + 1)) DIV 256")) / 100.0, 6)
          .as("p95_hist"),
        col("n"))
      .orderBy("rf")
  }

  test("q_hist_percentile's readout equals its former Catalyst chain on ties and empty bins") {
    import spark.implicits._
    val groups: Seq[(String, Seq[Long])] = Seq(
      "one" -> Seq(777L),
      "two" -> Seq(100L, 90000L),
      "ties" -> (Seq.fill(40)(5000L) ++ Seq.fill(3)(5001L) ++ Seq(9000L)),
      // values at the two ends leave most of the 256 bins empty
      "gaps" -> ((1L to 20L) ++ (1000000L to 1000030L)),
      "spread" -> (0L until 997L).map(i => 10000L + (i * 7919L) % 100003L),
      "heavy" -> heavyGroups.head._2.flatten)
    val x = groups.flatMap { case (k, vs) => vs.map(k -> _) }.toDF("rf", "c")
    val want = asIs(histChain(x))
    asIs(Relational.histPercentiles(x, "rf", col("c"))) shouldBe want
    asIs(Relational.histPercentiles(x, "rf", col("c"), bandBound = 8)) shouldBe
      want
  }

  test("q_percentile equals the two-aggregate form on lineitem") {
    val li = Tables.lineitem(spark, sfDir).withColumnRenamed("l_returnflag", "k")
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val got = SparkEntry.queries("q_percentile")(spark, sfDir)
      .withColumnRenamed("l_returnflag", "k")
    rows(got) shouldBe rows(twoAggregates(li, "k", cents))
  }
}
