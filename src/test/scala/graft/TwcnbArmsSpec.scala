package graft

import graft.ml.TWCNB
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Try

/** Both arms of TWCNB training: the driver arm at the default
  * `graft.graph.broadcastStateBytes` (one collect of the class-term
  * counts, steps 2–4 on driver arrays) and the plan arm at budget 0.
  * They must give the same labels and terms, equal `round(w, 6)` and raw
  * weights within 4 ulps (only the L1 norm's summation order differs),
  * and the driver arm's model must come in (label, term) order. */
class TwcnbArmsSpec extends SparkSpec {

  private val budgetKey = "graft.graph.broadcastStateBytes"

  private type Cell = (String, String, Option[Double])

  /** `f` at the default budget, then at budget 0. */
  private def bothBudgets[T](f: => T): (T, T) = {
    spark.conf.unset(budgetKey)
    try {
      val held = f
      spark.conf.set(budgetKey, "0")
      (held, f)
    } finally spark.conf.unset(budgetKey)
  }

  private def modelCells(df: DataFrame): Seq[Cell] = df.collect().toSeq.map(r =>
    (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  /** One arm of `fit` on `weighted`: its row count and its model's rows
    * (the driver arm's as stored, the plan arm's sorted by Spark), or the
    * class of the failure. */
  private def arm(weighted: => DataFrame,
      alpha: Double): (Option[Long], Try[Seq[Cell]], Int) = {
    val (m, rows) = TWCNB.fit(weighted, alpha)
    val out = Try(modelCells(if (rows.isDefined) m else m.orderBy("label", "term")))
    (rows, out, if (rows.isDefined) m.rdd.getNumPartitions else 0)
  }

  private def round6(w: Double): Double =
    BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train `weighted` on both arms and assert they agree; the driver arm
    * must have run (a row count, one slice) unless `driverArm` is false. */
  private def agree(weighted: => DataFrame, alpha: Double,
      driverArm: Boolean = true): Seq[Cell] = {
    val ((heldRows, held, slices), (planRows, plan, _)) =
      bothBudgets(arm(weighted, alpha))
    planRows shouldBe None
    if (driverArm) {
      heldRows shouldBe Some(held.get.size.toLong)
      slices shouldBe 1
    } else heldRows shouldBe None
    (held.isSuccess, plan.isSuccess) match {
      case (true, true) =>
        val (h, p) = (held.get, plan.get)
        h.map(c => (c._1, c._2)) shouldBe p.map(c => (c._1, c._2))
        h.map(_._3.map(round6)) shouldBe p.map(_._3.map(round6))
        h.zip(p).foreach {
          case ((l, t, Some(a)), (_, _, Some(b))) =>
            withClue(s"($l, $t) w $a vs $b: ") {
              math.abs(a - b) should be <=
                4 * math.ulp(math.max(math.abs(a), math.abs(b)))
            }
          case ((_, _, a), (_, _, b)) => a shouldBe b
        }
        h
      case _ =>
        held.failed.map(_.getClass) shouldBe plan.failed.map(_.getClass)
        Nil
    }
  }

  private def table(rows: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("label", "term", "f")
  }

  test("both arms agree on the sf0.001 corpus, counts and quantized tf-idf") {
    try {
      val tf = graft.operators.TextQueries.tfMatrix(spark, sfDir)
      val counts = agree(
        tf.select(col("lang").as("label"), col("term"), col("tf").as("f")),
        alpha = 1.0)
      counts.map(_._1).distinct.size should be > 1
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(spark, sfDir)
        .select(count(lit(1)).cast("double").as("n"))
      agree(tf.join(df, "term").crossJoin(broadcast(n))
        .select(col("lang").as("label"), col("term"),
          round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)) * 1e6)
            .cast("long").as("f")), alpha = 1e6)
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }

  test("the declared TWCNB queries give the same rows on both arms") {
    try {
      for (q <- Seq("q_twcnb_model", "q_nb_score", "q_twcnb_tfidf")) {
        val (held, plan) = bothBudgets {
          Memo.release(spark)
          val rows = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
          Cleanup(spark)
          rows
        }
        withClue(s"$q: ")(held shouldBe plan)
      }
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }

  test("both arms agree on synthetic tables: one label, absent pairs, ties, alpha 1e6, doubles") {
    try {
      // one label: every complement count is 0, every weight −1/V
      agree(table(Seq(("a", "x", 3L), ("a", "y", 1L), ("a", "z", 1L),
        ("a", "x", 2L))), alpha = 1.0)
        .map(_._3.map(round6)) shouldBe Seq.fill(3)(Some(round6(-1.0 / 3)))
      // (label, term) pairs absent from the counts are zeros in the grid
      val sparse = agree(table(Seq(("a", "x", 4L), ("a", "y", 1L),
        ("b", "y", 2L), ("b", "z", 7L), ("c", "w", 1L))), alpha = 1.0)
      sparse.size shouldBe 12
      // tied counts, with some cells absent
      agree(table(for (l <- Seq("a", "b", "c"); t <- 0 until 10
          if (l, t) != ("b", 3) && (l, t) != ("c", 7))
        yield (l, f"t$t%02d", 2L)), alpha = 1.0)
      // the quantized tf-idf form: micro-unit weights, α = 10⁶
      val rnd = new scala.util.Random(17)
      val micro = for (l <- Seq("en", "es", "fr"); t <- 0 until 40
          if rnd.nextDouble() < 0.7)
        yield (l, f"w$t%02d", 1000000L + rnd.nextInt(90000000))
      agree(table(micro), alpha = 1e6)
      // Double weights: the sums are no longer exact, the ulp bound holds
      val doubles = for (l <- Seq("a", "b", "c", "d"); t <- 0 until 50;
          _ <- 0 until 2 if rnd.nextDouble() < 0.8)
        yield (l, f"v$t%02d", rnd.nextDouble() * 7.3)
      import spark.implicits._
      agree(doubles.toDF("label", "term", "f"), alpha = 1.0)
    } finally {
      Cleanup(spark)
    }
  }

  test("one term leaves every norm zero: the driver arm declines and the plan arm's result stands") {
    try {
      agree(table(Seq(("a", "x", 2L), ("b", "x", 5L))), alpha = 1.0,
        driverArm = false)
    } finally {
      Cleanup(spark)
    }
  }
}
