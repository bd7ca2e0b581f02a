package graft

import graft.ml.{Ridge, TWCNB}
import org.apache.spark.ml.classification.NaiveBayes
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.functions._

/** Cross-implementation differential oracles, mirroring the reference's
  * dominant test pattern (SURVEY.md §5): from-scratch pipeline vs canned
  * implementation on the same data.
  *
  *  - TWCNB vs `ml.classification.NaiveBayes(modelType="complement")`
  *    (reference: TWCNBSuite.scala:106-139, scores must cancel);
  *  - ridge normal equations vs `ml.regression.LinearRegression
  *    (solver="normal")` (reference: MyAppSuite.scala:78-86, β recovery).
  */
class DifferentialSpec extends SparkSpec {

  /** Seeded 4-class corpus: each class prefers a disjoint 10-term slice of
    * a 60-term vocab, mixed with uniform background noise — the synthetic
    * shape of the reference's TWCNB fixture (TWCNBSuite.scala:29-45:
    * 50 docs x 100 terms x 4 classes). */
  private lazy val corpus: Seq[(Long, Int, Seq[String])] = {
    val rnd = new scala.util.Random(1235)
    val vocab = (0 until 60).map(t => f"t$t%02d")
    for (d <- 0L until 80L) yield {
      val c = (d % 4).toInt
      val toks = Seq.fill(30) {
        if (rnd.nextDouble() < 0.7) vocab(c * 10 + rnd.nextInt(10))
        else vocab(rnd.nextInt(60))
      }
      (d, c, toks)
    }
  }

  test("TWCNB predictions agree with MLlib complement NaiveBayes") {
    import spark.implicits._
    val tokens = corpus.flatMap { case (_, c, toks) => toks.map((c, _)) }
      .toDF("label", "term")
    val model = TWCNB.train(tokens, alpha = 1.0)

    val docTf = corpus.flatMap { case (d, _, toks) =>
      toks.groupBy(identity).map { case (t, xs) => (d, t, xs.size.toDouble) }
    }.toDF("doc_id", "term", "tf")
    // Rennie CNB picks the class whose complement weights are smallest.
    val twcnbPred = TWCNB.score(docTf, model)
      .groupBy("doc_id").agg(min_by(col("label"), col("score")).as("pred"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("pred"))
      .toMap

    val vocabIdx = corpus.flatMap(_._3).distinct.sorted.zipWithIndex.toMap
    val vecs = corpus.map { case (d, c, toks) =>
      val tf = toks.groupBy(identity).map { case (t, xs) =>
        (vocabIdx(t), xs.size.toDouble) }.toSeq.sortBy(_._1)
      (d, c.toDouble, Vectors.sparse(vocabIdx.size, tf))
    }.toDF("doc_id", "label", "features")
    val nb = new NaiveBayes().setModelType("complement").setSmoothing(1.0)
      .fit(vecs)
    val mllibPred = nb.transform(vecs)
      .select("doc_id", "prediction").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("prediction").toInt)
      .toMap

    twcnbPred.keySet shouldBe mllibPred.keySet
    val disagree = twcnbPred.count { case (d, p) => mllibPred(d) != p }
    withClue(s"$disagree/${twcnbPred.size} docs disagree: ") {
      disagree shouldBe 0
    }
  }

  test("ridge normal equations match MLlib LinearRegression(solver=normal) at lambda=0") {
    import spark.implicits._
    // Integer-valued features (the quantization discipline of Ridge.fit).
    val rnd = new scala.util.Random(1234)
    val betaSim = Array(12.0, 3.0, -2.0, 0.5)
    val data = (0 until 250).map { _ =>
      val x = Array.fill(3)(rnd.nextInt(40).toDouble)
      val y = math.rint(betaSim(0) + x(0) * betaSim(1) + x(1) * betaSim(2) +
        x(2) * betaSim(3) + rnd.nextGaussian() * 0.04)
      (x(0), x(1), x(2), y)
    }
    val df = data.toDF("x1", "x2", "x3", "y")

    val fit = Ridge.fit(df, Seq(col("x1"), col("x2"), col("x3")), col("y"),
      lambda = 0.0)

    val mldf = data.map { case (x1, x2, x3, y) =>
      (Vectors.dense(x1, x2, x3), y) }.toDF("features", "label")
    val ml = new LinearRegression().setSolver("normal").setRegParam(0.0)
      .setFitIntercept(true).fit(mldf)

    math.abs(fit.beta(0) - ml.intercept) should be < 1e-6
    for (j <- 0 until 3)
      math.abs(fit.beta(j + 1) - ml.coefficients(j)) should be < 1e-6

    // Reference recovery bound: |beta_hat - beta_sim|_1 < 0.1
    // (MyAppSuite.scala:86).
    (0 until 4).map(j => math.abs(fit.beta(j) - betaSim(j))).sum should be < 0.1

    // t-stats are finite and large for the true signal columns.
    fit.tStats.toArray.drop(1).foreach(t => math.abs(t) should be > 10.0)
  }

  test("LSH multiprobe ANN reaches production recall vs brute-force top-5") {
    val byName = graft.operators.PipelineQueries.all.map(q => q.name -> q).toMap
    def topk(name: String): Map[Long, Set[Long]] =
      byName(name).fn(spark, sfDir).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("v_id")).toSet }
    val exact = topk("q_cosine_topk")
    val approx = topk("q_ann_lsh")
    exact should not be empty
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ANN mean recall@5 = $mean%.3f over ${recalls.size} queries")
    mean should be >= 0.8
  }

  test("IVF-bucketed ANN reaches production recall vs brute-force top-5") {
    val byName = graft.operators.PipelineQueries.all.map(q => q.name -> q).toMap
    def topk(name: String): Map[Long, Set[Long]] =
      byName(name).fn(spark, sfDir).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("v_id")).toSet }
    val exact = topk("q_cosine_topk")
    val approx = topk("q_ann_ivf")
    exact should not be empty
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@5 = $mean%.3f over ${recalls.size} queries (nprobe=8/16 cells)")
    mean should be >= 0.8
  }

  test("int8-code IVF matches the float IVF's recall vs brute-force top-5") {
    val byName = graft.operators.PipelineQueries.all.map(q => q.name -> q).toMap
    def topk(name: String): Map[Long, Set[Long]] =
      byName(name).fn(spark, sfDir).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("v_id")).toSet }
    val exact = topk("q_cosine_topk")
    val sq = topk("q_ann_ivf_sq")
    val float = topk("q_ann_ivf")
    exact should not be empty
    def meanRecall(approx: Map[Long, Set[Long]]) = {
      val rs = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val mSq = meanRecall(sq); val mFloat = meanRecall(float)
    info(f"SQ-IVF mean recall@5 = $mSq%.3f vs float IVF $mFloat%.3f")
    mSq should be >= 0.8
    // int8 cosine barely perturbs ranking: within 5pp of the float path
    mSq should be >= mFloat - 0.05
  }

  test("embed near-dup dispatch: both sides of the crossover produce the identical verdict frame") {
    import org.apache.spark.sql.functions.col
    import graft.operators.PipelineQueries
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def generates(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }

    // boundary regime (τ=0.4, natural corpus, n=500 — measured exact for
    // the dense LSH point): the two sides of the crossover agree, and
    // the dispatch at n=500 plans the brute side (a θ-join, no Generate)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.TextFns.toDoubleArray(col("embedding")).as("vec"))
    val n = emb.count()
    val brute = verdicts(PipelineQueries.embedNearDupBrute(emb, 0.4))
    val lsh = verdicts(PipelineQueries.embedNearDupLsh(spark, emb, n, 0.4))
    brute.nonEmpty shouldBe true
    lsh shouldBe brute
    generates(PipelineQueries.embedNearDup(spark, emb, n, 0.4)) shouldBe empty

    // production regime (τ=0.9, twin-augmented): the dispatch always
    // takes LSH (crossover 0); it must equal the brute baseline exactly
    val aug = PipelineQueries.twinAugmented(spark, sfDir)
    val hiBrute = verdicts(PipelineQueries.embedNearDupBrute(aug, 0.9))
    val hiDispatch = verdicts(PipelineQueries.embedNearDup(spark, aug, 2 * n, 0.9))
    hiBrute.nonEmpty shouldBe true
    hiDispatch shouldBe hiBrute

    // round-10 advisor: the n = 0 "count unknown" shortcut at hi τ must
    // STILL plan the LSH path (n ≤ crossover-0 used to slip it into the
    // O(n²) brute). The LSH plan signs into signature buckets (Generate
    // over the sigs array); the brute plan is a θ-join with no Generate.
    val hiN0 = PipelineQueries.embedNearDup(spark, aug, 0L, 0.9)
    generates(hiN0) should not be empty
    verdicts(hiN0) shouldBe hiBrute
  }
}
