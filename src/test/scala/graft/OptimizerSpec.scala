package graft

import breeze.linalg.{DenseMatrix, DenseVector, norm}
import graft.ml.{BFGS, Bahmani, MMul, Ridge}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** Solver/optimizer layer tests, mirroring the reference's budgets
  * (BASELINE.md): BFGS ≤ 40 iters to ‖∇f‖ < 1e-7 on the 2-D quadratic;
  * multithreaded mmul ‖C−C_ctl‖_F < 1e-5; Bahmani sketch quality vs
  * MLlib k-means|| on the same points.
  */
class OptimizerSpec extends SparkSpec {

  test("BFGS minimizes the 2-D quadratic within the reference budget") {
    // f(x) = (x-m)t Q (x-m), Q = diag(2, .5), minimum at m (ref
    // MyAppSuite.scala:115-132).
    val m = DenseVector(3.0, -1.0)
    val q = DenseMatrix((2.0, 0.0), (0.0, 0.5))
    def f(x: DenseVector[Double]) = ((x - m).t * (q * (x - m))): Double
    def g(x: DenseVector[Double]) = (q * (x - m)) * 2.0
    val r = BFGS.minimize(f, g, DenseVector.zeros[Double](2),
      maxIter = 40, epsilon = 1e-7)
    r.converged shouldBe true
    r.iterations should be <= 40
    norm(r.x - m) should be < 1e-6
  }

  test("BFGS with distributed least-squares callbacks recovers the OLS beta") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_quantity").as("x1"),
        round(col("l_discount") * 100).as("x2"),
        round(col("l_extendedprice")).as("y"))
    val (f, g) = BFGS.leastSquares(li, Seq(col("x1"), col("x2")), col("y"))
    // Normal-equations truth from the Ridge path (lambda=0).
    val beta = DenseVector(
      Ridge.fit(li, Seq(col("x1"), col("x2")), col("y"), lambda = 0).beta)
    val r = BFGS.minimize(f, g, DenseVector.zeros[Double](3), maxIter = 200,
      epsilon = 1e-3 * norm(beta), // scaled: f is summed over 6k rows
      lineSearch = BFGS.backtracking(), strict = false)
    // Relative parameter error, not gradient norm, is the meaningful gate.
    norm(r.x - beta) / norm(beta) should be < 1e-2
  }

  test("ridge solve on plain arrays agrees with a Breeze LU reference") {
    // seeded systems from integer-valued designs (the quantization
    // discipline of Ridge.sums), k ∈ {2, 3, 5} and λ ∈ {0, 10}, plus one
    // near-collinear design: x2 = x1 + a ±1 perturbation on 1 row in 50
    def system(k: Int, seed: Long, collinear: Boolean) = {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 400).map { i =>
        val x = Array.fill(k - 1)(rnd.nextInt(50).toDouble)
        if (collinear) x(1) = x(0) + (if (i % 50 == 0) rnd.nextInt(3) - 1 else 0)
        val y = math.rint(7.0 + x.zipWithIndex.map { case (v, j) =>
          (j + 1.5) * v }.sum + rnd.nextGaussian() * 4.0)
        (1.0 +: x, y)
      }
      val g = Array.tabulate(k, k)((p, q) => rows.map(r => r._1(p) * r._1(q)).sum)
      val b = Array.tabulate(k)(p => rows.map(r => r._1(p) * r._2).sum)
      (g, b, rows.map(r => r._2 * r._2).sum, rows.size.toLong)
    }
    def rel(a: Double, b: Double): Double =
      math.abs(a - b) / math.max(math.abs(b), 1e-300)
    val cases = (for (k <- Seq(2, 3, 5); lambda <- Seq(0.0, 10.0))
      yield (k, lambda, false)) :+ ((3, 0.0, true))
    for ((k, lambda, collinear) <- cases) withClue(s"k=$k λ=$lambda collinear=$collinear: ") {
      val (g, b, yy, n) = system(k, 100L + k, collinear)
      val fit = Ridge.solve(g, b, yy, n, lambda)
      val gm = DenseMatrix.tabulate(k, k)((p, q) => g(p)(q))
      val bv = DenseVector(b)
      val reg = gm + DenseMatrix.eye[Double](k) * lambda
      val beta = reg \ bv
      val inv = breeze.linalg.inv(reg)
      val ssr = math.max(0.0, yy - 2.0 * (beta dot bv) + (beta dot (gm * beta)))
      for (j <- 0 until k) {
        rel(fit.beta(j), beta(j)) should be < 1e-9
        rel(fit.gramInv(j)(j), inv(j, j)) should be < 1e-9
      }
      rel(fit.ssr, ssr) should be < 1e-9
    }
  }

  test("parallel in-core mmul matches sequential within 1e-5 Frobenius") {
    val rnd = new scala.util.Random(1234)
    val a = DenseMatrix.fill(500, 35)(rnd.nextGaussian())
    val b = DenseMatrix.fill(35, 30)(rnd.nextGaussian())
    val control = a * b
    val c = MMul.mmulPar(a, b, parallelism = 4)
    norm((control - c).toDenseVector) should be < 1e-5
    // split balance: sizes differ by at most 1 and cover all rows
    val splits = (1 to 7).flatMap(n => Seq(MMul.createSplits(500, n)))
    splits.foreach { s =>
      s.map(_.length).max - s.map(_.length).min should be <= 1
      s.map(_.length).sum shouldBe 500
    }
  }

  test("Elkan center-center pruning: identical to brute force, strictly fewer distance evals") {
    val rnd = new scala.util.Random(99)
    val dim = 16
    val k = 40
    // clustered centers: the triangle-inequality (CDsq) bound should
    // eliminate most far centers once a nearby best is found
    val centers = Array.tabulate(k)(c =>
      Array.tabulate(dim)(j =>
        rnd.nextGaussian() * 0.5 + (if (j == c % dim) 8.0 * (c / dim + 1) else 0.0)))
    val idx = Bahmani.centerIndex(centers)
    val pts = Array.fill(600) {
      val c = centers(rnd.nextInt(k))
      Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3)
    }
    var evals = 0L
    for (p <- pts) {
      val (bi, bd, e) = Bahmani.nearestCounted(p, idx)
      // brute force ground truth (strict <, lowest index wins ties)
      var bb = 0
      var bbd = Double.MaxValue
      for (c <- centers.indices) {
        val dd = centers(c).zip(p).map { case (a, b) => (a - b) * (a - b) }.sum
        if (dd < bbd) { bbd = dd; bb = c }
      }
      bi shouldBe bb
      bd shouldBe bbd +- 1e-9
      evals += e
    }
    val frac = evals.toDouble / (pts.length.toLong * k)
    info(f"evaluated $evals of ${pts.length * k} distances (${frac * 100}%.1f%%)")
    frac should be < 0.5 // pruning must actually bite
  }

  test("Bahmani sketch beats the single-seed baseline and is cost-competitive with MLlib k-means||") {
    val pts = Bahmani.embeddingPoints(spark, sfDir).cache()
    val k = 8

    val (sketch, weights) = Bahmani.sketch(pts, l = 2.0 * k, iterations = 5)
    sketch.length should be >= k
    math.abs(weights.sum - 1.0) should be < 1e-9

    // The sketch must slash phi vs the single seed center it started from.
    val phiSeed = Bahmani.cost(pts, sketch.take(1))
    val phiSketch = Bahmani.cost(pts, sketch)
    // 64-dim near-uniform embeddings keep most variance irreducible, so
    // the bound is modest; the real quality gate is the MLlib comparison.
    phiSketch should be < (phiSeed * 0.8)

    // Weighted Lloyd on the sketch -> k centers; cost within 1.5x of MLlib.
    val ours = Bahmani.lloydOnSketch(sketch, weights, k)
    val ourCost = Bahmani.cost(pts, ours)

    import spark.implicits._
    val mldf = pts.map(p => Tuple1(Vectors.dense(p.vec))).toDF("features")
    val mlModel = new KMeans().setK(k).setInitMode("k-means||")
      .setMaxIter(20).setSeed(42).fit(mldf)
    val mlCost = Bahmani.cost(pts,
      mlModel.clusterCenters.map(_.toArray))

    info(f"cost: seed=$phiSeed%.2f sketch=$phiSketch%.2f " +
      f"ours(k=$k)=$ourCost%.2f mllib=$mlCost%.2f")
    ourCost should be < (mlCost * 1.5)
    pts.unpersist()
  }

  test("PageRank loop keeps plan size O(1) in the iteration count") {
    // Each iteration ends in an eager localCheckpoint, so iteration i's
    // plan starts from a LogicalRDD leaf and never contains iteration
    // i-1's operators — `iters` is a knob, not a plan-explosion fuse.
    // Without the per-round checkpoint the optimized plan grows
    // geometrically (joins against e and deg nest per round).
    val p2 = graft.operators.Graph.pagerankRanks(spark, sfDir, 2)
    val s2 = p2.queryExecution.optimizedPlan.toString.length
    Cleanup(spark)
    val p6 = graft.operators.Graph.pagerankRanks(spark, sfDir, 6)
    val s6 = p6.queryExecution.optimizedPlan.toString.length
    Cleanup(spark)
    info(s"optimized plan chars: iters=2 -> $s2, iters=6 -> $s6")
    s6 should be <= (s2 * 3 / 2)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB a fact-fact join whose build side carries a selective
    // filter should not scan-and-shuffle the whole probe side: Spark's
    // runtime bloom filter (InjectRuntimeFilter) plants
    // bloom_filter_might_contain on the probe scan. Pin that our plans
    // stay eligible — the declared queries rely on it once dimension
    // tables outgrow the broadcast threshold.
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCreation =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prevApp = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevEnabled =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production defaults target 10 GB probe scans — shrink both size
      // gates so the sf0.01 fixture exercises the same injection rule
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val sf01 = "/root/testdata/sf0.01"
      val sel = Tables.orders(spark, sf01)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      val joined = Tables.lineitem(spark, sf01)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val opt = joined.queryExecution.optimizedPlan.toString
      withClue(s"optimized plan:\n$opt") {
        opt should include("might_contain")
        opt should include("bloom_filter_agg")
      }
      joined.count() should be > 0L
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        prevCreation)
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        prevApp)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
      Cleanup(spark)
    }
  }
}
