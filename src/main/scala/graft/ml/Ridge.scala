package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed ridge / OLS via normal equations, re-expressing the
  * reference's `dridge`/`ssr`/`testBeta` (mahout-samsara-book:
  * myMahoutApp/src/main/scala/myMahoutApp/LinearRegression.scala:17-97).
  *
  * The lifecycle mirrors SURVEY.md §3.1: one distributed pass computes the
  * k×k Gram and Xᵀy as exact partial+final aggregates (map-side combine —
  * the only shuffle moves k² doubles per partition, independent of row
  * count, so the pattern holds unchanged at 100 TB); the k×k solve is
  * driver-side, as in the reference (`solve(mxA, b)`,
  * LinearRegression.scala:33), by a partial-pivot LU on plain arrays: at
  * k ≈ 3 the solve takes microseconds, while loading Breeze for it cost a
  * cold JVM about a second.
  *
  * Determinism for the oracle hash-match: features and the target are
  * quantized to integer-valued doubles before the sums, so Gram/Xᵀy are
  * bit-exact in any summation order; only the final solve differs between
  * engines (LU here, Cramer in the DuckDB oracle), absorbed by rounding β
  * to 4 decimals.
  */
object Ridge {

  /** A fit: β, the inverse (XᵀX + λI)⁻¹ as rows, the row count and the
    * SSR. */
  final case class Fit(beta: Array[Double], gramInv: Array[Array[Double]],
      n: Long, ssr: Double) {
    /** σ̂² = SSR/(m−n), reference `regVarEstimate`
      * (LinearRegression.scala:50-57). */
    def sigma2: Double = ssr / (n - beta.length)
    /** SE(βⱼ) = sqrt(σ̂² · (XᵀX)⁻¹ⱼⱼ), reference `testBeta`
      * (LinearRegression.scala:59-97). */
    def se: Array[Double] =
      Array.tabulate(beta.length)(j => math.sqrt(sigma2 * gramInv(j)(j)))
    def tStats: Array[Double] = {
      val s = se
      Array.tabulate(beta.length)(j => beta(j) / s(j))
    }
    /** 2-sided coefficient p-values, reference testBeta
      * (LinearRegression.scala:88-93 — commons-math3 TDistribution there,
      * [[Stat.tTestPValue]] here). df = m − n as in the reference. */
    def pValues: Array[Double] = {
      val df = (n - beta.length).toDouble
      tStats.map(Stat.tTestPValue(_, df))
    }
  }

  /** Fit y ~ [1, features...] with ridge λ. `features` and `target` are
    * column expressions over `df` that must evaluate to integer-valued
    * doubles (quantize upstream) for cross-engine exactness.
    */
  def fit(df: DataFrame, features: Seq[org.apache.spark.sql.Column],
      target: org.apache.spark.sql.Column, lambda: Double): Fit =
    fitFromSums(sums(df, features, target), features.length + 1, lambda)

  /** The distributed half of [[fit]]: the exact Gram/Xᵀy/yᵀy sums row.
    * Split out (round-15) because the sums are λ-INDEPENDENT — the ridge
    * diagonal is added driver-side in [[fitFromSums]] — so q_ridge_beta
    * (λ=10) and q_beta_tstats (λ=0) can share one memoized pass over the
    * fact table instead of each re-running the identical aggregate. */
  def sums(df: DataFrame, features: Seq[org.apache.spark.sql.Column],
      target: org.apache.spark.sql.Column): Row = {
    val k = features.length + 1
    val x = lit(1.0) +: features
    // ONE pass: all Gram + Xᵀy sums plus yᵀy as exact aggregates — SSR
    // then follows algebraically (no second scan of the data):
    //   SSR = ‖y − Xβ‖² = yᵀy − 2βᵀ(Xᵀy) + βᵀ(XᵀX)β.
    // All three terms come from the same exact integer sums, so the fused
    // form agrees with an explicit residual pass to ~1e-11 relative
    // (double rounding on the k² driver-side products only). EVERY sum
    // accumulates in DECIMAL(38,0): per-row products fit a long, but the
    // SUMS are n·(quantized magnitudes)² — Σy² blows past 2⁶³ already at
    // sf0.1, and Σx·y / Σx·x are only ~10× below the same cliff. Decimal
    // sums stay exact (and mergeable) at any row count; conversion to
    // double happens once, driver-side.
    def exactSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(c.cast("long").cast("decimal(38,0)"))
    val aggs =
      (for (p <- 0 until k; q <- p until k)
        yield exactSum(x(p) * x(q)).as(s"g_${p}_$q")) ++
        (for (p <- 0 until k) yield exactSum(x(p) * target).as(s"b_$p")) :+
        exactSum(target * target).as("yy") :+
        count(lit(1)).as("n")
    df.agg(aggs.head, aggs.tail: _*).head()
  }

  /** The driver half of [[fit]]: solve the normal equations from a
    * [[sums]] row on plain arrays, no Spark jobs. */
  def fitFromSums(row: Row, k: Int, lambda: Double): Fit = {
    def dbl(name: String): Double =
      row.getAs[java.math.BigDecimal](name).doubleValue()
    val g = Array.ofDim[Double](k, k)
    for (p <- 0 until k; q <- p until k) {
      val v = dbl(s"g_${p}_$q")
      g(p)(q) = v; g(q)(p) = v
    }
    val b = Array.tabulate(k)(p => dbl(s"b_$p"))
    solve(g, b, dbl("yy"), row.getAs[Long]("n"), lambda)
  }

  /** The ridge fit from the Gram `g` = XᵀX, `b` = Xᵀy and `yy` = yᵀy of
    * `n` rows: (G + λI)β = b by one LU, whose unit-vector solves give the
    * inverse. */
  private[graft] def solve(g: Array[Array[Double]], b: Array[Double],
      yy: Double, n: Long, lambda: Double): Fit = {
    val k = b.length
    val lu = new Lu(Array.tabulate(k, k)((p, q) =>
      if (p == q) g(p)(q) + lambda else g(p)(q)))
    val beta = lu.solve(b)
    val cols = Array.tabulate(k)(j => lu.solve(Array.tabulate(k)(i =>
      if (i == j) 1.0 else 0.0)))
    val gramInv = Array.tabulate(k, k)((i, j) => cols(j)(i))
    def dot(x: Array[Double], y: Array[Double]): Double =
      x.indices.map(i => x(i) * y(i)).sum
    // clamp: the algebraic form is a cancellation of large terms, so a
    // noiseless/collinear fit (true SSR = 0) can land epsilon-negative in
    // double — the residual-pass formulation it replaces was non-negative
    // by construction, and sigma2/se/p-values need that invariant
    val ssr = math.max(0.0,
      yy - 2.0 * dot(beta, b) + dot(beta, g.map(dot(_, beta))))
    Fit(beta, gramInv, n, ssr)
  }

  /** LU with partial pivoting of the square matrix `a` (overwritten):
    * PA = LU, unit-diagonal L below the diagonal and U on and above it. A
    * zero pivot throws, as a singular system has no solution. */
  private final class Lu(a: Array[Array[Double]]) {
    private val k = a.length
    private val perm = Array.range(0, k)
    for (j <- 0 until k) {
      val p = (j until k).maxBy(i => math.abs(a(i)(j)))
      if (a(p)(j) == 0.0)
        throw new ArithmeticException("ridge: singular normal equations")
      val (ra, rp) = (a(j), perm(j))
      a(j) = a(p); a(p) = ra
      perm(j) = perm(p); perm(p) = rp
      for (i <- j + 1 until k) {
        val f = a(i)(j) / a(j)(j)
        a(i)(j) = f
        for (c <- j + 1 until k) a(i)(c) -= f * a(j)(c)
      }
    }

    /** x with Ax = `b`: forward with L over the permuted `b`, back with U. */
    def solve(b: Array[Double]): Array[Double] = {
      val x = perm.map(b)
      for (i <- 0 until k; c <- 0 until i) x(i) -= a(i)(c) * x(c)
      for (i <- k - 1 to 0 by -1) {
        for (c <- i + 1 until k) x(i) -= a(i)(c) * x(c)
        x(i) /= a(i)(i)
      }
      x
    }
  }

  /** β as a (j, beta) DataFrame rounded for the oracle hash-match.
    * `scale` divides β back to natural units after quantization. */
  def betaFrame(s: SparkSession, fit: Fit, scale: Double): DataFrame = {
    val rows = fit.beta.zipWithIndex.map { case (b, j) =>
      (j.toLong, round4(b / scale))
    }
    s.createDataFrame(rows.toIndexedSeq).toDF("j", "beta").orderBy("j")
  }

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
