package graft.ml

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared queries for the statistics / solver layer (SURVEY.md §2.5).
  *
  * Shared quantized design: y = extendedprice cents, x1 = quantity,
  * x2 = discount cents — all integer-valued, so Gram/Xᵀy are bit-exact in
  * both engines; the solves (LU vs DuckDB Cramer) agree to ≪1e-4 and
  * β is rounded to 4 decimals (SURVEY.md §7.4 risk note).
  */
object MlQueries {

  private val x1 = "CAST(l_quantity AS BIGINT)"
  private val x2 = "CAST(ROUND(l_discount*100) AS BIGINT)"
  private val y = "CAST(ROUND(l_extendedprice*100) AS BIGINT)"

  /** The shared normal-equation sums over lineitem ([[Ridge.sums]]),
    * memoized per (session, dir): q_ridge_beta (λ=10) and q_beta_tstats
    * (λ=0) run the IDENTICAL aggregate — λ only enters the driver-side
    * solve — so the second consumer reads the 11-column driver row
    * instead of re-scanning the fact table (round-15). */
  private def ridgeSums(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Row =
    graft.Memo(s, s"ml.ridgeSums:$d", d) {
      Ridge.sums(Tables.lineitem(s, d),
        Seq(col("l_quantity"), round(col("l_discount") * 100)),
        round(col("l_extendedprice") * 100))
    }

  /** Gram/Xᵀy sums + Cramer solve of the 3×3 normal equations in pure SQL;
    * `lambdaTerm` adds the ridge diagonal. */
  private def normalEqSql(lambda: Int): String =
    s"""s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM($x1) AS DOUBLE) AS s1, CAST(SUM($x2) AS DOUBLE) AS s2,
       |  CAST(SUM($x1*$x1) AS DOUBLE) AS s11, CAST(SUM($x1*$x2) AS DOUBLE) AS s12,
       |  CAST(SUM($x2*$x2) AS DOUBLE) AS s22,
       |  CAST(SUM($y) AS DOUBLE) AS b0, CAST(SUM($x1*$y) AS DOUBLE) AS b1,
       |  CAST(SUM($x2*$y) AS DOUBLE) AS b2
       |  FROM lineitem),
       |g AS (SELECT n+$lambda AS a11, s1 AS a12, s2 AS a13, s11+$lambda AS a22,
       |  s12 AS a23, s22+$lambda AS a33, b0, b1, b2, n FROM s),
       |det AS (SELECT *, a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
       |  + a13*(a12*a23-a22*a13) AS dd FROM g),
       |beta AS (SELECT *,
       |  (b0*(a22*a33-a23*a23) - a12*(b1*a33-a23*b2) + a13*(b1*a23-a22*b2))/dd AS beta0,
       |  (a11*(b1*a33-a23*b2) - b0*(a12*a33-a23*a13) + a13*(a12*b2-b1*a13))/dd AS beta1,
       |  (a11*(a22*b2-a23*b1) - a12*(a12*b2-b1*a13) + b0*(a12*a23-a22*a13))/dd AS beta2
       |  FROM det)""".stripMargin

  /** T1: ridge β via distributed normal equations + driver solve
    * (the §7.2 flagship; reference dridge, LinearRegression.scala:17-34). */
  private val qRidgeBeta = Q("q_ridge_beta",
    s"""WITH ${normalEqSql(10)}
       |SELECT CAST(0 AS BIGINT) AS j, ROUND(beta0/100.0, 4) + 0.0 AS beta FROM beta
       |UNION ALL SELECT 1, ROUND(beta1/100.0, 4) + 0.0 FROM beta
       |UNION ALL SELECT 2, ROUND(beta2/100.0, 4) + 0.0 FROM beta
       |ORDER BY j""".stripMargin) { (s, d) =>
    val fit = Ridge.fitFromSums(ridgeSums(s, d), k = 3, lambda = 10)
    Ridge.betaFrame(s, fit, scale = 100.0)
  }

  /** T2/T3: SSR with a fixed integer β — residuals stay integer, so the
    * sum is bit-exact (reference ssr, LinearRegression.scala:37-47). */
  private val qSsr = Q("q_ssr",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM((CAST(ROUND(l_extendedprice) AS BIGINT)
      |    - (1000 + 300*CAST(l_quantity AS BIGINT)
      |       - 100*CAST(ROUND(l_discount*100) AS BIGINT)))
      |   * (CAST(ROUND(l_extendedprice) AS BIGINT)
      |    - (1000 + 300*CAST(l_quantity AS BIGINT)
      |       - 100*CAST(ROUND(l_discount*100) AS BIGINT)))) AS BIGINT) AS ssr
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      val r = round(col("l_extendedprice")).cast("long") -
        (lit(1000L) + lit(300L) * col("l_quantity").cast("long") -
          lit(100L) * round(col("l_discount") * 100).cast("long"))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(r * r).as("ssr"))
        .orderBy("l_returnflag")
  }

  /** T4: coefficient standard errors and t-statistics via the Gram inverse
    * diagonal (reference testBeta, LinearRegression.scala:59-97; p-values
    * stay driver-side per SURVEY §2.5). OLS (λ=0). */
  private val qBetaTstats = Q("q_beta_tstats",
    s"""WITH ${normalEqSql(0)},
       |ssr AS (SELECT b.*, (SELECT SUM(POWER($y - (b.beta0 + b.beta1*$x1 + b.beta2*$x2), 2))
       |                     FROM lineitem) AS rss FROM beta b),
       |st AS (SELECT *, rss/(n-3) AS sig2,
       |  (a22*a33-a23*a23)/dd AS inv00, (a11*a33-a13*a13)/dd AS inv11,
       |  (a11*a22-a12*a12)/dd AS inv22 FROM ssr)
       |SELECT CAST(0 AS BIGINT) AS j, ROUND(beta0/100.0, 4) + 0.0 AS beta,
       |  ROUND(SQRT(sig2*inv00)/100.0, 4) AS se,
       |  ROUND(beta0/SQRT(sig2*inv00), 4) + 0.0 AS t FROM st
       |UNION ALL SELECT 1, ROUND(beta1/100.0, 4) + 0.0, ROUND(SQRT(sig2*inv11)/100.0, 4),
       |  ROUND(beta1/SQRT(sig2*inv11), 4) + 0.0 FROM st
       |UNION ALL SELECT 2, ROUND(beta2/100.0, 4) + 0.0, ROUND(SQRT(sig2*inv22)/100.0, 4),
       |  ROUND(beta2/SQRT(sig2*inv22), 4) + 0.0 FROM st
       |ORDER BY j""".stripMargin) { (s, d) =>
    val fit = Ridge.fitFromSums(ridgeSums(s, d), k = 3, lambda = 0)
    val se = fit.se
    val t = fit.tStats
    val rows = (0 until 3).map { j =>
      (j.toLong, Ridge.round4(fit.beta(j) / 100.0),
        Ridge.round4(se(j) / 100.0), Ridge.round4(t(j)))
    }
    s.createDataFrame(rows).toDF("j", "beta", "se", "t").orderBy("j")
  }

  /** T7: nearest-center assignment, brute-force oracle form (reference
    * Elkan-pruned assignment, BahmaniSketch.scala:112-150). Points are
    * grouped on the discrete feature grid first, so the cross join is
    * |grid|×k, not n×k — the same trick that keeps this cheap at scale. */
  private val qAssignCenters = Q("q_assign_centers",
    """WITH pts AS (SELECT l_quantity AS x1,
      |    CAST(ROUND(l_discount*100) AS BIGINT) AS x2,
      |    CAST(ROUND(l_tax*100) AS BIGINT) AS x3, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2, 3),
      |c AS (SELECT l_returnflag AS rf, AVG(l_quantity) AS c1,
      |    AVG(CAST(ROUND(l_discount*100) AS BIGINT)) AS c2,
      |    AVG(CAST(ROUND(l_tax*100) AS BIGINT)) AS c3
      |  FROM lineitem GROUP BY 1),
      |d AS (SELECT pts.*, c.rf,
      |    row_number() OVER (PARTITION BY x1, x2, x3 ORDER BY
      |      POWER(x1-c1,2)+POWER(x2-c2,2)+POWER(x3-c3,2), rf) AS rn
      |  FROM pts CROSS JOIN c)
      |SELECT rf AS center, CAST(SUM(n) AS BIGINT) AS n_points
      |FROM d WHERE rn = 1 GROUP BY rf ORDER BY center""".stripMargin) {
    (s, d) =>
      val li = Tables.lineitem(s, d)
      val pts = li.groupBy(col("l_quantity").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_tax") * 100).cast("long").as("x3"))
        .agg(count(lit(1)).as("n"))
      val c = li.groupBy(col("l_returnflag").as("rf"))
        .agg(avg("l_quantity").as("c1"),
          avg(round(col("l_discount") * 100).cast("long")).as("c2"),
          avg(round(col("l_tax") * 100).cast("long")).as("c3"))
      val dist = pow(col("x1") - col("c1"), 2) +
        pow(col("x2") - col("c2"), 2) + pow(col("x3") - col("c3"), 2)
      val w = Window.partitionBy("x1", "x2", "x3").orderBy(dist, col("rf"))
      pts.crossJoin(broadcast(c))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("rf").as("center"))
        .agg(sum("n").as("n_points"))
        .orderBy("center")
  }

  /** T10: argmax — per-user event with the max value, deterministic
    * tie-break (reference argmax, NaiveBayesServlet.scala:120-130). */
  private val qArgmax = Q("q_argmax",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY value DESC, event_id) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "value")
      .orderBy("user_id")
  }

  val all: Seq[Q] = Seq(qRidgeBeta, qSsr, qBetaTstats, qAssignCenters,
    qArgmax)
}
