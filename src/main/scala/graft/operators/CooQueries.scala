package graft.operators

import graft.{Q, Tables}
import graft.functions.GramAggregator
import org.apache.spark.sql.functions._
import CooViews._

/** Declared oracle-checkable queries for the COO algebra layer
  * (SURVEY.md §2.2–§2.4). Each exercises a [[Coo]] operator over the
  * deterministic [[CooViews]] matrices so the DuckDB oracle sees identical
  * input.
  */
object CooQueries {

  /** A1: distributed transpose — pure projection, no shuffle. */
  private val qTranspose = Q("q_transpose",
    s"""WITH $matASql
       |SELECT j AS i, i AS j, ROUND(v, 6) AS v FROM matA
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    Coo.transpose(matA(s, d))
      .select(col("i"), col("j"), round(col("v"), 6).as("v"))
      .orderBy("i", "j")
  }

  /** A2: distributed matmul — inner-dim equi-join + hash agg. */
  private val qMatmul = Q("q_matmul",
    s"""WITH $matASql, $matBSql
       |SELECT a.i AS i, b.j AS j, ROUND(SUM(a.v * b.v), 6) AS v
       |FROM matA a JOIN matB b ON a.j = b.i
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin) { (s, d) =>
    // matB ≤ 7×16 cells by construction (modulus keys) — broadcast is
    // scale-safe and keeps the memoized stat-less views off a sort-merge
    Coo.matmul(matA(s, d), broadcast(matB(s, d)))
      .select(col("i"), col("j"), round(col("v"), 6).as("v"))
      .orderBy("i", "j")
  }

  /** The Gram oracle q_gram and q_udaf_gram share. */
  private val gramOracle =
    s"""WITH $cooXSql
       |SELECT a.j AS i, b.j AS j, ROUND(SUM(a.v * b.v) / 10000.0, 6) AS v
       |FROM cooX a JOIN cooX b ON a.i = b.i
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  /** A3: Gram Xᵀ X (features quantized ×100 → /10⁴). Declared plan is the
    * one-pass [[GramAggregator]] form — one k-wide shuffle independent of
    * row count, the physical shape that survives 100 TB. The n·k² self-join
    * form ([[Coo.gram]]) stays as its differential baseline in
    * CooAlgebraSpec, not in the bench path. */
  private val qGram = Q("q_gram", gramOracle) { (s, d) =>
    s.createDataFrame(gramCells(s, d)).toDF("i", "j", "v").orderBy("i", "j")
  }

  /** One-pass Gram over the cooX design matrix: rows of X are assembled by
    * ONE hash aggregate on the row key (duplicate (orderkey, linenumber)
    * pairs exist in the testdata, and colliding COO cells sum into one
    * matrix row — same semantics as the self-join), then [[GramAggregator]]
    * sums per-row outer products map-side. One k-wide shuffle of |rows|,
    * versus the self-join's |cells|² /|rows| joined pairs — the 100 TB
    * physical form of Xᵀ X. */
  private def gramRows(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(expr("l_orderkey*8 + l_linenumber").as("i"))
      .agg(sum(lit(100.0)).as("f0"),
        sum(expr("ROUND(l_quantity*100)")).as("f1"),
        sum(expr("ROUND(l_discount*100)")).as("f2"),
        sum(expr("ROUND(l_tax*100)")).as("f3"))
      .select(array(col("f0"), col("f1"), col("f2"), col("f3")).as("vec"))

  private def gramOnePass(s: org.apache.spark.sql.SparkSession, d: String)
      : Array[Double] = {
    import s.implicits._
    gramRows(s, d).as[Array[Double]]
      .select(new GramAggregator(4).toColumn.name("g")).head()
  }

  private def toGramCells(g: Seq[Double]) =
    for (p <- 0 until 4; q <- 0 until 4)
      yield (p.toLong, q.toLong,
        BigDecimal(g(p * 4 + q) / 10000.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** The one-pass Gram result (16 doubles), memoized per (session, dir):
    * q_gram and q_diag_reg run the IDENTICAL lineitem pass — q_diag_reg's
    * declared subject is the diagonal-shift operator, not the Gram build
    * (its own comment) — so the second consumer reads the 128-byte
    * driver-side result instead of re-scanning the fact table
    * (round-15; the [[graft.Memo]] discipline applied to a scalar
    * build). q_udaf_gram deliberately keeps its own full run: its
    * declared subject IS the untyped `functions.udaf` execution path. */
  private def gramCells(s: org.apache.spark.sql.SparkSession, d: String) =
    toGramCells(graft.Memo(s, s"coo.gramOnePass:$d", d) { gramOnePass(s, d) })

  /** Test hook: the one-pass Gram cells, for the drift differential
    * against the cooX oracle view (CooAlgebraSpec). */
  private[graft] def gramCellsForTest(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Long, Long, Double)] = gramCells(s, d)

  /** X16: the SAME one-pass Aggregator, exercised through the untyped
    * UDAF registration surface — `functions.udaf` + SQL text — rather
    * than the typed Column API q_gram uses. Same oracle; distinct API
    * path (SQL-callable, as a user of the library would register it). */
  private val qUdafGram = Q("q_udaf_gram", gramOracle) { (s, d) =>
    import s.implicits._
    s.udf.register("graft_gram",
      org.apache.spark.sql.functions.udaf(new GramAggregator(4)))
    gramRows(s, d).createOrReplaceTempView("graft_gram_rows")
    val g = s.sql("SELECT graft_gram(vec) AS g FROM graft_gram_rows")
      .head().getSeq[Double](0)
    s.createDataFrame(toGramCells(g)).toDF("i", "j", "v").orderBy("i", "j")
  }

  /** A3 wide-k fallback: [[BlockGram.gramBlocked]] over a ~4096-column
    * term-bucket document matrix — the k beyond [[GramAggregator]]'s
    * documented dense-buffer range, where the tiled path is the declared
    * physical form. The bucket function is engine-portable arithmetic
    * (length/ascii — identical in Spark and DuckDB), cells are 0/1
    * co-occurrence indicators, so every sum is integer-exact. Output is
    * the per-row profile of the Gram (nnz + row total) to keep the
    * oracle compact while every tile of the k×k result is computed. */
  private val qGramBlocked = Q("q_gram_blocked",
    s"""WITH ${graft.functions.TextFns.tokSql},
       |cells AS (SELECT DISTINCT doc_id AS i,
       |    CAST((length(term)*97 + ascii(substr(term,1,1))*31 +
       |          ascii(substr(term, length(term), 1))) % 4096 AS BIGINT) AS j
       |  FROM tokf),
       |g AS (SELECT a.j AS i, b.j AS j, COUNT(*) AS v
       |      FROM cells a JOIN cells b ON a.i = b.i GROUP BY 1, 2)
       |SELECT i, COUNT(*) AS nnz, CAST(SUM(v) AS BIGINT) AS tot
       |FROM g GROUP BY i ORDER BY i""".stripMargin) { (s, d) =>
    val cells = graft.functions.TextFns.tokens(Tables.documents(s, d))
      .select(col("doc_id").as("i"),
        expr("CAST((length(term)*97 + ascii(substring(term,1,1))*31 + " +
          "ascii(substring(term, length(term), 1))) % 4096 AS BIGINT)")
          .as("j"))
      .distinct()
      .withColumn("v", lit(1.0))
    BlockGram.gramBlocked(cells, tile = 512, rowBlock = 1024)
      .groupBy("i")
      .agg(count(lit(1)).as("nnz"), sum(col("v")).cast("long").as("tot"))
      .orderBy("i")
  }

  /** A4: matrix × broadcast vector. */
  private val qMatvec = Q("q_matvec",
    s"""WITH $matASql,
       |vec AS (SELECT j, CAST(j + 1 AS DOUBLE) AS w
       |        FROM (SELECT DISTINCT j FROM matA))
       |SELECT a.i AS i, ROUND(SUM(a.v * vec.w), 6) AS v
       |FROM matA a JOIN vec USING (j)
       |GROUP BY a.i ORDER BY i""".stripMargin) { (s, d) =>
    val a = matA(s, d)
    val vec = a.select("j").distinct()
      .select(col("j"), (col("j") + 1).cast("double").as("w"))
    Coo.matvec(a, vec)
      .select(col("i"), round(col("v"), 6).as("v"))
      .orderBy("i")
  }

  /** A6: scalar cbind — prepend constant bias column. */
  private val qCbindScalar = Q("q_cbind_scalar",
    s"""WITH $matASql
       |SELECT i, CAST(0 AS BIGINT) AS j, CAST(1.0 AS DOUBLE) AS v
       |FROM (SELECT DISTINCT i FROM matA)
       |UNION ALL
       |SELECT i, j + 1 AS j, v FROM matA
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    Coo.cbindScalar(matA(s, d), 1.0).orderBy("i", "j")
  }

  /** A8: rbind — vertical concat with key offset. */
  private val qRbindUnion = Q("q_rbind_union",
    s"""WITH $matASql
       |SELECT i, j, v FROM matA
       |UNION ALL
       |SELECT i + 64 AS i, j, v FROM matA
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    val a = matA(s, d)
    Coo.rbind(a, a, 64).orderBy("i", "j")
  }

  /** A9: colSums. */
  private val qColsums = Q("q_colsums",
    s"""WITH $matASql
       |SELECT j, ROUND(SUM(v), 6) AS v FROM matA GROUP BY j ORDER BY j"""
      .stripMargin) { (s, d) =>
    Coo.colSums(matA(s, d))
      .select(col("j"), round(col("v"), 6).as("v")).orderBy("j")
  }

  /** A10: rowSums. */
  private val qRowsums = Q("q_rowsums",
    s"""WITH $matASql
       |SELECT i, ROUND(SUM(v), 6) AS v FROM matA GROUP BY i ORDER BY i"""
      .stripMargin) { (s, d) =>
    Coo.rowSums(matA(s, d))
      .select(col("i"), round(col("v"), 6).as("v")).orderBy("i")
  }

  /** A11: column-range slice with reindex. */
  private val qSliceCols = Q("q_slice_cols",
    s"""WITH $matASql
       |SELECT i, j - 2 AS j, v FROM matA WHERE j BETWEEN 2 AND 5
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    Coo.sliceCols(matA(s, d), 2, 5).orderBy("i", "j")
  }

  /** A12: elementwise log transform (reference log-scaling,
    * TWCNB.scala:126). */
  private val qEwiseLog = Q("q_ewise_log",
    s"""WITH $matASql
       |SELECT i, j, ROUND(LN(v + 1), 6) AS v FROM matA ORDER BY i, j"""
      .stripMargin) { (s, d) =>
    Coo.ewise(matA(s, d), v => round(log(v + 1), 6)).orderBy("i", "j")
  }

  /** A12: per-column normalization (join broadcast col totals). */
  private val qEwiseNorm = Q("q_ewise_norm",
    s"""WITH $matASql,
       |cs AS (SELECT j, SUM(v) AS tot FROM matA GROUP BY j)
       |SELECT a.i AS i, a.j AS j, ROUND(a.v / cs.tot, 6) AS v
       |FROM matA a JOIN cs USING (j) ORDER BY i, j""".stripMargin) { (s, d) =>
    val a = matA(s, d)
    val cs = Coo.colSums(a).withColumnRenamed("v", "tot")
    a.join(broadcast(cs), "j")
      .select(col("i"), col("j"), round(col("v") / col("tot"), 6).as("v"))
      .orderBy("i", "j")
  }

  /** A13: dabs + colSums over a signed matrix. */
  private val qAbsColsums = Q("q_abs_colsums",
    s"""WITH $matSSql
       |SELECT j, ROUND(SUM(ABS(v)), 6) AS v FROM matS GROUP BY j ORDER BY j"""
      .stripMargin) { (s, d) =>
    Coo.colSums(Coo.ewise(matS(s, d), abs))
      .select(col("j"), round(col("v"), 6).as("v")).orderBy("j")
  }

  /** A15: Frobenius norm. */
  private val qFroNorm = Q("q_fro_norm",
    s"""WITH $matASql
       |SELECT ROUND(SQRT(SUM(v * v)), 6) AS fro FROM matA""".stripMargin) {
    (s, d) =>
      Coo.froNorm(matA(s, d)).select(round(col("fro"), 6).as("fro"))
  }

  /** A16: pairwise squared Euclidean distances between class centers. */
  private val qPairwiseDist = Q("q_pairwise_dist",
    """WITH c AS (SELECT l_returnflag AS rf, AVG(l_quantity) AS f1,
      |  AVG(CAST(ROUND(l_discount*100) AS BIGINT)) AS f2,
      |  AVG(CAST(ROUND(l_tax*100) AS BIGINT)) AS f3
      |  FROM lineitem GROUP BY 1)
      |SELECT a.rf AS rf_a, b.rf AS rf_b,
      |  ROUND(POWER(a.f1-b.f1, 2) + POWER(a.f2-b.f2, 2) + POWER(a.f3-b.f3, 2), 6) AS dist_sq
      |FROM c a CROSS JOIN c b ORDER BY rf_a, rf_b""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d).groupBy(col("l_returnflag").as("rf"))
      .agg(avg("l_quantity").as("f1"),
        avg(round(col("l_discount") * 100).cast("long")).as("f2"),
        avg(round(col("l_tax") * 100).cast("long")).as("f3"))
    c.as("a").crossJoin(c.as("b"))
      .select(col("a.rf").as("rf_a"), col("b.rf").as("rf_b"),
        round(pow(col("a.f1") - col("b.f1"), 2) +
          pow(col("a.f2") - col("b.f2"), 2) +
          pow(col("a.f3") - col("b.f3"), 2), 6).as("dist_sq"))
      .orderBy("rf_a", "rf_b")
  }

  /** A19: ridge regularizer — add λ to the Gram diagonal. */
  private val qDiagReg = Q("q_diag_reg",
    s"""WITH $cooXSql,
       |g AS (SELECT a.j AS i, b.j AS j, SUM(a.v * b.v) / 10000.0 AS v
       |      FROM cooX a JOIN cooX b ON a.i = b.i GROUP BY 1, 2)
       |SELECT i, j, ROUND(CASE WHEN i = j THEN v + 10 ELSE v END, 6) AS v
       |FROM g ORDER BY i, j""".stripMargin) { (s, d) =>
    // Gram via the one-pass aggregator (bit-identical integer sums; the
    // self-join flavor is already exercised by q_gram) — this query's
    // subject is the diagonal-shift operator.
    val g = s.createDataFrame(gramCells(s, d)).toDF("i", "j", "v")
    Coo.diagReg(g, 10.0)
      .select(col("i"), col("j"), round(col("v"), 6).as("v"))
      .orderBy("i", "j")
  }

  /** B1/B3: re-key rows via a join with a label table, aggregating equal
    * keys (the honest form of Samsara's key-as-label transpose trick,
    * TWCNB.scala:48-50, TWCNBSuite.scala:66-74). */
  private val qRekeyJoin = Q("q_rekey_join",
    s"""WITH $cooLiSql
       |SELECT o.o_orderpriority AS key, c.j AS j, ROUND(SUM(c.v), 6) AS v
       |FROM cooLi c JOIN orders o ON c.i = o.o_orderkey
       |GROUP BY 1, 2 ORDER BY key, j""".stripMargin) { (s, d) =>
    cooLi(s, d)
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("i") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("key"), col("j"))
      .agg(round(sum("v"), 6).as("v"))
      .orderBy("key", "j")
  }

  /** B1: complement counts — per-column totals minus own value
    * (TWCNB.scala:109-113). */
  private val qComplement = Q("q_complement",
    s"""WITH $matASql,
       |t AS (SELECT j, SUM(v) AS tot FROM matA GROUP BY j)
       |SELECT a.i AS i, a.j AS j, ROUND(t.tot - a.v, 6) AS v
       |FROM matA a JOIN t USING (j) ORDER BY i, j""".stripMargin) { (s, d) =>
    val a = matA(s, d)
    val t = Coo.colSums(a).withColumnRenamed("v", "tot")
    a.join(broadcast(t), "j")
      .select(col("i"), col("j"), round(col("tot") - col("v"), 6).as("v"))
      .orderBy("i", "j")
  }

  /** B1: subtract own scaled row-sum (MyAppSuite.scala:189-194 pattern). */
  private val qEwiseSubRowsum = Q("q_ewise_sub_rowsum",
    s"""WITH $matASql,
       |r AS (SELECT i, SUM(v) AS tot FROM matA GROUP BY i)
       |SELECT a.i AS i, a.j AS j, ROUND(a.v - r.tot / 8.0, 6) + 0.0 AS v
       |FROM matA a JOIN r USING (i) ORDER BY i, j""".stripMargin) { (s, d) =>
    val a = matA(s, d)
    val r = Coo.rowSums(a).withColumnRenamed("v", "tot")
    // r ≤ 64 rows by construction — broadcast, not a stat-less SMJ
    a.join(broadcast(r), "i")
      .select(col("i"), col("j"),
        Q.roundz(col("v") - col("tot") / 8.0, 6).as("v"))
      .orderBy("i", "j")
  }

  /** B2: non-empty row compaction — group-by semantics replace the
    * reference's allreduce row-scan (TWCNB.scala:54-83). */
  private val qNonemptyRows = Q("q_nonempty_rows",
    s"""WITH $matSSql
       |SELECT i, COUNT(*) AS nnz, ROUND(SUM(v), 6) AS row_sum
       |FROM matS WHERE v <> 0 GROUP BY i ORDER BY i""".stripMargin) {
    (s, d) =>
      matS(s, d).filter(col("v") =!= 0)
        .groupBy("i")
        .agg(count(lit(1)).as("nnz"), round(sum("v"), 6).as("row_sum"))
        .orderBy("i")
  }

  /** T8: label histogram with normalized weights
    * (BahmaniSketch.scala:159-174). */
  private val qLabelHistogram = Q("q_label_histogram",
    """SELECT label, COUNT(*) AS n,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) /
      |        (SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings), 6) AS frac
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) {
    (s, d) =>
      // total via broadcast cross join, not an unpartitioned window —
      // same plan shape the 100 TB form needs (the histogram itself is
      // only k rows, but no single-partition WindowExec anywhere)
      val counts = Tables.embeddings(s, d)
        .groupBy("label").agg(count(lit(1)).as("n"))
      val total = Tables.embeddings(s, d)
        .agg(count(lit(1)).cast("double").as("tot"))
      counts.crossJoin(broadcast(total))
        .select(col("label"), col("n"), round(col("n") / col("tot"), 6).as("frac"))
        .orderBy("label")
  }

  /** R1: deterministic k-row sample via integer hash rank (portable
    * replacement for drmSampleKRows, BahmaniSketch.scala:48). */
  private val qSampleK = Q("q_sample_k",
    """SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer
      |  ORDER BY (c_custkey * 2654435761) % 4294967296, c_custkey LIMIT 100)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .orderBy((col("c_custkey") * 2654435761L) % 4294967296L,
        col("c_custkey"))
      .limit(100)
      .orderBy("c_custkey")
  }

  /** R2: weight-proportional sampling via explicit LCG acceptance
    * (portable replacement for the seeded per-partition draws,
    * BahmaniSketch.scala:70-77). */
  private val qWeightedSample = Q("q_weighted_sample",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE ((l_orderkey*8 + l_linenumber) * 1103515245 + 12345) % 2147483648
      |      < l_quantity / 500.0 * 2147483648.0
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(((col("l_orderkey") * 8 + col("l_linenumber")) * 1103515245L +
        12345L) % 2147483648L <
        col("l_quantity") / 500.0 * 2147483648.0)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in the generated data —
      // order by every output column so the row-order hash compare is
      // deterministic at any scale (ties are then full-row duplicates)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** B4: math scalar function coverage (log/abs/sqrt/exp/pow — all
    * codegen'd built-ins, no UDFs). */
  private val qMathScalars = Q("q_math_scalars",
    """SELECT n_nationkey,
      |  ROUND(SQRT(CAST(n_nationkey AS DOUBLE)), 6) AS sqrt_v,
      |  ROUND(EXP(CAST(n_nationkey AS DOUBLE) / 10.0), 6) AS exp_v,
      |  ROUND(LN(CAST(n_nationkey AS DOUBLE) + 1.0), 6) AS log_v,
      |  ROUND(POWER(CAST(n_nationkey AS DOUBLE), 2.0), 6) AS pow_v,
      |  ABS(n_nationkey - 12) AS abs_v
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    Tables.nation(s, d).select(col("n_nationkey"),
      round(sqrt(col("n_nationkey").cast("double")), 6).as("sqrt_v"),
      round(exp(col("n_nationkey").cast("double") / 10.0), 6).as("exp_v"),
      round(log(col("n_nationkey").cast("double") + 1.0), 6).as("log_v"),
      round(pow(col("n_nationkey").cast("double"), 2.0), 6).as("pow_v"),
      abs(col("n_nationkey") - 12).as("abs_v"))
      .orderBy("n_nationkey")
  }

  val all: Seq[Q] = Seq(qTranspose, qMatmul, qGram, qUdafGram, qGramBlocked,
    qMatvec,
    qCbindScalar, qRbindUnion, qColsums, qRowsums, qSliceCols, qEwiseLog,
    qEwiseNorm, qAbsColsums, qFroNorm, qPairwiseDist, qDiagReg, qRekeyJoin,
    qComplement, qEwiseSubRowsum, qNonemptyRows, qLabelHistogram, qSampleK,
    qWeightedSample, qMathScalars)
}
