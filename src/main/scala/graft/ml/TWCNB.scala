package graft.ml

import graft.operators.{Block, Graph}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Transformed-Weight Complement Naive Bayes (book Alg. 8.2), re-expressing
  * the reference's `twcnbTrain` (mahout-samsara-book:
  * myMahoutApp/src/main/scala/myMahoutApp/TWCNB.scala:28-148).
  *
  * The chain is: per-class aggregate → complement counts → smoothed
  * log-likelihood → per-class L1 weight normalization.
  *
  *   1. per-(label, term) counts: plain hash aggregate (the honest form of
  *      the "transpose trick", TWCNB.scala:48-50 — group-by also fixes the
  *      empty-row pathology noted at TWCNBSuite.scala:76-87);
  *   2. complement Ñ_tc = Σ_c' N_tc' − N_tc (TWCNB.scala:109-113) on the
  *      (label, term) grid;
  *   3. θ_tc = ln((Ñ_tc + α) / Σ_t(Ñ_tc + α)) (TWCNB.scala:117-129);
  *   4. w_tc = θ_tc / Σ_t |θ_tc| (TWCNB.scala:134-147).
  *
  * Step 1 runs distributed and ends in an eager checkpoint of the
  * (label, term, n) table. Steps 2–4 then take one of two arms.
  *
  * Driver arm, the reference's own shape (the per-class counts
  * allreduced into one in-core block, TWCNB.scala:54-83): while the
  * `n` rows of the checkpoint and the L·V cells of the grid fit
  * `graft.graph.broadcastStateBytes` together (n·[[bytesPerRow]] +
  * L·V·[[bytesPerCell]]), one collect of the checkpoint brings the counts
  * to the driver, which runs steps 2–4 on dense arrays with the same IEEE
  * operations as the plan below and returns the model as one
  * localCheckpoint in (label, term) order, with its row count. The row
  * count is an Observation on the checkpoint, so the size test runs no
  * job. Sums run in ascending key order; with integer counts (or the
  * quantized tf-idf weights) and an integer α they are exact, and only
  * the L1 norm's order can move `w` by an ulp against the plan.
  *
  * Over the budget — or for an empty input, null or non-string keys,
  * sums neither `Long` nor `Double`, or weights the plan gives no
  * finite value (a zero norm, a non-positive ratio) — steps 2–4 are ONE
  * Catalyst plan over the same checkpoint with zero driver round-trips,
  * so those cases keep the plan's own results. Its only wide exchanges key
  * on (label, term) and label: the two per-label normalizers (smoothing
  * denominator, L1 weight norm) are per-label SCALARS, so they run as
  * `groupBy(label)` aggregates (partial+final, parallel across the
  * vocabulary) joined back as an L-row broadcast — NOT as
  * `Window.partitionBy(label)` sums, which would funnel each class's
  * entire vocabulary slice through a single task.
  */
object TWCNB {

  /** Driver bytes per collected (label, term, n) row, rounded up: the
    * `Row` with its two strings and boxed count, and the collect's
    * serialized copy. */
  private val bytesPerRow = 256L

  /** Driver bytes per (label, term) cell of the dense grid: the count,
    * the weight, the weight's copy in its output slice and that slice's
    * serialized task. */
  private val bytesPerCell = 32L

  /** Train from token occurrences `(label, term)` — one row per token.
    * Returns `(label, term, w)`. */
  def train(tokens: DataFrame, alpha: Double = 1.0): DataFrame =
    trainWeighted(
      tokens.select(col("label"), col("term"), lit(1L).as("f")), alpha)

  /** Train from weighted rows `(label, term, f)` — the reference's actual
    * input is the TF-IDF matrix (`twcnbTrain(drmTfIdf)`, TWCNB.scala:28-32),
    * i.e. f = tfidf(doc, term), one row per (doc, term). Raw-count
    * training is the f = 1 special case ([[train]]). For cross-engine
    * exactness feed integer-quantized weights (see q_twcnb_tfidf) — the
    * class-count sums are then bit-exact in any summation order. */
  def trainWeighted(weighted: DataFrame, alpha: Double = 1.0): DataFrame =
    fit(weighted, alpha)._1

  /** [[trainWeighted]], with the model's row count when the driver arm
    * built it (and so knows it); None on the plan arm, whose model is
    * still lazy. */
  private[graft] def fit(weighted: DataFrame,
      alpha: Double): (DataFrame, Option[Long]) = {
    // ntc is the corpus boundary: everything upstream of `weighted` is
    // corpus-sized, everything from here on is model-sized (|V|·L). The
    // plan arm reads ntc at 4 plan positions (both grid distincts, tot,
    // the comp join) that Catalyst does not dedupe, and the driver arm
    // collects it — so ntc is materialized HERE: the corpus-sized
    // tokenize/aggregate chain runs exactly once, into |V|·L-row stored
    // blocks. Materializing `weighted` instead would store a
    // corpus-sized table (measured 2-4× slower at bench scale). An EAGER
    // localCheckpoint (not .persist) keeps the downstream plan on a
    // plain LogicalRDD, off the InMemoryRelation path's columnar
    // cache-build and per-consumer re-optimization (q_twcnb_model
    // 1.0→4.5 s at sf0.1 under .persist). Lifecycle: the checkpoint
    // blocks live until the caller/harness frees them (the Verify/Bench
    // harness runs [[graft.Cleanup]] after each query's terminal action).
    val obs = Observation()
    val ntc = weighted.groupBy("label", "term").agg(sum("f").as("n"))
      .observe(obs, count(lit(1)).as("rows"))
      .localCheckpoint()
    val rows = obs.get("rows").asInstanceOf[Long]
    driverArm(ntc, rows, alpha) match {
      case Some((m, cells)) => (m, Some(cells))
      case None => (planArm(ntc, alpha), None)
    }
  }

  /** Steps 2–4 as one plan over the checkpointed (label, term, n). */
  private def planArm(ntc: DataFrame, alpha: Double): DataFrame = {
    val grid = ntc.select("label").distinct()
      .crossJoin(ntc.select("term").distinct())
    val tot = ntc.groupBy("term").agg(sum("n").as("tot"))
    val comp = grid
      .join(ntc, Seq("label", "term"), "left")
      .join(tot, "term")
      .select(col("label"), col("term"),
        (col("tot") - coalesce(col("n"), lit(0L))).as("nc"))
    // θ_tc = ln((nc+α) / Σ_t(nc+α)): the denominator is one scalar per
    // label — aggregate in parallel, join back broadcast (L rows)
    val denom = comp.groupBy("label").agg(sum(col("nc") + alpha).as("den"))
    val theta = comp.join(broadcast(denom), "label")
      .select(col("label"), col("term"),
        log((col("nc") + alpha) / col("den")).as("theta"))
    // w_tc = θ_tc / Σ_t|θ_tc|: same shape, one L1 scalar per label
    val norm = theta.groupBy("label").agg(sum(abs(col("theta"))).as("nrm"))
    theta.join(broadcast(norm), "label")
      .select(col("label"), col("term"), (col("theta") / col("nrm")).as("w"))
  }

  /** Steps 2–4 on the driver: the model and its L·V rows, or None when
    * the plan arm must run (see the object doc). Each op repeats the
    * plan's: `nc = tot − n` in the sum's own type, `nc + α` and the ratio
    * in doubles, `log` as Spark's `StrictMath.log`. */
  private def driverArm(ntc: DataFrame, rows: Long,
      alpha: Double): Option[(DataFrame, Long)] = {
    val s = ntc.sparkSession
    val budget = Graph.stateBudget(s)
    val f = ntc.schema
    val longs = f("n").dataType == LongType
    val typed = f("label").dataType == StringType &&
      f("term").dataType == StringType && (longs || f("n").dataType == DoubleType)
    if (!typed || rows == 0 || rows > budget / bytesPerRow) None
    else {
      val got = ntc.collect()
      if (got.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else {
        val labels = sortedDistinct(got.map(_.getString(0)))
        val terms = sortedDistinct(got.map(_.getString(1)))
        val nl = labels.length
        val nv = terms.length
        val cells = nl.toLong * nv
        if (cells > Int.MaxValue ||
            cells > (budget - rows * bytesPerRow) / bytesPerCell) None
        else weights(got, labels, terms, longs, alpha).map { w =>
          val schema = StructType(Seq(f("label"), f("term"),
            StructField("w", DoubleType)))
          // 48 B a model row, the figure q_nb_score's broadcast test uses
          val frame = Block.driverFrame(s, schema, cells.toInt, 48L) { (a, b) =>
            (a, labels.slice(a / nv, (b - 1) / nv + 1), terms,
              java.util.Arrays.copyOfRange(w, a, b))
          } { case (a, ls, ts, ws) =>
            val l0 = a / ts.length
            ws.indices.iterator.map { i =>
              val c = a + i
              Row(ls(c / ts.length - l0), ts(c % ts.length), ws(i))
            }
          }
          (frame, cells)
        }
      }
    }
  }

  /** The L·V weights, label-major in key order, from the collected
    * (label, term, n) rows; None when some weight has no finite value. */
  private def weights(got: Array[Row], labels: Array[String],
      terms: Array[String], longs: Boolean,
      alpha: Double): Option[Array[Double]] = {
    val nl = labels.length
    val nv = terms.length
    val li = labels.zipWithIndex.toMap
    val ti = terms.zipWithIndex.toMap
    // nc per cell in doubles, computed in the sum's own type: absent
    // pairs count 0 (the plan's coalesce), tot sums labels in order
    val nc = new Array[Double](nl * nv)
    if (longs) {
      val n = new Array[Long](nl * nv)
      got.foreach(r => n(li(r.getString(0)) * nv + ti(r.getString(1))) = r.getLong(2))
      val tot = new Array[Long](nv)
      for (l <- 0 until nl; t <- 0 until nv) tot(t) += n(l * nv + t)
      for (l <- 0 until nl; t <- 0 until nv)
        nc(l * nv + t) = (tot(t) - n(l * nv + t)).toDouble
    } else {
      val n = new Array[Double](nl * nv)
      got.foreach(r => n(li(r.getString(0)) * nv + ti(r.getString(1))) = r.getDouble(2))
      val tot = new Array[Double](nv)
      for (l <- 0 until nl; t <- 0 until nv) tot(t) += n(l * nv + t)
      for (l <- 0 until nl; t <- 0 until nv) nc(l * nv + t) = tot(t) - n(l * nv + t)
    }
    // nc becomes w in place, one label row at a time
    var finite = true
    for (l <- 0 until nl) {
      val row = l * nv
      var den = 0.0
      for (t <- 0 until nv) den += nc(row + t) + alpha
      var nrm = 0.0
      for (t <- 0 until nv) {
        val ratio = (nc(row + t) + alpha) / den
        // the plan's log is null at a ratio ≤ 0
        if (!(ratio > 0)) finite = false
        val theta = StrictMath.log(ratio)
        nc(row + t) = theta
        nrm += math.abs(theta)
      }
      // the plan's division by zero throws (ANSI mode) or gives null
      if (den == 0 || nrm == 0) finite = false
      for (t <- 0 until nv) nc(row + t) /= nrm
    }
    if (finite) Some(nc) else None
  }

  /** The distinct values of `a` in Spark's string order (UTF-8 bytes,
    * unsigned). */
  private def sortedDistinct(a: Array[String]): Array[String] = {
    val u = a.distinct.map(UTF8String.fromString)
    java.util.Arrays.sort(u.asInstanceOf[Array[Object]])
    u.map(_.toString)
  }

  /** Score documents against a trained model: score(d,c) = Σ_t tf(d,t)·w_tc
    * — the distributed matmul form of classification (reference:
    * `drmTfIdfTest %*% drmTwcnbWtModel`, TWCNBSuite.scala:115).
    * No broadcast hint on `model`: it is |V|·L rows — vocabulary-sized at
    * corpus scale, where a forced broadcast would pin the full term×class
    * table in every executor. A plain equi-join on `term` shuffles both
    * sides by key (the scale plan); the planner still auto-broadcasts
    * whenever the model is actually below the threshold. */
  def score(docTf: DataFrame, model: DataFrame): DataFrame =
    docTf.join(model, "term")
      .groupBy("doc_id", "label")
      .agg(sum(col("tf") * col("w")).as("score"))
}
