package graft.operators

import graft.Memo.checkpointRdds
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a candidate-pair graph — the step that turns
  * pairwise near-dup hits (MinHash/ngram/embedding) into dedup GROUPS:
  * one canonical document per component, everything else dropped.
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC'14 — public). Each iteration rewires the
  * EDGE SET itself toward stars centered on component minima:
  *
  *   large-star: every node connects its strictly-larger neighbors to
  *     the minimum of its closed neighborhood;
  *   small-star: every node connects its not-larger neighbors (and
  *     itself) to that minimum.
  *
  * Both steps preserve connectivity, and the edge set CONTRACTS as it
  * converges — unlike label propagation, whose per-round cost stays
  * proportional to the full input edge set every round. On the dup-heavy
  * synthesized sf1 corpus (edges grown 45× by construction) that
  * difference is the dominant cost of the dedup chain. Convergence is
  * O(log² n) rounds worst-case, 1–3 in practice for near-dup graphs
  * (components are small and min-centered after one pass).
  *
  * Scale shape per iteration: one groupBy(min) + one equi-join per star
  * step, all keyed on node id; the aggregate-side exchange is REUSED by
  * the join (same child subtree → ReusedExchange), so each step costs
  * one shuffle of the current (shrinking) edge set. High-degree hubs
  * (star centers: component-sized degree) ride partial aggregation —
  * there is deliberately no Window.partitionBy(node), which would funnel
  * a million-doc component through one task. A 100 TB corpus never sees
  * a driver-side graph; lineage is cut per round with an eager
  * localCheckpoint exactly like the Bahmani loop.
  *
  * Job discipline: the canonical edge rows are checkpointed once with
  * no `distinct` (duplicate rows are harmless to both finishes), and
  * every count the loop dispatches on — the proper-edge count, the node
  * bound, each round's convergence signature — is an `Observation` on
  * the eager checkpoint it follows, so none of them costs a Spark job.
  * A graph under `smallEdgeBound` skips the star rounds: one union-find
  * pass over every canonical row, self-loops included, labels every
  * node, so a small graph costs two narrow jobs, the canonical
  * checkpoint and the labelled one.
  */
object Dedup {

  /** Frees the blocks of the checkpoints a loop made, taken straight out
    * of their plans ([[graft.Memo.checkpointRdds]]) — THESE blocks and only
    * these. (The previous registry-diff around the checkpoint call could
    * claim a concurrent caller's persist that landed in the diff window —
    * advisor finding, round 3.) */
  private def freeBlocks(rdds: Seq[RDD[_]]): Unit =
    rdds.foreach(_.unpersist(blocking = false))

  /** `edges`: (a, b) undirected candidate pairs (any orientation, dups
    * fine). Returns (node, comp) with comp = min node id of the
    * component. Nodes absent from `edges` are their own components —
    * callers union isolated nodes back if needed. Safe to run
    * concurrently with other work on the SparkContext: the loop frees
    * exactly the checkpoint blocks it created (handles extracted from
    * each round's plan), never other callers' persisted data. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      smallEdgeBound: Long = 4L * 1000 * 1000): DataFrame =
    connectedComponentsBound(edges, maxIter, smallEdgeBound)._1

  /** [[connectedComponents]] plus a NODE-COUNT UPPER BOUND (2 × the
    * canonical row count — each row contributes at most two distinct
    * nodes; duplicate rows only loosen it), read off the observation on
    * the loop's first checkpoint at zero extra jobs. Callers size
    * broadcast dispatches with it ([[Dedup.resolve]]'s verdict join — a
    * `cc.count()` there would be an extra Spark action per invocation);
    * overestimating only makes the dispatch switch to the plain join
    * earlier, the safe direction. */
  private[graft] def connectedComponentsBound(edges: DataFrame,
      maxIter: Int = 20,
      smallEdgeBound: Long = 4L * 1000 * 1000): (DataFrame, Long) = {
    // Convergence signature: per-node minima are non-increasing across
    // star rounds and strictly decrease until the fixpoint (SoCC'14 §3),
    // so the iteration never cycles and the fixpoint is exactly
    // edge-set STABILITY (the canonical star set reproduces itself).
    // Detect it with a (count, Σhash, XORhash) observation of the proper
    // (u ≠ v) rows, taken on the round's eager checkpoint — the
    // checkpoint is the action, so the signature costs no job. A false
    // convergence needs a simultaneous 64-bit sum AND xor collision
    // between distinct canonical edge sets — immaterial (and bounded by
    // maxIter regardless).
    def sigCols(proper: Column): Seq[Column] = {
      val hash = when(proper, xxhash64(col("u"), col("v")))
      Seq(count(hash).as("n"),
        // decimal sum: a long sum of 64-bit hashes overflows under ANSI
        coalesce(sum(hash.cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("sum"),
        coalesce(bit_xor(hash), lit(0L)).as("xor"))
    }
    def sigOf(m: Map[String, Any]): (Long, BigDecimal, Long) =
      (m("n").asInstanceOf[Long],
        BigDecimal(m("sum").asInstanceOf[java.math.BigDecimal]),
        m("xor").asInstanceOf[Long])

    // canonicalize ONCE — (hi, lo) with hi ≥ lo. Self-loops stay as
    // (v, v) rows so their nodes still label themselves, and duplicate
    // rows stay too: union-find ignores them, and the star rounds fold
    // them in their aggregates and final distinct. The eager checkpoint
    // materializes the upstream candidate-pair pipeline exactly once;
    // everything below derives from these blocks. Its observation
    // yields the proper-edge signature (the loop's dispatch count and
    // first comparison point) and the row count behind the node bound.
    val e0Obs = Observation()
    val e0 = edges
      .select(greatest(col("a").cast("long"), col("b").cast("long")).as("u"),
        least(col("a").cast("long"), col("b").cast("long")).as("v"))
      .observe(e0Obs, count(lit(1)).as("rows"),
        sigCols(col("u") =!= col("v")): _*)
      .localCheckpoint(true)
    val e0Blocks = checkpointRdds(e0)
    val m0 = e0Obs.get
    val nodeBound = 2L * m0("rows").asInstanceOf[Long]

    // both orientations of the proper (hi > lo) edges
    def symAll(e: DataFrame): DataFrame =
      e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))

    // closed-neighborhood minimum per node — the label view of an edge
    // set (used once, for the final label readout).
    def minN(e: DataFrame): DataFrame =
      symAll(e).groupBy("u").agg(least(col("u"), min("v")).as("m"))

    // Executor-side union-find over one partition: every (u, v) row in,
    // one (node, root) row out per node seen. Union-by-min-root keeps
    // every tree rooted at its component minimum, so find(k) IS the
    // canonical label. The input is always a checkpoint, so the narrow
    // coalesce(1) reads its blocks in one task without a shuffle.
    def unionFind(e: DataFrame): DataFrame = {
      val spark = e.sparkSession
      import spark.implicits._
      e.select(col("u"), col("v")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val n = parent(c); parent(c) = r; c = n
            }
            r
          }
          while (it.hasNext) {
            val (a, b) = it.next()
            parent.getOrElseUpdate(a, a)
            parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) {
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
          parent.keys.toArray.iterator.map(k => (k, find(k)))
        }
        .toDF("node", "m")
    }

    // Hybrid finish (round 8): star rounds CONTRACT the edge set, and a
    // thresholded near-dup pair graph is usually far smaller than the
    // corpus to begin with — at bench scale a few HUNDRED edges were
    // paying 5+ scheduler rounds of 32-partition shuffle jobs, which
    // profiled as ~60% of every CC-consuming query. Once the current
    // edge set fits one task comfortably, finish it with the union-find
    // above: ONE narrow job, still no driver-side graph (mapPartitions,
    // not collect — the (d) escape hatch, earned here because the
    // remaining work is sub-partition-sized). Big graphs keep the star
    // loop until they contract under the bound; the bound (4M edges ≈
    // 64 MB in one task) is far under an executor partition budget;
    // tests force the star loop with smallEdgeBound = 0.
    // proper edges read NARROW off the e0 checkpoint blocks — no second
    // checkpoint needed before the first contraction round
    var e = e0.filter(col("u") =!= col("v"))
    var eBlocks: Seq[RDD[_]] = Nil
    var prevSig = sigOf(m0)
    var cnt = prevSig._1
    var iter = 0
    var converged = cnt == 0L // no proper edges: nothing to contract
    while (!converged && cnt > smallEdgeBound && iter < maxIter) {
      // large-star: (v, m) for every neighbor v > u. The groupBy and
      // the join shuffle the same symAll(e) subtree on u — one
      // exchange, reused. Result stays canonical: v > u ≥ m. No
      // distinct here: duplicate emissions fold in minS's partial
      // aggregation and the final distinct — an intermediate dedup
      // would cost a full extra exchange per round for nothing.
      val ls = symAll(e)
        .join(symAll(e).groupBy("u").agg(least(col("u"), min("v")).as("m")),
          "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over canonical (hi, lo): every lo-side neighbor
      // (and hi itself) connects to the per-hi minimum. The (u, m)
      // emission rides the same explode (duplicates fold in the
      // distinct), so minS is consumed once.
      val minS = ls.groupBy("u").agg(min("v").as("m"))
      val ssObs = Observation()
      val ssSig = sigCols(lit(true))
      val ss = ls.join(minS, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .observe(ssObs, ssSig.head, ssSig.tail: _*)
        .localCheckpoint(true)
      freeBlocks(eBlocks)
      e = ss
      eBlocks = checkpointRdds(ss)
      val curSig = sigOf(ssObs.get)
      converged = curSig == prevSig
      prevSig = curSig
      cnt = curSig._1
      iter += 1
    }
    val labels =
      if (iter == 0 && cnt <= smallEdgeBound) {
        // small graph, loop never ran: union-find over EVERY canonical
        // row, self-loops included, labels every node on its own
        unionFind(e0).withColumnRenamed("m", "comp")
      } else {
        // star fixpoint (or maxIter bailout): labels are the
        // closed-neighborhood minima of the final star set; a star set
        // contracted under the bound finishes with union-find. Either
        // way only nodes of proper edges are labelled, so union the
        // self-loop-only nodes back as their own components.
        val rawLabels =
          if (converged || cnt > smallEdgeBound)
            minN(e).withColumnRenamed("u", "node")
          else unionFind(e)
        e0.select(explode(array(col("u"), col("v"))).as("node"))
          .distinct()
          .join(rawLabels, Seq("node"), "left")
          .select(col("node"), coalesce(col("m"), col("node")).as("comp"))
      }
    val labelsCk = labels.localCheckpoint(true)
    freeBlocks(eBlocks)
    freeBlocks(e0Blocks)
    (labelsCk, nodeBound)
  }

  /** Reference implementation: iterative min-label propagation with
    * pointer jumping (comp ← comp(comp) collapses chains exponentially —
    * O(log diameter) rounds). Kept as the differential baseline for
    * [[connectedComponents]]: same contract, independently derived
    * fixpoint. Per-round cost is proportional to the FULL edge set,
    * which is why the star contraction replaced it as the production
    * path. */
  private[graft] def connectedComponentsProp(edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // symmetrize in ONE pass over `edges` (explode both orientations —
    // a unionAll of two selects would evaluate the candidate-pair
    // pipeline upstream twice); self-loops drop out of the propagation
    val sym = edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val symBlocks = checkpointRdds(sym)

    // Seed comp = min(node, min neighbor): one aggregate over sym does
    // the work of a whole propagation round for free — near-dup
    // components are tiny, so most converge in the seed itself.
    // localCheckpoint (not persist) per round: persist caches data but
    // keeps the logical plan growing each round — after ~10 iterations
    // the nested join plan OOMs the driver just stringifying itself.
    var labels = sym.groupBy("src")
      .agg(least(col("src"), min("dst")).as("comp"))
      .withColumnRenamed("src", "node")
      .localCheckpoint(true)
    var prevBlocks = checkpointRdds(labels)
    var converged = false
    var iter = 0
    // labels only ever decrease, so Σcomp strictly decreases until the
    // fixpoint — a one-aggregate convergence probe instead of a
    // join+diff per round. coalesce(…, 0): sum over ZERO rows is null
    // (empty edge set — a corpus with no candidate pairs is legal).
    def compSum(df: DataFrame): Long =
      df.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
    var prevSum = compSum(labels)
    while (!converged && iter < maxIter) {
      // neighbor minimum: comp of dst pulled to src
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("comp").as("ncomp"))
      val prop = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")))
            .as("comp"))
      // pointer jumping: comp <- comp(comp) (comp ids are node ids, so
      // the lookup is a self-join; labels only ever decrease)
      val next = prop
        .join(prop.select(col("node").as("comp"),
          col("comp").as("jump")), Seq("comp"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jump"), col("comp")))
            .as("comp"))
        .localCheckpoint(true)
      val nextBlocks = checkpointRdds(next)
      val curSum = compSum(next)
      freeBlocks(prevBlocks)
      prevBlocks = nextBlocks
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    freeBlocks(symBlocks)
    labels
  }

  /** Full dedup resolution: candidate pairs → components → per-document
    * verdict (keep = the component's minimum doc id). Documents with no
    * near-dup edge keep themselves. */
  def resolve(docIds: DataFrame, candidatePairs: DataFrame): DataFrame = {
    val (cc, nodeBound) = connectedComponentsBound(candidatePairs)
    // cc is a checkpointed node-width frame (one row per doc inside some
    // near-dup component — a stat-less LogicalRDD leaf), so the verdict
    // join otherwise plans a sort-merge join that shuffles AND sorts
    // both doc-width sides (r15 before-plan, q_dedup_pipeline). Size the
    // graph family's broadcast dispatch with the node bound the CC loop
    // already observed on its first checkpoint (round-15 verdict #4: the
    // previous cc.count() here was an extra Spark action per
    // invocation): hash join under the budget, the plain join beyond —
    // at a scale where the component table outgrows broadcast the right
    // deployment co-partitions on doc_id anyway.
    val ccRenamed = cc.withColumnRenamed("node", "doc_id")
    docIds.select(col("doc_id"))
      .join(Graph.stateHint(ccRenamed, nodeBound), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("keep_id"))
      .withColumn("is_canonical", col("doc_id") === col("keep_id"))
  }
}
