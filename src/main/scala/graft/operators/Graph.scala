package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (extension
  * family of operators/Dedup.scala's star-contraction CC): PageRank over
  * the customer–supplier transaction graph, the Pregel-shaped join-agg
  * loop every distributed graph engine reduces to on Spark.
  *
  * Determinism discipline: per-iteration rank contributions are
  * integer-quantized (ROUND(pr/outdeg · 10¹²) summed as BIGINT — the
  * q_moments_stats trick) so every iteration's aggregate is order-free
  * and bit-identical in any engine/partitioning; the remaining ops
  * ((1−d)/N offset, d·sum scale) are identical IEEE double arithmetic
  * on exact inputs. The DuckDB oracle unrolls the same five iterations
  * as CTEs.
  *
  * Scale shape (100 TB): the edge list and degree table materialize
  * once (eager localCheckpoint — 5 reuses each). While the driver-held
  * rank state ([[DriverRank.bytesPerNode]] bytes/node) fits the
  * `graft.graph.broadcastStateBytes` budget, the rank loop holds it on
  * the driver as a plain array and each round is ONE job over the edges
  * indexed once into dst-range blocks, each task returning the exact
  * sums of its own range ([[DriverRank]]) —
  * driver state is O(|V|), the size a broadcast join would ship anyway.
  * Beyond the budget each round joins the NODE-width rank and degree
  * frames into the streaming edge scan as plain shuffle joins
  * ([[Graph.stateHint]]) and exchanges ONE map-side-combined aggregate
  * on dst carrying (dst, long) pairs, never adjacency or payload; the
  * right deployment then buckets the edge table by src (exchange-free
  * on src, pinned in ScaleTechniquesSpec) and the loop holds no
  * driver-side state beyond N.
  */
object Graph {

  private val damping = 0.85
  private val iters = 5
  private val supplierOffset = 1000000L

  /** Per-iteration oracle CTE: quantized contributions summed exactly. */
  private def iterSql(i: Int): String =
    s"""p$i AS (SELECT e.dst AS node,
       |  0.15/nn.n + 0.85*(SUM(CAST(ROUND(p.pr/d.outdeg*1000000000000)
       |    AS BIGINT))/1000000000000.0) AS pr
       |  FROM e JOIN p${i - 1} p ON e.src = p.node
       |  JOIN deg d ON d.src = e.src
       |  CROSS JOIN n nn GROUP BY e.dst, nn.n)""".stripMargin

  /** One rank iteration from the materialized edge/degree frames —
    * factored out so ShuffleAuditSpec can plan-assert its exchange
    * budget. The rank loop runs it only over the state budget
    * ([[rankForm]]); within it, [[DriverRank]] does the same arithmetic
    * on a driver-held vector. Rank state and degrees are NODE-width
    * (|V| ≪ |E|), so both ride broadcast hash joins (below the [[stateHint]] budget —
    * beyond it the dispatch plans plain joins) and the edge table streams through
    * un-shuffled and un-sorted in whatever layout it sits — the only
    * exchange is the map-side-combined (dst, long) partial aggregate.
    * This replaces the round-8 sort-merge formulation that pinned e's
    * hash(src)+sorted layout through localCheckpoint under scoped
    * AQE-off: correct in plan terms (1 exchange) but fragile in
    * practice — per-iteration SMJs re-sorted the PR side and timed
    * 7-21 s under full-suite load vs ~2 s for the broadcast form. At a
    * scale where rank state outgrows broadcast (|V| ≥ ~10⁸), the SMJ
    * form over a bucketed edge table is the fallback — the
    * ScaleTechniquesSpec bucketed-table pin covers exactly that layout,
    * and this function still consumes it exchange-free on src. */
  private[graft] def rankIteration(e: DataFrame, deg: DataFrame,
      pr: DataFrame, n: Long): DataFrame =
    e.join(stateHint(pr, n), col("src") === col("node"))
      .join(stateHint(deg, n), "src")
      .select(col("dst"),
        round(col("pr") / col("outdeg") * 1000000000000L).cast("long")
          .as("contrib"))
      .groupBy("dst").agg(sum("contrib").as("sc"))
      .select(col("dst").as("node"),
        (lit(0.15) / n + lit(0.85) * (col("sc") / 1000000000000.0))
          .as("pr"))

  /** Run `f` with AQE disabled, restoring the previous setting after.
    * Why: localCheckpoint records the materialized plan's
    * outputPartitioning/outputOrdering into its LogicalRDD leaf — but
    * under AQE the physical plan is an AdaptiveSparkPlanExec whose
    * pre-execution partitioning is unknown, so the leaf gets
    * UnknownPartitioning and every later join re-shuffles the frame
    * (measured: the probe plan showed 4 exchanges/iteration instead of
    * 1). The broadcast rank loop no longer depends on checkpoint
    * layouts, so production code does not need this; kept for the
    * layout-sensitivity tests (ShuffleAuditSpec), where a deterministic
    * non-adaptive plan is the point. Queries execute sequentially in
    * Bench/Verify/tests, so the scoped session-conf flip cannot race. */
  private[graft] def withAqeOff[T](s: org.apache.spark.sql.SparkSession)(
      f: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(k)
    s.conf.set(k, "false")
    try f finally s.conf.set(k, prev)
  }

  /** Size-dispatched join hint for NODE-width state frames (round-8
    * verdict gap #1): broadcast while the estimated state size fits the
    * budget, plain (shuffle) join beyond it. Every iterative loop here
    * joins per-node state (rank, label, distance, removed-set,
    * adjacency) into the streaming edge scan; at bench scale the state
    * is KBs–MBs and the broadcast hash join is strictly right, but a
    * HARD `broadcast()` hint at |V| ≈ 10⁸⁺ would OOM the driver
    * collecting gigabytes. This dispatch makes the loops choose: the
    * caller passes the frame's known row count (|V|, frontier size, …)
    * and a per-row byte estimate (16 B = key + one numeric payload;
    * adjacency passes edge-proportional figures), and beyond
    * `graft.graph.broadcastStateBytes` (default 1 GiB ≈ the |V| ~ 6·10⁷
    * boundary the loop scaladocs document; Spark's own broadcast cap is
    * 8 GB) the state joins as a plain shuffle join — at that scale the
    * right deployment pre-buckets the edge table on the join key
    * (ScaleTechniquesSpec pins that layout consumes exchange-free), so
    * the un-hinted join is the co-keyed form, not a regression. */
  def stateHint(state: DataFrame, rows: Long,
      bytesPerRow: Long = 16L): DataFrame =
    if (fitsState(state.sparkSession, rows, bytesPerRow)) broadcast(state)
    else state

  /** The size test behind [[stateHint]]: do `rows` state rows of
    * `bytesPerRow` fit `graft.graph.broadcastStateBytes`? */
  private[graft] def fitsState(s: org.apache.spark.sql.SparkSession,
      rows: Long, bytesPerRow: Long = 16L): Boolean = {
    // malformed conf falls back to the default rather than throwing out
    // of plan construction; the size test divides instead of multiplying
    // so extreme row counts cannot overflow into a spurious broadcast
    val budget = s.conf.getOption("graft.graph.broadcastStateBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(1L << 30)
    bytesPerRow <= 0 || rows <= budget / bytesPerRow
  }

  /** Pack a non-negative key pair into ONE 8-byte long (hi·2³² + lo) —
    * the pair-exchange width discipline: a single radix-sortable long
    * drops the shuffled UnsafeRow from 24 to 16 bytes on the graph
    * family's widest exchanges, and (hi < 2³¹ keeps the packed long
    * non-negative) preserves (hi, lo) lexicographic order, which the
    * triangle orientation key relies on. PRECONDITION: 0 ≤ hi < 2³¹,
    * 0 ≤ lo < 2³² — every TPC-H surrogate key and every degree
    * satisfies it by construction, but arbitrary foreign data need
    * not, so the packing GUARDS instead of silently colliding
    * (round-14 advice): the range test is two codegen'd long compares
    * per row — noise next to the shuffle write it feeds — and raises
    * on the first violating row. */
  private[graft] def packPair(hi: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(hi < 0 || hi >= lit(2147483648L) ||
         lo < 0 || lo >= lit(4294967296L),
      raise_error(concat(lit("packPair key outside [0,2^31)x[0,2^32): ("),
        hi.cast("string"), lit(","), lo.cast("string"), lit(")")))
        .cast("long"))
    .otherwise(hi * lit(4294967296L) + lo)

  private[graft] def unpackHi(pk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(pk, 32)
  private[graft] def unpackLo(pk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pk.bitwiseAND(lit(4294967295L))

  /** Storage level for EDGE-width checkpoint frames, size-dispatched on
    * the graph source's on-disk bytes (round-12 verdict Wrong #1).
    *
    * Round 12 made every edge-frame localCheckpoint
    * MEMORY_AND_DISK_SER unconditionally, because the deserialized
    * default stores one boxed UnsafeRow copy per edge per partition and
    * heap-OOMs at the sf100 edge count (inside Dataset.checkpoint's
    * UnsafeRow.copy, at both 32 g and 64 g). But SER taxes every
    * per-iteration edge read with deserialization at ALL scales — the
    * round-12 driver bench showed the fixpoint loops (8 reads of the
    * same edge frame) regressing 15-22% at sf0.1, where the
    * deserialized frame fits trivially. So dispatch like every other
    * size decision in this file: past `graft.graph.serializedCheckpointBytes`
    * (default 4 GiB) of source-table bytes, pack rows into compact
    * serialized buffers that overflow to disk gracefully; below it,
    * keep the fast deserialized default.
    *
    * The estimate is the on-disk size of `<dir>/lineitem.parquet` —
    * every graph here derives its edges from lineitem (orders⋈lineitem
    * for the customer–supplier graph, per-order basket pairs for the
    * co-occurrence graphs), so edge count is proportional to lineitem
    * rows and its parquet footprint is a monotone, zero-cost proxy.
    * Catalyst's own stats are useless for this dispatch: without CBO a
    * join's sizeInBytes is the PRODUCT of its children's, which is past
    * any threshold at every scale. The measured boundary: 1.1 GB
    * (sf10) runs deserialized with headroom on a 32 GB heap; 11 GB
    * (sf100) needs SER — 4 GiB splits the decades. An unreadable dir
    * (non-local deployment) dispatches to SER: survival beats the
    * ~20% deserialization tax, and such a deployment should set the
    * conf explicitly. */
  private[graft] def edgeCheckpointLevel(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.storage.StorageLevel = {
    val budget = s.conf.getOption("graft.graph.serializedCheckpointBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(4L << 30)
    val src = try {
      val p = java.nio.file.Paths.get(d, "lineitem.parquet")
      if (!java.nio.file.Files.exists(p)) Long.MaxValue
      else {
        val st = java.nio.file.Files.walk(p, 2)
        try {
          val it = st.iterator()
          var acc = 0L
          while (it.hasNext) {
            val f = it.next()
            if (java.nio.file.Files.isRegularFile(f))
              acc += java.nio.file.Files.size(f)
          }
          acc
        } finally st.close()
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException =>
      Long.MaxValue
    }
    if (src > budget)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  }

  /** Materialize the edge/degree frames once: (e, deg, |nodes|).
    * Exposed so ShuffleAuditSpec can plan-assert a single iteration's
    * exchange budget against exactly these frames. No layout pinning:
    * the broadcast iteration streams `e` as-is, so the checkpoint only
    * buys the one-time materialization of the distinct.
    *
    * Memoized per (session, dir): q_pagerank and q_ppr are independent
    * declared queries over the SAME graph — the second to run reuses the
    * first's checkpointed frames instead of re-running the
    * orders⋈lineitem distinct (the materialize-once discipline,
    * [[graft.Memo]]). */
  private[graft] def edgeFrames(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, Long) =
    graft.Memo(s, s"graph.edgeFrames:$d", d) { edgeFramesBuild(s, d) }

  private def edgeFramesBuild(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, Long) = {
    // pair-packed distinct (the [[coOccurEdges]] discipline): the
    // join's raw (cust, supp) stream is ~900 M rows at sf100 and the
    // distinct is its only wide exchange — one 8-byte key per row
    // instead of two columns (custkeys and suppkeys are both < 2³²)
    val edges0 = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(packPair(col("o_custkey"), col("l_suppkey")).as("pk"))
      .distinct()
      .select(unpackHi(col("pk")).as("c"), unpackLo(col("pk")).as("s"))
    // undirected: each endpoint both emits and receives rank
    val e = edges0.select(col("c").as("src"),
        (col("s") + supplierOffset).as("dst"))
      .union(edges0.select((col("s") + supplierOffset).as("src"),
        col("c").as("dst")))
      // nIters reuses: materialize the distinct once. EDGE-width →
      // size-dispatched storage (see [[edgeCheckpointLevel]]: the
      // deserialized default heap-OOMs at the sf100 edge count but is
      // 15-22% faster for the fixpoint loops at gate scale; node-width
      // `deg` below always keeps the fast default)
      .localCheckpoint(true, edgeCheckpointLevel(s, d))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    (e, deg, deg.count())
  }

  /** Oracle twin of [[edgeFrames]]: the CTEs `e`(src, dst) and
    * `deg`(src, outdeg) the rank oracles read. */
  private val edgeFramesSql: String =
    s"""ed0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS MATERIALIZED (SELECT c AS src, s + $supplierOffset AS dst FROM ed0
       |      UNION ALL SELECT s + $supplierOffset, c FROM ed0),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |  FROM e GROUP BY 1)""".stripMargin

  private[graft] def pagerankRanks(s: org.apache.spark.sql.SparkSession,
      d: String, nIters: Int): DataFrame = {
    val (e, deg, n) = edgeFrames(s, d)
    pagerankRanksOn(e, deg, n, nIters)
  }

  /** The declared rank queries' runs, one [[graft.Memo]] entry per rank
    * family (uniform PageRank or the corpus-seeded PPR) and form (the
    * bounded [[iters]]-round run or the capped [[rankFixMaxRounds]]-round
    * fixpoint run) over the shared [[edgeFrames]]. Each query reads only
    * its own entry: a session running only the bounded query pays no
    * convergence probes and no rounds past [[iters]], and no entry pins a
    * state another entry also holds. Both arms of [[rankForm]] end in a
    * localCheckpoint of the (node, pr) frame, so the entry is a
    * materialized leaf the memo budget accounts. */
  private[graft] def rankRun(s: org.apache.spark.sql.SparkSession, d: String,
      ppr: Boolean, fixpoint: Boolean): DataFrame =
    graft.Memo(s, s"graph.${if (ppr) "ppr" else "pagerank"}" +
        s"${if (fixpoint) "Fixpoint" else "Bounded"}:$d", d) {
      val (e, deg, n) = edgeFrames(s, d)
      (ppr, fixpoint) match {
        case (false, false) => pagerankRanksOn(e, deg, n, iters)
        case (false, true) =>
          pagerankFixpoint(e, deg, n, rankFixEps, rankFixMaxRounds)._1
        case (true, false) => pprRanksOn(e, deg, n, pprResetOn(deg), iters)
        case (true, true) => pprFixpoint(e, deg, n, pprResetOn(deg),
          rankFixEps, rankFixMaxRounds)._1
      }
    }

  /** The bounded rank loop on explicit frames (testable on synthetic
    * graphs; [[pagerankFixpoint]] must equal it at the round it stopped). */
  def pagerankRanksOn(e: DataFrame, deg: DataFrame, n: Long,
      nIters: Int): DataFrame =
    rankForm(e, deg, n, None, nIters, None)._1

  /** Every rank form, bounded and fixpoint, PageRank (`reset` empty) and
    * PPR, dispatched on the rank state's size: while |V| ×
    * [[DriverRank.bytesPerNode]], the bytes the driver arm holds per
    * node, fits `graft.graph.broadcastStateBytes` ([[fitsState]], the
    * test [[stateHint]] applies), the rank vector is a driver-side array
    * and each round is one job ([[DriverRank]]); beyond it, the DataFrame
    * rounds of [[rankLoop]]. Both arms give bit-identical ranks and stop
    * at the same round (GraphFixpointSpec runs both). */
  private def rankForm(e: DataFrame, deg: DataFrame, n: Long,
      reset: Option[org.apache.spark.sql.Column], maxRounds: Int,
      eps: Option[Double]): (DataFrame, Int) =
    if (fitsState(deg.sparkSession, n, DriverRank.bytesPerNode))
      DriverRank.run(e, deg, n, reset, maxRounds, eps)
    else reset match {
      case None => rankLoop(
        deg.select(col("src").as("node"), (lit(1.0) / n).as("pr")),
        rankIteration(e, deg, _, n), n, maxRounds, eps)
      case Some(r) => rankLoop(deg.select(col("src").as("node"), r.as("pr")),
        pprIteration(e, deg, _, n, r), n, maxRounds, eps)
    }

  /** The over-budget rank loop, PageRank and PPR (they differ only in
    * init frame and step function): iterate `step` from `init`, at most
    * `maxRounds` times. Each round ends in an EAGER localCheckpoint (the
    * CC-loop discipline, Dedup.scala), so round i's plan starts from a
    * LogicalRDD leaf and lineage depth, plan size and planner time stay
    * O(1) in the round count; the returned state is materialized too.
    * With `eps` set, each round is probed by [[rankDelta12]] and the loop
    * stops at the first round whose quantized L1 delta drops below `eps`.
    * Returns (state, rounds run). Dangling mass: the undirected edge
    * construction gives every node outdeg ≥ 1, so no sink-redistribution
    * term exists. */
  private def rankLoop(init: DataFrame, step: DataFrame => DataFrame,
      n: Long, maxRounds: Int, eps: Option[Double]): (DataFrame, Int) = {
    val budget12 = eps.map(x => math.round(x * 1e12))
    var pr = init
    var r = 0
    var converged = false
    while (!converged && r < maxRounds) {
      // sever lineage EVERY round: the every-2nd-round relaxation looked
      // faster solo (2.30 s) but regressed under the full-suite bench
      // (3.16 s → 3.94 s, r5→r6 artifacts) — the doubled plan depth
      // re-plans two joined iterations per round
      val next = step(pr).localCheckpoint(true)
      r += 1
      converged = budget12.exists(rankDelta12(pr, next, n) < _)
      pr = next
    }
    (pr, r)
  }

  /** Engine-exact L1 rank movement between two node-width rank frames,
    * in 10⁻¹² quanta: Σ|round((prᵢ₊₁ − prᵢ)·10¹²)| summed as BIGINT —
    * order-free integer addition, so the convergence probe reads the
    * same number under any partitioning or join strategy (the
    * quantized-contribution discipline the loops already use). One
    * node-width join + one scalar aggregate per probe. (A round-15
    * experiment fused this into the round's checkpoint by attaching the
    * previous rank before materialization; the extra broadcast + AQE
    * stage made rounds 30-90% SLOWER than this separate two-tiny-frame
    * probe job — measured interleaved at sf0.1, 3 reps — so the
    * standalone probe stays.) */
  private def rankDelta12(prev: DataFrame, next: DataFrame, n: Long): Long =
    next.select(col("node"), col("pr").as("npr"))
      .join(stateHint(prev.select(col("node"), col("pr").as("ppr")), n),
        "node")
      .agg(coalesce(sum(abs(
        round((col("npr") - col("ppr")) * 1000000000000L).cast("long"))),
        lit(0L)).as("d"))
      .head().getLong(0)

  /** Converge-and-stop PageRank (round-9 verdict ask #3, completing the
    * fixpoint family begun with k-core/LPA/BFS): iterate
    * [[rankIteration]] until the quantized L1 rank delta drops below
    * `eps`, capped at `maxRounds`. Returns (ranks, rounds run).
    *
    * The library contract mirrors the reference's own convergence idiom
    * (mahout-samsara-book BFGS.scala:48 stops on ‖∇f‖ < ε): the capped
    * fixpoint ≡ the `nIters`-bounded form AT THE ROUND IT STOPPED —
    * every round is the same engine-exact [[rankIteration]], so
    * (fixpoint ranks, r) is bit-identical to [[pagerankRanksOn]](…, r)
    * whether the ε-probe or the cap fired (pinned differentially in
    * GraphFixpointSpec). The declared queries keep their fixed
    * 5-iteration form — oracle determinism. Under the state budget the
    * convergence probe is driver-side arithmetic on the held rank
    * vector ([[DriverRank]]); over it, one node-width join + scalar
    * aggregate per round ([[rankDelta12]]). */
  def pagerankFixpoint(e: DataFrame, deg: DataFrame, n: Long,
      eps: Double, maxRounds: Int): (DataFrame, Int) =
    rankForm(e, deg, n, None, maxRounds, Some(eps))

  /** The q_pagerank oracle, parameterized by iteration count so the
    * declared bounded query (5 rounds) and the declared fixpoint query
    * ([[rankFixMaxRounds]] rounds — the cap deterministically binds, see
    * [[qPagerankFixpoint]]) share one CTE builder. */
  private def pagerankOracle(nIters: Int): String =
    s"""WITH $edgeFramesSql,
       |n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |p0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE)/nn.n AS pr
       |  FROM deg CROSS JOIN n nn),
       |${(1 to nIters).map(iterSql).mkString(",\n")}
       |SELECT node, ROUND(pr, 6) AS pr FROM p$nIters
       |ORDER BY node""".stripMargin

  private val qPagerank = Q("q_pagerank", pagerankOracle(iters)) { (s, d) =>
    rankRun(s, d, ppr = false, fixpoint = false)
      .select(col("node"), round(col("pr"), 6).as("pr")).orderBy("node")
  }

  /** Round cap / ε for the DECLARED rank-fixpoint queries. ε = 10⁻¹²
    * is one quantum of the probe's own arithmetic ([[rankDelta12]]):
    * PageRank's geometric contraction (factor ≈ damping) would need
    * ~170 rounds to push the total L1 movement below one quantum on any
    * non-degenerate graph, so at every testdata scale the CAP binds —
    * the fixpoint runs exactly [[rankFixMaxRounds]] rounds and the
    * capped-≡-bounded identity ([[pagerankFixpoint]]: (ranks, r) ≡ the
    * r-bounded loop bit-identically, GraphFixpointSpec) makes the
    * [[rankFixMaxRounds]]-unrolled oracle exact. The ε-probe still
    * executes every round — the declared query exercises the real
    * convergence machinery, and the spec pins the early-stop branch on
    * synthetic graphs where a loose ε fires mid-run. */
  private val rankFixMaxRounds = 8
  private val rankFixEps = 1e-12

  /** X17 (round-11 ask #3): converge-and-stop PageRank as a DECLARED
    * query — the user-facing form of q_pagerank, mirroring
    * q_kcore_fixpoint's capped-fixpoint discipline. Same memoized
    * edge/degree frames; the oracle unrolls the cap's worth of rounds
    * (the cap binds at ε = 10⁻¹², see [[rankFixMaxRounds]]). */
  private val qPagerankFixpoint =
    Q("q_pagerank_fixpoint", pagerankOracle(rankFixMaxRounds)) { (s, d) =>
      rankRun(s, d, ppr = false, fixpoint = true)
        .select(col("node"), round(col("pr"), 6).as("pr")).orderBy("node")
    }

  /** One personalized-rank iteration. Personalized PageRank restarts the
    * walk at a SEED set instead of uniformly, so rank measures proximity
    * to the seeds, the recommendation / similar-entities primitive. Same
    * engine-exact quantized-contribution discipline and broadcast
    * node-state join as [[rankIteration]]; the reset vector is a pure
    * EXPRESSION of the node id (no per-iteration seed join), and the rank
    * frame keeps every node (zero rank until the frontier reaches it), so
    * each iteration is the contribution aggregate plus one node-width
    * left join. */
  private[graft] def pprIteration(e: DataFrame, deg: DataFrame, pr: DataFrame,
      n: Long, reset: org.apache.spark.sql.Column): DataFrame = {
    val contrib = e.join(stateHint(pr, n), col("src") === col("node"))
      .join(stateHint(deg, n), "src")
      .select(col("dst"),
        round(col("pr") / col("outdeg") * 1000000000000L).cast("long")
          .as("c"))
      .groupBy("dst").agg(sum("c").as("sc"))
    // contrib is NODE-width (≤ |V| rows): size-dispatch the build side so
    // the attach is a broadcast hash join, not the sort-merge join the
    // stat-less checkpointed frames otherwise plan — the SMJ form
    // shuffled AND sorted both node-width sides every round (2 extra
    // exchanges/round in the r15 before-plan, plans/r15/q_ppr_before.txt)
    deg.select(col("src").as("node"))
      .join(stateHint(contrib, n), col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(0.15) * reset +
          lit(0.85) * (coalesce(col("sc"), lit(0L)) / 1000000000000.0))
          .as("pr"))
  }

  /** Bounded personalized-rank loop on explicit frames; `reset` is the
    * restart distribution as a column expression over `node`. */
  def pprRanksOn(e: DataFrame, deg: DataFrame, n: Long,
      reset: org.apache.spark.sql.Column, nIters: Int): DataFrame =
    rankForm(e, deg, n, Some(reset), nIters, None)._1

  /** Converge-and-stop personalized PageRank — same contract as
    * [[pagerankFixpoint]]: stops when the quantized L1 rank delta drops
    * below `eps` or at `maxRounds`; (ranks, r) ≡ [[pprRanksOn]](…, r)
    * bit-identically on every input (GraphFixpointSpec). */
  def pprFixpoint(e: DataFrame, deg: DataFrame, n: Long,
      reset: org.apache.spark.sql.Column, eps: Double,
      maxRounds: Int): (DataFrame, Int) =
    rankForm(e, deg, n, Some(reset), maxRounds, Some(eps))

  private def pprIterSql(i: Int): String =
    s"""c$i AS MATERIALIZED (SELECT e.dst,
       |    SUM(CAST(ROUND(p.pr/d.outdeg*1000000000000) AS BIGINT)) AS sc
       |  FROM e JOIN p${i - 1} p ON e.src = p.node
       |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
       |p$i AS MATERIALIZED (SELECT n.src AS node,
       |    0.15*(CASE WHEN n.src < $supplierOffset AND n.src % 100 = 0
       |          THEN 1.0/ss.n ELSE 0.0 END)
       |    + 0.85*(COALESCE(c.sc, 0)/1000000000000.0) AS pr
       |  FROM deg n CROSS JOIN ns ss
       |  LEFT JOIN c$i c ON c.dst = n.src)""".stripMargin

  /** The q_ppr oracle, parameterized by iteration count (shared by the
    * bounded and fixpoint declared forms — see [[pagerankOracle]]). */
  private def pprOracle(nIters: Int): String =
    s"""WITH $edgeFramesSql,
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
       |  WHERE src < $supplierOffset AND src % 100 = 0),
       |p0 AS MATERIALIZED (SELECT src AS node,
       |    CASE WHEN src < $supplierOffset AND src % 100 = 0
       |    THEN 1.0/ss.n ELSE 0.0 END AS pr FROM deg CROSS JOIN ns ss),
       |${(1 to nIters).map(pprIterSql).mkString(",\n")}
       |SELECT node, ROUND(pr, 6) AS pr FROM p$nIters
       |ORDER BY node""".stripMargin

  /** X17: personalized PageRank from the custkey ≡ 0 (mod 100) seed
    * set, five engine-exact iterations ([[pprRanksOn]]); oracle unrolls
    * them with the identical quantized arithmetic. */
  private val qPpr = Q("q_ppr", pprOracle(iters)) { (s, d) =>
    rankRun(s, d, ppr = true, fixpoint = false)
      .select(col("node"), round(col("pr"), 6).as("pr")).orderBy("node")
  }

  /** The corpus seed/reset setup shared by the declared PPR queries:
    * seed set = customers with custkey ≡ 0 (mod 100), reset a pure
    * expression of the node id. */
  private def pprResetOn(deg: DataFrame): org.apache.spark.sql.Column = {
    val isSeed = col("node") < supplierOffset && col("node") % 100 === 0
    val nSeeds = deg.select(col("src").as("node")).where(isSeed).count()
    when(isSeed, lit(1.0) / nSeeds).otherwise(lit(0.0))
  }

  /** X17 (round-11 ask #3): converge-and-stop personalized PageRank as
    * a DECLARED query — same cap-binds-at-ε=10⁻¹² contract as
    * [[qPagerankFixpoint]] ([[rankFixMaxRounds]]'s scaladoc); oracle
    * unrolls the cap's rounds with the identical quantized
    * arithmetic. */
  private val qPprFixpoint =
    Q("q_ppr_fixpoint", pprOracle(rankFixMaxRounds)) { (s, d) =>
      rankRun(s, d, ppr = true, fixpoint = true)
        .select(col("node"), round(col("pr"), 6).as("pr")).orderBy("node")
    }

  /** Build the undirected part co-occurrence graph: an edge (p1, p2),
    * p1 < p2, for every pair of distinct parts appearing in the same
    * order. ONE corpus scan: per-order part sets aggregate on the
    * orderkey (map-side combined), pairs generate NARROW from the sorted
    * set via codegen'd posexplode + slice (each element pairs with its
    * successors — no self-join, no second scan; the q_cooccur_pmi
    * pattern), then one distinct exchange over the pair PACKED into a
    * single long (p1·2³² + p2 — partkeys are < 2³², the same packing
    * [[triangleFrames]] already relies on). Basket sizes are bounded
    * (parts per order), so the generate fan-out is a constant factor,
    * not a skew hazard.
    *
    * The packing matters at scale: the raw pair stream is the family's
    * single biggest exchange (~900 M rows at sf100 — the round-13
    * scratch-disk bound), and one 8-byte long per row vs two drops the
    * UnsafeRow from 24 to 16 bytes (−33% shuffle write) AND gives the
    * sort-based fallback an 8-byte radix-sortable key. */
  private[graft] def coOccurEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    coOccurPairs(s, d)
      .select(packPair(col("p1"), col("p2")).as("pk"))
      .distinct()
      .select(unpackHi(col("pk")).as("p1"), unpackLo(col("pk")).as("p2"))

  /** [[coOccurEdges]], materialized once per (session, dir) and shared
    * by its independent consumers (q_triangles, q_kcore,
    * q_kcore_fixpoint) — see [[graft.Memo]]. */
  private[graft] def coOccurEdgesCk(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Memo(s, s"graph.coOccurEdges:$d", d) {
      // EDGE-width frame: checkpoint storage SIZE-DISPATCHED
      // ([[edgeCheckpointLevel]]). The deserialized default stores one
      // boxed UnsafeRow copy per edge per partition on the heap — at
      // the sf100 probe (600 M lineitem rows) that was a plain heap OOM
      // inside Dataset.checkpoint's UnsafeRow.copy at both 32 g and
      // 64 g, while MEMORY_AND_DISK_SER packs the same rows into
      // compact byte buffers that overflow to disk gracefully — but SER
      // taxes every later read with deserialization, measured 15-22% on
      // the gate-scale fixpoint loops (round-12 regression). Node-width
      // frames (degrees, rank states) always stay on the fast
      // deserialized default; only the frames proportional to EDGES
      // dispatch (SCALE.md round-13).
      coOccurEdges(s, d).localCheckpoint(true, edgeCheckpointLevel(s, d))
    }

  /** Oracle twin of [[coOccurEdges]]: the CTE `e`(p1 < p2) that
    * q_triangles and the k-core oracles read. */
  private val coOccurEdgesSql: String =
    """e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  /** The narrow pair generator shared by [[coOccurEdges]] and
    * [[coOccurWeighted]]: one lineitem scan → per-order sorted part
    * sets → codegen'd posexplode + slice successor pairs. One raw pair
    * row per (order, p1 < p2) incidence; the caller collapses them with
    * distinct (unweighted) or a count aggregate (weighted) — the same
    * single (p1, p2) exchange either way. */
  private def coOccurPairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("p1"),
        explode(slice(col("ps"), col("pos") + lit(2), size(col("ps"))))
          .as("p2"))

  /** Weighted co-occurrence graph: (p1 < p2, w) with w = number of
    * distinct orders containing both parts, kept where w ≥ minW. At
    * minW = 2 this is the REPEAT-co-purchase graph — ~3% of the raw
    * pair count (3 445 of 115 729 edges at sf0.01) with genuine cluster
    * structure, the right substrate for community detection; the raw
    * graph is a near-clique soup where every community collapses. */
  private[graft] def coOccurWeighted(s: org.apache.spark.sql.SparkSession,
      d: String, minW: Int): DataFrame =
    // same packed-key exchange as [[coOccurEdges]]: one 8-byte group key
    // through the pair-width shuffle instead of two columns
    coOccurPairs(s, d)
      .select(packPair(col("p1"), col("p2")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minW)
      .select(unpackHi(col("pk")).as("p1"), unpackLo(col("pk")).as("p2"),
        col("w"))

  /** The SYMMETRIZED repeat-co-purchase edge list (s, t, w) — both
    * directions of every minW-filtered weighted co-occurrence edge —
    * materialized once per (session, dir) and shared by its four
    * independent consumers (q_label_prop, q_modularity, q_bfs_hops,
    * q_bfs_reach): one basket-aggregate + pair-gen + count per harness
    * run instead of four ([[graft.Memo]]). Also closes the round-8
    * advisor's q_bfs_hops finding: seeds and loop both read this one
    * checkpointed frame, so the corpus scan never replays. */
  private[graft] def weightedEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Memo(s, s"graph.weightedEdges:$d:$lpaMinW", d) {
      val pr = coOccurWeighted(s, d, lpaMinW)
      pr.select(col("p1").as("s"), col("p2").as("t"), col("w"))
        .union(pr.select(col("p2"), col("p1"), col("w")))
        // edge-width: size-dispatched checkpoint (see coOccurEdgesCk)
        .localCheckpoint(true, edgeCheckpointLevel(s, d))
    }

  /** Oracle twin of [[weightedEdges]]: the CTEs `po`, `pr` and the
    * symmetrized `e`(s, t[, w]) — the weight column only when
    * `weighted`. */
  private def repeatEdgesSql(weighted: Boolean): String = {
    val (wc, w) =
      if (weighted) (", CAST(COUNT(*) AS BIGINT) AS w", ", w") else ("", "")
    s"""po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |pr AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2$wc
       |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $lpaMinW),
       |e AS MATERIALIZED (SELECT p1 AS s, p2 AS t$w FROM pr
       |      UNION ALL SELECT p2, p1$w FROM pr)""".stripMargin
  }

  /** Per-node triangle counts over [[coOccurEdges]] by degree-ordered
    * orientation + edge iteration: orient each undirected edge from its
    * lower-(degree, id) endpoint to the higher, build sorted oriented
    * out-lists, and per edge (u, v) count adj(u) ∩ adj(v). Every
    * triangle is found exactly once, at its lowest-ordered edge.
    *
    * Scale shape (100 TB): orientation caps every out-list at the graph
    * degeneracy (≤ O(√m)) — the hub that breaks naive wedge counting
    * has an EMPTY out-list because all its edges point in — and total
    * intersection work is the O(m^1.5) bound. Exchanges: the edge build
    * (co-keyed self-join + one distinct), the degree aggregate, two
    * node-width joins to attach keys, one node-width adjacency
    * aggregate, then the per-edge intersections run map-side (the
    * adjacency frame broadcasts at bench scale — m·8 bytes ≈ 10 MB at
    * sf0.1; on a cluster where Σ|adj| outgrows broadcast, the two
    * attach-joins become shuffle joins keyed on u and v, still
    * edge-width — never wedge-width). The final per-corner attribution
    * is one generate + hash aggregate on node. */
  private[graft] def triangleCounts(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = triangleFrames(s, d)._1

  /** (per-node triangle counts, per-node degrees, |V|) over
    * [[coOccurEdges]]. Split out so the clustering-coefficient query
    * joins the two without a second edge build (the shared `e` is
    * checkpointed once); |V| rides along so the verdict join can size
    * its broadcast dispatch without a second count job. */
  private[graft] def triangleFrames(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, Long) = {
    // materialized once (and memo-shared with q_kcore*): 2 downstream
    // scans (degree, orientation) would otherwise each re-run the basket
    // aggregate + pair-gen + distinct
    val e = coOccurEdgesCk(s, d)
    val m = e.count() // cheap on the checkpointed frame; sizes adj below
    // node-width, consumed 3x (two key-attach joins + the returned
    // degree frame) — materialize once
    val deg = e.select(explode(array(col("p1"), col("p2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // total order on nodes: (degree, id) packed into one long — the
    // guarded [[packPair]] (degrees < 2^31, ids < 2^32 by construction;
    // order-preserving, see its scaladoc)
    val key = packPair(col("deg"), col("n")).as("k")
    val nV = deg.count() // cheap on the checkpointed node-width frame
    val kd = deg.select(col("n"), key)
    // NODE-width map side: size-dispatch the broadcast ([[stateHint]])
    // instead of letting the default 10 MB threshold force two
    // EDGE-width sort-merge exchanges of `e` at big sf — each avoided
    // exchange is a 900 M-row shuffle at sf100. 48 B/row: Spark's
    // hashed-relation footprint runs 2-4× the 16 raw bytes of (n, k)
    // (round-14 advice — the old 24 B estimate could admit a relation
    // well past the budget). The hint is applied ONCE and both attach
    // joins project from the same hinted frame: the two broadcast
    // exchanges canonicalize identically (aliases normalize away), so
    // ReuseExchange builds ONE hashed relation for both joins.
    val kdH = stateHint(kd, nV, 48L)
    val withK = e
      .join(kdH.select(col("n").as("p1"), col("k").as("k1")), "p1")
      .join(kdH.select(col("n").as("p2"), col("k").as("k2")), "p2")
    val o = withK.select(
      when(col("k1") < col("k2"), col("p1")).otherwise(col("p2")).as("u"),
      when(col("k1") < col("k2"), col("p2")).otherwise(col("p1")).as("v"))
    // Edge-iterator over the oriented graph: out-lists as sorted arrays
    // (node-width frame, |adj(u)| ≤ degeneracy), then per edge (u, v)
    // the triangles it closes are exactly adj(u) ∩ adj(v) — each
    // triangle found once, at its lowest-ordered edge. The wedge
    // materialization (Σ outdeg² rows — 35M at sf0.1, measured 19-28 s
    // as a self-join) never exists; the intersection is a codegen'd
    // two-pointer merge over the pre-sorted lists
    // (functions.ArrayExprs.sortedIntersect) inside the edge scan.
    // The edge side regenerates (u, v) by exploding adj itself, so adj
    // is the ONLY input: one materialized node-width frame, one
    // broadcast hash join on v.
    val adj = o.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("au"))
      .localCheckpoint(true)
    // adj's payload is edge-proportional (Σ|out-lists| = m oriented
    // edges), so the dispatch sizes it by m, not |V|
    val tri = adj.select(col("u"), col("au"), explode(col("au")).as("v"))
      .join(stateHint(adj.select(col("u").as("v"), col("au").as("av")), m),
        "v")
      .select(col("u"), col("v"),
        graft.functions.ArrayExprs.sortedIntersect(col("au"), col("av"))
          .as("ws"))
      .select(col("u"), col("v"), col("ws"),
        size(col("ws")).cast("long").as("sz"))
      .where(col("sz") > 0)
    // per-node attribution in ONE generate pass: corners u and v each
    // join sz triangles through this edge, every w exactly one.
    val tc = tri.select(col("sz"),
        posexplode(concat(array(col("u"), col("v")), col("ws"))))
      .select(col("col").as("node"),
        when(col("pos") < 2, col("sz")).otherwise(lit(1L)).as("c"))
      .groupBy("node").agg(sum("c").as("tri"))
    (tc, deg.select(col("n").as("node"), col("deg")), nV)
  }

  /** X17 (graph analytics extension): per-node triangle counts plus the
    * local clustering coefficient tri / C(deg, 2) — the standard
    * spam/cohesion signal over a co-occurrence graph. The DuckDB oracle
    * enumerates each triangle once as a < b < c via a 3-way self-join
    * and unnests the corners; triangle and degree counts are exact
    * integers and the coefficient one rounded division, so the hash
    * compare is engine-safe. Nodes outside any triangle still appear
    * (coefficient 0) via the degree frame's left join. */
  private val qTriangles = Q("q_triangles",
    s"""WITH $coOccurEdgesSql,
      |deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |  (SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e)
      |  GROUP BY node),
      |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      |  FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
      |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
      |tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM
      |  (SELECT unnest([a, b, c]) AS node FROM t) GROUP BY node)
      |SELECT deg.node, COALESCE(tc.tri, 0) AS tri, deg.deg,
      |  ROUND(CASE WHEN deg.deg < 2 THEN 0.0 ELSE
      |    CAST(COALESCE(tc.tri, 0) AS DOUBLE) * 2 /
      |    (deg.deg * (deg.deg - 1)) END, 6) AS coeff
      |FROM deg LEFT JOIN tc ON tc.node = deg.node
      |ORDER BY deg.node""".stripMargin) { (s, d) =>
    val (tc, deg, nV) = triangleFrames(s, d)
    // tc is NODE-width aggregate output joined against the stat-less
    // checkpointed degree frame — without the size-dispatched hint the
    // verdict join plans a sort-merge join shuffling+sorting both
    // node-width sides (r15 before-plan); broadcast under the budget
    deg.join(stateHint(tc, nV), Seq("node"), "left")
      .select(col("node"), coalesce(col("tri"), lit(0L)).as("tri"),
        col("deg"),
        round(when(col("deg") < 2, lit(0.0)).otherwise(
          coalesce(col("tri"), lit(0L)).cast("double") * 2 /
            (col("deg") * (col("deg") - 1))), 6).as("coeff"))
      .orderBy("node")
  }

  /** `rounds` rounds of k-core peeling over an UNDIRECTED unique edge
    * list (s, t): each round simultaneously drops every node whose
    * current in-subgraph degree is < k. Factored over an arbitrary edge
    * frame so tests feed synthetic graphs. Returns the surviving nodes
    * with their final in-core degree.
    *
    * Degrees are maintained INCREMENTALLY: the edge table materializes
    * ONCE and is never rewritten — each round scans it map-side against
    * the size-dispatched ([[stateHint]]) newly-removed set to aggregate per-survivor degree
    * deltas (peeling removes few nodes per round, so rewriting the
    * barely-shrinking edge frame — the naive form — paid a full
    * 2.4M-row checkpoint + full-width degree shuffle per round: 7.9 s
    * at sf0.1 vs ~2 s for this form). All evolving state (deg, removed)
    * is NODE-width and checkpointed per round for O(1) plan depth.
    *
    * Scale shape (100 TB): per round, two state-join passes over
    * the static edge scan + one map-side-combined delta aggregate
    * bounded by the removed nodes' degree sum — no edge shuffle, no
    * edge rewrite, ever. Beyond broadcast (removed set ≥ ~10⁸ — only
    * conceivable in the first rounds of an aggressive k) the fallback
    * is a co-keyed join against the bucketed edge table. */
  def peelKCore(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = kCoreFixpoint(edges, k, rounds)._1

  /** ONE peel run serving BOTH declared k-core queries: the bounded
    * form is an exact PREFIX of the fixpoint run (rounds are
    * deterministic), so the shared run snapshots the degree state after
    * [[kcoreRounds]] rounds (= q_kcore) and keeps peeling to the
    * [[kcoreFixMaxRounds]]-capped fixpoint (= q_kcore_fixpoint).
    * Memoized per (session, dir) like the other shared builds. */
  private[graft] def kCoreShared(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) =
    graft.Memo(s, s"graph.kcoreShared:$d", d) {
      val e = coOccurEdgesCk(s, d)
        .select(col("p1").as("s"), col("p2").as("t"))
      val (fin, _, snap) =
        kCorePeel(e, kcoreK, kcoreFixMaxRounds, kcoreRounds)
      (snap, fin)
    }

  /** Run the peel to FIXPOINT (no node of in-subgraph degree < k
    * remains), capped at `maxRounds` — the operator a user actually
    * calls ("the k-core"), vs the bounded-round declared-query form.
    * Returns (core, roundsRun). Each round's removed set is a
    * checkpointed node-width frame, so the convergence probe
    * (rem.count() == 0 → stop) is one cheap job; the cap makes the
    * capped fixpoint ≡ the `maxRounds`-bounded form on EVERY input
    * (converged early → later rounds are no-ops; not converged → both
    * ran exactly `maxRounds`), which is what lets q_kcore_fixpoint keep
    * an exact unrolled oracle (GraphFixpointSpec pins the equivalence
    * differentially). */
  def kCoreFixpoint(edges: DataFrame, k: Int,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val (fin, r, _) = kCorePeel(edges, k, maxRounds, snapAt = maxRounds)
    (fin, r)
  }

  /** The shared peel loop — see [[peelKCore]]'s original scaladoc for
    * the incremental-degree shape. `edges` should arrive materialized
    * (the loop scans it twice per round); per-round state stays
    * node-width and checkpointed. Exits as soon as a round removes
    * nothing: the remaining rounds would be identity, so early exit is
    * result-invariant for the bounded form too. Returns (finalCore,
    * roundsRun, snapshotCore) where the snapshot is the core after
    * `snapAt` rounds — identical to the final core when convergence
    * lands first (no-op rounds) or snapAt ≥ maxRounds. */
  private def kCorePeel(edges: DataFrame, k: Int,
      maxRounds: Int, snapAt: Int): (DataFrame, Int, DataFrame) = {
    def core(deg: DataFrame): DataFrame =
      // a survivor that lost ALL its edges has no row in the surviving
      // subgraph's group-by (the definitional form) — drop it here too
      // rather than report a 0-degree "core" member
      deg.filter(col("deg") > 0).select(col("n").as("node"), col("deg"))
    val e = edges
    var deg = e.select(explode(array(col("s"), col("t"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var snap: DataFrame = null
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val rem = deg.filter(col("deg") < k).select("n").localCheckpoint(true)
      val nRem = rem.count()
      if (nRem == 0) converged = true
      else {
        r += 1
        // per-survivor degree loss = edges into the removed set, counted
        // from BOTH endpoint roles; edges with both ends removed
        // contribute rows too, but their targets drop out of `deg` below
        val delta = e.join(stateHint(rem.select(col("n").as("t")), nRem, 8L), "t")
            .select(col("s").as("n"))
          .union(e.join(stateHint(rem.select(col("n").as("s")), nRem, 8L), "s")
            .select(col("t").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        deg = deg.join(stateHint(rem, nRem, 8L), Seq("n"), "left_anti")
          .join(delta, Seq("n"), "left")
          .select(col("n"), (col("deg") - coalesce(col("d"), lit(0L))).as("deg"))
          .localCheckpoint(true)
        if (r == snapAt) snap = core(deg)
      }
    }
    val fin = core(deg)
    (fin, r, if (snap == null) fin else snap)
  }

  private val kcoreK = 80
  private val kcoreRounds = 4

  private def kcoreRoundSql(r: Int): String =
    s"""k$r AS MATERIALIZED (SELECT s FROM ed${r - 1} GROUP BY s
       |  HAVING COUNT(*) >= $kcoreK),
       |ed$r AS MATERIALIZED (SELECT c.s, c.t FROM ed${r - 1} c
       |  JOIN k$r a ON c.s = a.s JOIN k$r b ON c.t = b.s)""".stripMargin

  /** The k-core oracle, parameterized by round count so q_kcore and
    * q_kcore_fixpoint share one CTE builder (the [[pagerankOracle]]
    * pattern): each round keeps the nodes of degree ≥ k and the edges
    * between them. */
  private def kcoreOracle(rounds: Int): String =
    s"""WITH $coOccurEdgesSql,
       |ed0 AS MATERIALIZED (SELECT p1 AS s, p2 AS t FROM e
       |        UNION ALL SELECT p2, p1 FROM e),
       |${(1 to rounds).map(kcoreRoundSql).mkString(",\n")}
       |SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM ed$rounds GROUP BY s ORDER BY node""".stripMargin

  /** X17: bounded-round k-core peeling (k = 80, 4 rounds — a real
    * cascade on this corpus: sf0.01 survivors 1903 → 1878 → 1865 →
    * 1858 of 2000) over the part co-occurrence graph — the density
    * filter that, run to fixpoint, yields the k-core; bounded rounds
    * keep it deterministic and oracle-checkable, the q_pagerank
    * discipline. Output: surviving nodes with their in-core degree,
    * exact integers. The DuckDB oracle unrolls the same rounds as
    * CTEs. */
  private val qKcore = Q("q_kcore", kcoreOracle(kcoreRounds)) { (s, d) =>
    // bounded form = the round-4 snapshot of the shared peel run
    kCoreShared(s, d)._1.orderBy("node")
  }

  /** Round budget for q_kcore_fixpoint: comfortably above the measured
    * convergence depth at every testdata sf (the peel cascade dies out
    * in single-digit rounds on this graph), so the declared query runs
    * the TRUE fixpoint (early exit) while the capped-≡-bounded
    * equivalence ([[kCoreFixpoint]]) keeps the unrolled oracle exact
    * even on data where the cap binds. */
  private val kcoreFixMaxRounds = 12

  /** X17: k-core to FIXPOINT (capped at [[kcoreFixMaxRounds]]) — the
    * user-facing form of q_kcore: peel until NO node of in-subgraph
    * degree < k remains. The oracle unrolls the cap's worth of rounds;
    * rounds after convergence are identity, so unroll == fixpoint
    * (differentially pinned in GraphFixpointSpec). */
  private val qKcoreFixpoint =
    Q("q_kcore_fixpoint", kcoreOracle(kcoreFixMaxRounds)) { (s, d) =>
    // fixpoint form = the terminal state of the same shared peel run
    kCoreShared(s, d)._2.orderBy("node")
  }

  /** `rounds` synchronous rounds of weighted label propagation over an
    * undirected weighted edge list (s, t, w) — both directions present.
    * Every node starts in its own community (label = own id); each round
    * every node simultaneously adopts the label with the highest total
    * edge weight among its neighbors, ties broken toward the SMALLEST
    * label. Votes are exact BIGINT weight sums and the tie-break a total
    * order, so the evolution is deterministic and engine-portable — the
    * bounded-rounds discipline of [[peelKCore]] / q_pagerank.
    *
    * The argmax is two hash aggregates (votes on (node, label), then
    * max of a packed (v, -label) struct per node) — no per-round window
    * sort. Scale shape (100 TB): label state is NODE-width and rides a
    * size-dispatched join ([[stateHint]]) into the streaming edge
    * scan; the two aggregates
    * are map-side combined and bounded by Σ|neighbor labels| ≤ |E|.
    * Per-round localCheckpoint keeps plan depth O(1). Beyond broadcast
    * (|V| ≥ ~10⁸) the state join falls back to the co-keyed
    * bucketed-edge layout pinned in ScaleTechniquesSpec. */
  def labelPropagation(edges: DataFrame,
      rounds: Int): DataFrame = lpaLoop(edges, rounds, detectFix = false)._1

  /** Synchronous LPA to FIXPOINT (no label changes), capped at
    * `maxRounds` — synchronous LPA can 2-cycle on bipartite structure,
    * so the cap is load-bearing, not cosmetic. Returns (labels,
    * roundsRun). Convergence probe: one node-width join of consecutive
    * checkpointed assignments per round. A converged assignment is a
    * true fixed point of the deterministic round function, so the
    * capped fixpoint ≡ the `maxRounds`-bounded form on every input
    * (differentially pinned in GraphFixpointSpec). */
  def labelPropagationFixpoint(edges: DataFrame,
      maxRounds: Int = 32): (DataFrame, Int) =
    lpaLoop(edges, maxRounds, detectFix = true)

  /** Shared LPA loop — see [[qLabelProp]]'s scaladoc for the argmax
    * discipline. `edges` should arrive materialized (scanned once per
    * round); label state is node-width, checkpointed per round, and
    * size-dispatched into the edge scan ([[stateHint]]). */
  private def lpaLoop(edges: DataFrame, maxRounds: Int,
      detectFix: Boolean): (DataFrame, Int) = {
    val e = edges
    var lbl = e.select(col("s").as("n")).distinct()
      .select(col("n"), col("n").as("lbl")).localCheckpoint(true)
    val nNodes = lbl.count()
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val votes = e
        .join(stateHint(lbl.select(col("n").as("t"), col("lbl")), nNodes), "t")
        .groupBy("s", "lbl").agg(sum("w").as("v"))
      val next = votes
        .groupBy("s")
        .agg(max(struct(col("v"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("s").as("n"), (-col("m.neg")).as("lbl"))
        .localCheckpoint(true)
      r += 1
      if (detectFix) {
        val changed = next
          .join(lbl.withColumnRenamed("lbl", "prev"), "n")
          .where(col("lbl") =!= col("prev")).count()
        if (changed == 0) converged = true
      }
      lbl = next
    }
    (lbl, r)
  }

  /** The 4-round LPA community assignment over [[weightedEdges]],
    * memoized per (session, dir): q_label_prop DECLARES it and
    * q_modularity SCORES it — round-8 verdict wrong-#2 flagged the ~3 s
    * of identical LPA work the two queries each re-ran. The loop
    * checkpoints its final round, so the memo stores a LogicalRDD leaf
    * both consumers read directly. */
  private[graft] def lpaAssignment(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Memo(s, s"graph.lpaAssignment:$d:$lpaRounds", d) {
      labelPropagation(weightedEdges(s, d), lpaRounds)
    }

  private val lpaRounds = 4
  private val lpaMinW = 2

  private def lpaRoundSql(r: Int): String =
    s"""c$r AS MATERIALIZED (SELECT e.s AS n, l.lbl, SUM(e.w) AS v
       |  FROM e JOIN l${r - 1} l ON e.t = l.n GROUP BY e.s, l.lbl),
       |l$r AS MATERIALIZED (SELECT n, lbl FROM (SELECT n, lbl, ROW_NUMBER() OVER
       |  (PARTITION BY n ORDER BY v DESC, lbl) AS rn FROM c$r)
       |  WHERE rn = 1)""".stripMargin

  /** The LPA oracle's CTEs, ending in the assignment `l`[[lpaRounds]]:
    * q_label_prop selects it and q_modularity scores it. */
  private val lpaSql: String =
    s"""${repeatEdgesSql(weighted = true)},
       |l0 AS MATERIALIZED (SELECT DISTINCT s AS n, s AS lbl FROM e),
       |${(1 to lpaRounds).map(lpaRoundSql).mkString(",\n")}""".stripMargin

  /** X17: community detection by synchronous weighted label propagation
    * (4 rounds) over the repeat-co-purchase graph — a genuine cascade on
    * this corpus (sf0.01: 1880 nodes → 989 → 655 → 513 → 435 communities,
    * largest 11 → 51). The DuckDB oracle unrolls the rounds as CTEs with
    * a ROW_NUMBER argmax under the identical (v DESC, lbl) total order. */
  private val qLabelProp = Q("q_label_prop",
    s"""WITH $lpaSql
       |SELECT n AS node, lbl AS community FROM l$lpaRounds
       |ORDER BY node""".stripMargin) { (s, d) =>
    lpaAssignment(s, d)
      .select(col("n").as("node"), col("lbl").as("community"))
      .orderBy("node")
  }

  /** X17: modularity scoring of the LPA community assignment — the
    * standard evaluation companion: per community c,
    * q_term(c) = W_in(c)/W − (S(c)/2W)², where W is total undirected
    * edge weight, W_in(c) the weight inside c, S(c) the weighted degree
    * sum. Every numerator/denominator is an exact BIGINT (the
    * symmetrized edge list counts each undirected edge twice, so
    * w_in_x2/w_x2 = W_in/W and s_deg/w_x2 = S/2W with no halving), and
    * the two float divisions + one product are the identical IEEE ops
    * in both engines, ROUND(…,6)-normalized (signed: a fragmented
    * community's term can be negative). Scale shape: one
    * label-broadcast join pass over the edge scan for W_in (both
    * endpoint labels attached map-side), one node-width degree join —
    * nothing wider than the edge scan itself. */
  private val qModularity = Q("q_modularity",
    s"""WITH $lpaSql,
       |wdeg AS MATERIALIZED (SELECT s AS n, CAST(SUM(w) AS BIGINT) AS wd
       |  FROM e GROUP BY 1),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_x2 FROM e),
       |win AS MATERIALIZED (SELECT la.lbl AS community,
       |    CAST(SUM(e.w) AS BIGINT) AS w_in_x2
       |  FROM e JOIN l$lpaRounds la ON e.s = la.n
       |  JOIN l$lpaRounds lb ON e.t = lb.n AND lb.lbl = la.lbl
       |  GROUP BY 1),
       |sd AS MATERIALIZED (SELECT la.lbl AS community,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(wd.wd) AS BIGINT) AS s_deg
       |  FROM l$lpaRounds la JOIN wdeg wd ON wd.n = la.n GROUP BY 1)
       |SELECT sd.community, sd.n_nodes, COALESCE(win.w_in_x2, 0) AS w_in_x2,
       |  sd.s_deg,
       |  ROUND(CAST(COALESCE(win.w_in_x2, 0) AS DOUBLE) / tot.w_x2
       |    - (CAST(sd.s_deg AS DOUBLE) / tot.w_x2)
       |      * (CAST(sd.s_deg AS DOUBLE) / tot.w_x2), 6) + 0.0 AS q_term
       |FROM sd LEFT JOIN win ON win.community = sd.community
       |CROSS JOIN tot ORDER BY sd.community""".stripMargin) { (s, d) =>
    // both frames memo-shared with q_label_prop / q_bfs_hops: this query
    // is pure scoring — one edge-scan pass + node-width joins
    modularityTerms(weightedEdges(s, d), lpaAssignment(s, d)).orderBy("community")
  }

  /** Per-community modularity terms of assignment `lbl`(n, lbl) over a
    * symmetrized weighted edge list `e`(s, t, w) — see [[qModularity]]'s
    * scaladoc for the exact-integer discipline. Factored so the
    * synthetic-graph spec pins the closed-form values. */
  def modularityTerms(e: DataFrame,
      lbl: DataFrame): DataFrame = {
    val nNodes = lbl.count()
    val wdeg = e.groupBy(col("s").as("n")).agg(sum("w").as("wd"))
    val tot = e.agg(sum("w").as("w_x2"))
    val win = e
      .join(stateHint(lbl.select(col("n").as("s"), col("lbl").as("la")), nNodes), "s")
      .join(stateHint(lbl.select(col("n").as("t"), col("lbl").as("lb")), nNodes), "t")
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(sum("w").as("w_in_x2"))
    val sd = lbl.join(wdeg, "n")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("wd").as("s_deg"))
    // win has one row per community (≤ |V|): same size-dispatched
    // broadcast as every node-width attach (stat-less inputs otherwise
    // plan a sort-merge join of two community-width frames)
    sd.join(stateHint(win, nNodes), Seq("community"), "left")
      .crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"),
        coalesce(col("w_in_x2"), lit(0L)).as("w_in_x2"), col("s_deg"),
        Q.roundz(
          coalesce(col("w_in_x2"), lit(0L)).cast("double") / col("w_x2")
            - (col("s_deg").cast("double") / col("w_x2"))
              * (col("s_deg").cast("double") / col("w_x2")), 6)
          .as("q_term"))
  }

  /** `rounds` rounds of multi-source BFS over an undirected edge list
    * (s, t) — both directions present — from a seed frame of (n) rows:
    * frontier-relaxation dist(n) = min(dist(n), min over nbrs dist+1),
    * the bounded-hop reachability / shortest-distance primitive.
    *
    * Scale shape (100 TB): the distance frame is NODE-width (only
    * reached nodes carry rows) and broadcast-joins into the streaming
    * edge scan; each round is one map-side-combined min aggregate.
    * Identical loop shape to [[peelKCore]], and like it the bounded form
    * stops at convergence ([[bfsFixpoint]]); per-round localCheckpoint,
    * bucketed-edge fallback beyond broadcast. */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = bfsFixpoint(edges, seeds, rounds)._1

  /** Multi-source BFS to FIXPOINT (all reachable nodes at their true
    * shortest distance), capped at `maxRounds`. Returns (dist,
    * roundsRun). Convergence probe: the relaxation is monotone — rows
    * are only ever ADDED and distances only ever DECREASE — so the
    * (row count, Σdist) fingerprint of consecutive rounds is a sound
    * stationarity check (either event moves it), one cheap aggregate
    * over the checkpointed node-width frame per round. Converged ⇒
    * further rounds are identity, so the capped fixpoint ≡ the
    * `maxRounds`-bounded form on every input (pinned in GraphFixpointSpec);
    * that equivalence is what keeps q_bfs_reach's unrolled oracle
    * exact. */
  def bfsFixpoint(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val (d, r, _) = bfsRun(edges, seeds, maxRounds, snapAt = maxRounds)
    (d, r)
  }

  /** The shared relaxation loop, with an optional mid-run SNAPSHOT: the
    * bounded declared query is an exact prefix of the fixpoint run
    * (rounds are deterministic), so one shared run can serve both —
    * `snapAt` rounds in, the current distance frame IS the bounded
    * result (or the final frame, identical, when convergence landed
    * first). `edges` should arrive materialized (scanned once per
    * round); distance state is node-width, checkpointed per round,
    * size-dispatched into the edge scan ([[stateHint]]). The per-round
    * fingerprint aggregate doubles as the frontier-size probe the
    * dispatch needs. */
  private def bfsRun(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      snapAt: Int): (DataFrame, Int, DataFrame) = {
    val e = edges
    var dist = seeds.select(col("n"), lit(0L).as("dist"))
      .localCheckpoint(true)
    def sig(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }
    var prev = sig(dist)
    var snap: DataFrame = null
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val next = dist.union(
          e.join(stateHint(dist.select(col("n").as("t"), col("dist")),
            prev._1), "t")
            .select(col("s").as("n"), (col("dist") + lit(1L)).as("dist")))
        .groupBy("n").agg(min("dist").as("dist"))
        .localCheckpoint(true)
      r += 1
      val cur = sig(next)
      if (cur == prev) converged = true
      prev = cur
      dist = next
      if (r == snapAt) snap = dist
    }
    (dist, r, if (snap == null) dist else snap)
  }

  /** ONE relaxation run serving BOTH declared BFS queries
    * ([[bfsRun]] snapshot at [[bfsRounds]], fixpoint cap
    * [[bfsFixMaxRounds]]); memoized per (session, dir). */
  private[graft] def bfsShared(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) =
    graft.Memo(s, s"graph.bfsShared:$d", d) {
      val e = weightedEdges(s, d).select(col("s"), col("t"))
      val seeds = e.select(col("s").as("n"))
        .where(col("n") % 199 === 0).distinct()
      val (fin, _, snap) = bfsRun(e, seeds, bfsFixMaxRounds, snapAt = bfsRounds)
      (snap, fin)
    }

  private val bfsRounds = 4

  private def bfsRoundSql(r: Int): String =
    s"""d$r AS MATERIALIZED (SELECT n, MIN(dist) AS dist FROM (
       |  SELECT n, dist FROM d${r - 1}
       |  UNION ALL SELECT e.s, d.dist + 1 FROM e
       |    JOIN d${r - 1} d ON e.t = d.n) u GROUP BY n)""".stripMargin

  /** The BFS oracle, parameterized by round count so q_bfs_hops and
    * q_bfs_reach share one CTE builder (the [[pagerankOracle]] pattern);
    * the seeds are the partkey ≡ 0 (mod 199) nodes. */
  private def bfsOracle(rounds: Int): String =
    s"""WITH ${repeatEdgesSql(weighted = false)},
       |d0 AS MATERIALIZED (SELECT DISTINCT s AS n, CAST(0 AS BIGINT) AS dist
       |  FROM e WHERE s % 199 = 0),
       |${(1 to rounds).map(bfsRoundSql).mkString(",\n")}
       |SELECT n AS node, dist FROM d$rounds ORDER BY node""".stripMargin

  /** X17: bounded-hop multi-source BFS (4 rounds) over the
    * repeat-co-purchase graph from the partkey ≡ 0 (mod 199) seed set —
    * a genuine frontier expansion (sf0.01: 11 seeds → 51 → 189 → 616 →
    * 1336 reached). Distances are exact BIGINTs; the oracle unrolls the
    * relaxation rounds as CTEs. */
  private val qBfsHops = Q("q_bfs_hops", bfsOracle(bfsRounds)) { (s, d) =>
    // bounded form = the round-4 snapshot of the shared relaxation run
    // (seeds and loop both read the one memoized checkpointed edge
    // frame — round-8 advisor: deriving seeds from a fresh frame
    // replayed the whole co-occurrence pipeline a second time)
    bfsShared(s, d)._1
      .select(col("n").as("node"), col("dist")).orderBy("node")
  }

  /** Round budget for q_bfs_reach: comfortably above the graph's seen
    * eccentricity from the seed set at every testdata sf (the frontier
    * dies out in single-digit rounds), so the declared query runs the
    * true fixpoint; capped-≡-bounded ([[bfsFixpoint]]) keeps the
    * unrolled oracle exact even where the cap binds. */
  private val bfsFixMaxRounds = 16

  /** X17: multi-source BFS to FIXPOINT — the full reachable set of the
    * partkey ≡ 0 (mod 199) seeds with true shortest hop distances, the
    * user-facing form of q_bfs_hops. Oracle unrolls [[bfsFixMaxRounds]]
    * relaxation rounds (identity after convergence). */
  private val qBfsReach =
    Q("q_bfs_reach", bfsOracle(bfsFixMaxRounds)) { (s, d) =>
    // fixpoint form = the terminal state of the same shared run
    bfsShared(s, d)._2
      .select(col("n").as("node"), col("dist")).orderBy("node")
  }

  val all: Seq[Q] =
    Seq(qPagerank, qPagerankFixpoint, qPpr, qPprFixpoint, qTriangles,
      qKcore, qKcoreFixpoint, qLabelProp, qModularity, qBfsHops, qBfsReach)
}
