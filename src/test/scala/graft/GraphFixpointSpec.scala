package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 verdict asks #1/#2: the fixpoint forms of the iterative graph
  * loops (converge-and-stop, vs the bounded-round declared queries) and
  * the size-dispatched state joins (broadcast under the budget, plain
  * shuffle join beyond — never a driver-OOM hard hint at 10⁸ nodes).
  *
  * The load-bearing property for the declared fixpoint queries
  * (q_kcore_fixpoint, q_bfs_reach) is CAPPED FIXPOINT ≡ BOUNDED FORM on
  * every input: converged early → remaining rounds are identity; not
  * converged → both executed exactly the cap. That equivalence is what
  * lets a data-dependent loop keep an exact unrolled DuckDB oracle, so
  * it is pinned here differentially on synthetic graphs engineered to
  * hit both sides (early convergence AND a binding cap).
  */
class GraphFixpointSpec extends SparkSpec {

  import spark.implicits._

  /** Undirected helper: symmetrize an (s, t) pair list. */
  private def und(pairs: Seq[(Long, Long)]): DataFrame = {
    val d = pairs.toDF("s", "t")
    d.union(d.select($"t", $"s"))
  }

  private def coreMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // K4 clique (all degree 3) + pendant path 4-5-6-7-8: peeling at k = 2
  // eats the path one node per round from the free end — a 4-round
  // cascade, so fixpoint genuinely iterates past the declared queries'
  // bounded budget before the clique alone survives. NOTE: peelKCore
  // takes each undirected edge ONCE (it degree-counts both endpoints),
  // unlike the symmetrized lists the LPA/BFS loops consume.
  private def caterpillar: DataFrame =
    ((for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))).toDF("s", "t")

  test("k-core fixpoint: peels the whole pendant path, stops early, equals the bounded form") {
    val (core, rounds) = Graph.kCoreFixpoint(caterpillar, k = 2, maxRounds = 64)
    // the path needs 4 peel rounds (8, then 7, 6, 5); K4 survives at deg 3
    coreMap(core) shouldBe (1L to 4L).map(_ -> 3L).toMap
    rounds shouldBe 4
    // capped-fixpoint == bounded form once converged
    coreMap(Graph.peelKCore(caterpillar, k = 2, rounds = 10)) shouldBe coreMap(core)
  }

  test("k-core fixpoint with a binding cap == the bounded form at the cap") {
    val (capped, rounds) = Graph.kCoreFixpoint(caterpillar, k = 2, maxRounds = 2)
    rounds shouldBe 2
    coreMap(capped) shouldBe coreMap(Graph.peelKCore(caterpillar, k = 2, rounds = 2))
    // and it is genuinely NOT yet the fixpoint: node 6 still alive at deg 1
    coreMap(capped).keySet should contain(6L)
  }

  test("LPA fixpoint converges on bridged triangles and equals the bounded form") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).map { case (a, b) => (a, b, 3L) }
    val w = (tri :+ ((3L, 10L, 1L))).toDF("s", "t", "w")
    val e = w.union(w.select($"t", $"s", $"w"))
    val (lbl, rounds) = Graph.labelPropagationFixpoint(e, maxRounds = 16)
    coreMap(lbl) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    // settles in 2 rounds + 1 detection round; well under the cap
    rounds should be < 16
    coreMap(Graph.labelPropagation(e, rounds)) shouldBe coreMap(lbl)
  }

  test("LPA fixpoint cap is load-bearing: a 2-cycle oscillator runs exactly maxRounds") {
    // single edge 1-2: synchronous LPA swaps labels every round, forever
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("s", "t", "w")
    val (lbl, rounds) = Graph.labelPropagationFixpoint(e, maxRounds = 5)
    rounds shouldBe 5
    // parity of the cap decides the phase; 5 rounds == bounded 5 rounds
    coreMap(lbl) shouldBe coreMap(Graph.labelPropagation(e, 5))
  }

  test("BFS fixpoint reaches the whole path at exact distances and stops early") {
    val path = und((1L to 10L).sliding(2).map(x => (x(0), x(1))).toSeq)
    val seeds = Seq(Tuple1(1L)).toDF("n")
    val (dist, rounds) = Graph.bfsFixpoint(path, seeds, maxRounds = 64)
    coreMap(dist) shouldBe (1L to 10L).map(n => n -> (n - 1)).toMap
    // 9 relaxation rounds + 1 stationarity-detection round
    rounds shouldBe 10
    coreMap(Graph.bfsHops(path, seeds, 12)) shouldBe coreMap(dist)
  }

  test("BFS fixpoint with a binding cap == the bounded form at the cap") {
    val path = und((1L to 10L).sliding(2).map(x => (x(0), x(1))).toSeq)
    val seeds = Seq(Tuple1(1L)).toDF("n")
    val (capped, rounds) = Graph.bfsFixpoint(path, seeds, maxRounds = 3)
    rounds shouldBe 3
    coreMap(capped) shouldBe coreMap(Graph.bfsHops(path, seeds, 3))
    coreMap(capped).keySet shouldBe (1L to 4L).toSet
  }

  /** (e, deg, n) the rank loops consume, built exactly like
    * Graph.edgeFramesBuild from a symmetrized pair list. */
  private def rankFrames(pairs: Seq[(Long, Long)]): (DataFrame, DataFrame, Long) = {
    val e = und(pairs).toDF("src", "dst").localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    (e, deg, deg.count())
  }

  private def rankMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("PageRank fixpoint: uniform rank is stationary on a regular graph — stops after one round") {
    // K4: every node has outdeg 3, so the uniform init is the exact
    // stationary distribution; the quantized L1 delta is 0 after round 1
    val (e, deg, n) = rankFrames(
      for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
    val (pr, rounds) = Graph.pagerankFixpoint(e, deg, n, eps = 1e-9,
      maxRounds = 64)
    rounds shouldBe 1
    // capped fixpoint == the bounded form at the round it stopped
    rankMap(pr) shouldBe rankMap(Graph.pagerankRanksOn(e, deg, n, 1))
    rankMap(pr).values.foreach(_ shouldBe 0.25 +- 1e-12)
  }

  test("PageRank fixpoint: ε-probe fires mid-run on an asymmetric graph, == bounded at that round") {
    // K4 + pendant path (the caterpillar): rank keeps sloshing between
    // the clique and the tail, decaying ~0.85^r — the probe must stop
    // the loop strictly between round 1 and the cap
    val (e, deg, n) = rankFrames(
      (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
        Seq((4L, 5L), (5L, 6L)))
    val (pr, rounds) = Graph.pagerankFixpoint(e, deg, n, eps = 5e-3,
      maxRounds = 64)
    rounds should be > 1
    rounds should be < 64
    rankMap(pr) shouldBe rankMap(Graph.pagerankRanksOn(e, deg, n, rounds))
  }

  test("PageRank fixpoint with a binding cap == the bounded form at the cap") {
    val (e, deg, n) = rankFrames(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    // eps = 0 can never fire (the delta is non-negative): the cap binds
    val (pr, rounds) = Graph.pagerankFixpoint(e, deg, n, eps = 0.0,
      maxRounds = 3)
    rounds shouldBe 3
    rankMap(pr) shouldBe rankMap(Graph.pagerankRanksOn(e, deg, n, 3))
  }

  test("PPR fixpoint: stationary seed distribution stops after one round, == bounded") {
    // single edge, both endpoints seeds at reset 1/2: pr stays (.5, .5)
    val (e, deg, n) = rankFrames(Seq((1L, 2L)))
    val reset = when(col("node") <= 2, lit(0.5)).otherwise(lit(0.0))
    val (pr, rounds) = Graph.pprFixpoint(e, deg, n, reset, eps = 1e-9,
      maxRounds = 16)
    rounds shouldBe 1
    rankMap(pr) shouldBe rankMap(Graph.pprRanksOn(e, deg, n, reset, 1))
  }

  test("PPR fixpoint with a binding cap == the bounded form at the cap") {
    val (e, deg, n) = rankFrames(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val reset = when(col("node") === 1, lit(1.0)).otherwise(lit(0.0))
    val (pr, rounds) = Graph.pprFixpoint(e, deg, n, reset, eps = 0.0,
      maxRounds = 3)
    rounds shouldBe 3
    rankMap(pr) shouldBe rankMap(Graph.pprRanksOn(e, deg, n, reset, 3))
  }

  /** `f` on both rank arms: the driver-held rank vector at the default
    * `graft.graph.broadcastStateBytes`, then the DataFrame rounds at a
    * zero budget; with each arm's Spark job count. */
  private def bothArms[T](f: => T): ((T, Int), (T, Int)) = {
    val key = "graft.graph.broadcastStateBytes"
    spark.conf.unset(key)
    try {
      val held = jobsOf(f)
      spark.conf.set(key, "0")
      (held, jobsOf(f))
    } finally spark.conf.unset(key)
  }

  /** The four rank forms on (e, deg, n), ε and cap as given, each with
    * its rounds (the bounded forms run `bounded` rounds). */
  private def fourForms(e: DataFrame, deg: DataFrame, n: Long,
      reset: org.apache.spark.sql.Column, bounded: Int, eps: Double,
      cap: Int): Seq[(Map[Long, Double], Int)] = Seq(
    rankMap(Graph.pagerankRanksOn(e, deg, n, bounded)) -> bounded,
    Graph.pagerankFixpoint(e, deg, n, eps, cap) match {
      case (pr, r) => rankMap(pr) -> r },
    rankMap(Graph.pprRanksOn(e, deg, n, reset, bounded)) -> bounded,
    Graph.pprFixpoint(e, deg, n, reset, eps, cap) match {
      case (pr, r) => rankMap(pr) -> r })

  test("both rank arms agree bit for bit on the corpus: driver-held under the budget, DataFrame rounds at budget 0") {
    try {
      val (e, deg, n) = Graph.edgeFrames(spark, sfDir)
      val reset = when(col("node") < 1000000L && col("node") % 100 === 0,
        lit(1.0) / 7).otherwise(lit(0.0))
      val ((held, heldJobs), (frames, frameJobs)) =
        bothArms(fourForms(e, deg, n, reset, 5, 1e-12, 8))
      held shouldBe frames
      held.map(_._2) shouldBe Seq(5, 8, 5, 8)
      held.foreach(_._1.size shouldBe n)
      // the dispatch took each arm: one job per held round, several per
      // DataFrame round plus its probe
      info(s"jobs: driver-held $heldJobs, DataFrame rounds $frameJobs")
      heldJobs should be < frameJobs
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }

  test("the driver arm is sized by the bytes it holds per node: at a budget of n × 16 B the DataFrame rounds run, bit-identical") {
    val key = "graft.graph.broadcastStateBytes"
    try {
      val (e, deg, n) = Graph.edgeFrames(spark, sfDir)
      val reset = when(col("node") < 1000000L && col("node") % 100 === 0,
        lit(1.0) / 7).otherwise(lit(0.0))
      spark.conf.unset(key)
      val (held, heldJobs) = jobsOf(fourForms(e, deg, n, reset, 5, 1e-12, 8))
      // n × 16 B fits (the node-width state joins still broadcast), but
      // the driver arm's own footprint does not
      spark.conf.set(key, (n * 16).toString)
      Graph.fitsState(spark, n) shouldBe true
      Graph.fitsState(spark, n,
        graft.operators.DriverRank.bytesPerNode) shouldBe false
      val (frames, frameJobs) =
        jobsOf(fourForms(e, deg, n, reset, 5, 1e-12, 8))
      frames shouldBe held
      // several jobs per DataFrame round plus its probe, against one per
      // driver-held round
      info(s"jobs: driver-held $heldJobs, at n × 16 B $frameJobs")
      frameJobs should be > 2 * heldJobs
    } finally {
      spark.conf.unset(key)
      Memo.release(spark); Cleanup(spark)
    }
  }

  test("both rank arms stop at the same round when a loose ε fires mid-run") {
    // the caterpillar of the PageRank ε test; PPR seeded at the tail end
    val (e, deg, n) = rankFrames(
      (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
        Seq((4L, 5L), (5L, 6L)))
    val reset = when(col("node") === 6, lit(1.0)).otherwise(lit(0.0))
    val ((held, _), (frames, _)) =
      bothArms(fourForms(e, deg, n, reset, 4, 5e-3, 64))
    held shouldBe frames
    Seq(held(1)._2, held(3)._2).foreach { r =>
      r should be > 1
      r should be < 64
    }
  }

  test("both rank arms keep the same node set on directed graphs with sources and sinks") {
    // directed: 1 has no in-edges and 9 no out-edges (no degree row), so
    // PageRank drops 1 and gains 9 after round 1 while PPR keeps every
    // degree src; the 2 → 3 → 4 → 2 cycle keeps rank circulating
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L), (4L, 9L), (2L, 5L),
      (5L, 6L), (6L, 9L)).toDF("src", "dst").localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val n = deg.count()
    val reset = when(col("node") === 1, lit(1.0)).otherwise(lit(0.0))
    for (rounds <- 1 to 4) withClue(s"$rounds rounds: ") {
      val ((held, _), (frames, _)) =
        bothArms(fourForms(e, deg, n, reset, rounds, 1e-3, rounds))
      held shouldBe frames
    }
    val ((one, _), _) = bothArms(rankMap(Graph.pagerankRanksOn(e, deg, n, 1)))
    // round 1 reaches exactly the dst nodes of the degree srcs' edges
    one.keySet shouldBe Set(2L, 3L, 4L, 5L, 6L, 9L)
  }

  test("round0 is Spark's round-to-long: HALF_UP on the shortest decimal string") {
    val rnd = new scala.util.Random(5)
    val xs = Seq(0.5, 1.5, 2.5, -0.5, -2.5, 0.49999999999999994, -0.49999999999999994,
      4503599627370495.5, 4503599627370496.0, 9.007199254740993e15, 1e18,
      -1e18, 0.0, -0.0, 1e12 / 3, 123456.49999999999, 123456.50000000001) ++
      Seq.fill(2000)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(18))) ++
      Seq.fill(2000)((rnd.nextInt(1000000) + 0.5) * (if (rnd.nextBoolean()) 1 else -1)) ++
      Seq.fill(2000)(math.nextAfter(rnd.nextInt(1000000) + 0.5,
        if (rnd.nextBoolean()) 0.0 else 1e7))
    val df = xs.toDF("x").select(col("x"), round(col("x")).cast("long").as("r"))
    df.collect().foreach { r =>
      withClue(s"x=${r.getDouble(0)}: ") {
        graft.operators.DriverRank.round0(r.getDouble(0)) shouldBe r.getLong(1)
      }
    }
  }

  private def countBhj(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def walk(p: SparkPlan): Int = p match {
      case _: BroadcastHashJoinExec => 1 + p.children.map(walk).sum
      case _ => p.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("state joins dispatch on estimated size: broadcast under the budget, shuffle join beyond") {
    Graph.withAqeOff(spark) {
      val (e, deg, n) = Graph.edgeFrames(spark, sfDir)
      val pr0 = deg.select(col("src").as("node"), (lit(1.0) / n).as("pr"))
        .localCheckpoint(true)
      val key = "graft.graph.broadcastStateBytes"
      // default budget: both node-width state joins broadcast
      spark.conf.unset(key)
      val hinted = Graph.rankIteration(e, deg, pr0, n)
      countBhj(hinted) shouldBe 2
      // zero budget: the SAME iteration plans plain (shuffle) joins —
      // the |V| ≥ 10⁸ shape where a hard broadcast hint would OOM
      spark.conf.set(key, "0")
      try {
        val plain = Graph.rankIteration(e, deg, pr0, n)
        countBhj(plain) shouldBe 0
        // and the dispatch is plan-only: bit-identical ranks either way
        // (quantized-long contributions are order-free)
        val a = hinted.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val b = plain.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        b shouldBe a
      } finally spark.conf.unset(key)
    }
  }

  test("edge-checkpoint storage level dispatches on source bytes, results unchanged") {
    // round-13: unconditional MEMORY_AND_DISK_SER (the sf100 OOM fix)
    // taxed every gate-scale fixpoint read with deserialization —
    // 15-22% on the r12 driver bench. The dispatch keeps the fast
    // deserialized default below graft.graph.serializedCheckpointBytes
    // of lineitem bytes and the compact spill-friendly SER form above.
    import org.apache.spark.storage.StorageLevel
    val key = "graft.graph.serializedCheckpointBytes"
    spark.conf.unset(key)
    try {
      // sf0.001 lineitem is ~100 KB — far under the 4 GiB default
      Graph.edgeCheckpointLevel(spark, sfDir) shouldBe
        StorageLevel.MEMORY_AND_DISK
      // force the big-data side: everything is past a 0-byte budget
      spark.conf.set(key, "0")
      Graph.edgeCheckpointLevel(spark, sfDir) shouldBe
        StorageLevel.MEMORY_AND_DISK_SER
      // a missing source dir dispatches to SER (survival default for
      // non-local deployments, which should set the conf explicitly)
      spark.conf.unset(key)
      Graph.edgeCheckpointLevel(spark, "/nonexistent") shouldBe
        StorageLevel.MEMORY_AND_DISK_SER
      // storage level is plan-invisible: the same ranks come out of a
      // fresh edge build either way
      def ranks(): Map[Long, Double] = {
        Memo.release(spark); Cleanup(spark)
        Graph.pagerankRanks(spark, sfDir, 3).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      val fast = ranks()
      spark.conf.set(key, "0")
      ranks() shouldBe fast
    } finally {
      spark.conf.unset(key)
      Memo.release(spark); Cleanup(spark)
    }
  }

  test("declared rank queries read one memo entry each: bounded/fixpoint == the standalone loops on the corpus") {
    try {
      val (e, deg, n) = Graph.edgeFrames(spark, sfDir)
      def run(ppr: Boolean, fixpoint: Boolean) =
        rankMap(Graph.rankRun(spark, sfDir, ppr, fixpoint))
      run(ppr = false, fixpoint = false) shouldBe
        rankMap(Graph.pagerankRanksOn(e, deg, n, 5))
      run(ppr = false, fixpoint = true) shouldBe
        rankMap(Graph.pagerankFixpoint(e, deg, n, 1e-12, 8)._1)
      val reset = when(col("node") < 1000000L && col("node") % 100 === 0,
        lit(1.0) / deg.select(col("src").as("node"))
          .where(col("node") < 1000000L && col("node") % 100 === 0).count())
        .otherwise(lit(0.0))
      run(ppr = true, fixpoint = false) shouldBe
        rankMap(Graph.pprRanksOn(e, deg, n, reset, 5))
      run(ppr = true, fixpoint = true) shouldBe
        rankMap(Graph.pprFixpoint(e, deg, n, reset, 1e-12, 8)._1)
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }
}
