package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Connected-components and dedup-resolution semantics on known graphs. */
class DedupSpec extends SparkSpec {

  test("connected components labels each node with its component minimum") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (triangle)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 21L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
  }

  test("long chains converge (diameter > a couple of rounds)") {
    import spark.implicits._
    val n = 40L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges).collect()
    cc.length shouldBe n
    cc.foreach(r => r.getAs[Long]("comp") shouldBe 1L)
  }

  test("empty edge set: no labels, every doc canonical (no NPE on null sum)") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    Dedup.connectedComponents(edges).count() shouldBe 0L
    val docs = (0L until 5L).toDF("doc_id")
    val res = Dedup.resolve(docs, edges).collect()
    res.length shouldBe 5
    res.foreach { r =>
      r.getAs[Long]("keep_id") shouldBe r.getAs[Long]("doc_id")
      r.getAs[Boolean]("is_canonical") shouldBe true
    }
  }

  test("property: components equal in-core union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4321)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val compMin = touched.groupBy(v => find(v.toInt))
        .flatMap { case (_, mem) => mem.map(_ -> mem.min) }
      val got = Dedup.connectedComponents(edges.toDF("a", "b")).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
      got shouldBe compMin
    }
  }

  test("union-find path: duplicate edges both ways and self-loop-only nodes") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val base = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    // every edge again reversed, a third of them a third time, and nodes
    // 100..104 that only ever appear in (repeated) self-loops
    val loops = (100L until 105L).map(i => (i, i))
    val edges = base ++ base.map(_.swap) ++ base.take(20) ++ loops ++ loops
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val (cc, nodeBound) = Dedup.connectedComponentsBound(edges.toDF("a", "b"))
    val got = cc.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    got shouldBe want
    (100L until 105L).foreach(i => got(i) shouldBe i)
    nodeBound should be >= want.size.toLong
  }

  test("star contraction equals label propagation on random graphs (differential)") {
    import spark.implicits._
    // two independently-derived fixpoints: the production alternating
    // large-star/small-star contraction vs the pointer-jumping label
    // propagation baseline. Self-loops deliberately left in (both must
    // label a self-loop-only node with itself).
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 3) {
      val n = 80
      val edges = (Seq.fill(100)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (40L until 70L).map(i => (i, i + 1))).toDF("a", "b")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
      val prop = toMap(Dedup.connectedComponentsProp(edges))
      // default path (these graphs are under the small-edge bound, so
      // this exercises the one-task union-find finish) ...
      toMap(Dedup.connectedComponents(edges)) shouldBe prop
      // ... and the star-contraction loop proper, forced by disabling
      // the hybrid finish — both fixpoints must agree with propagation
      toMap(Dedup.connectedComponents(edges, smallEdgeBound = 0L)) shouldBe
        prop
    }
  }

  test("boilerplate cap bounds candidate pairs under heavy shingle skew") {
    import spark.implicits._
    // 800 docs all sharing one boilerplate sentence (every doc also has
    // unique content): WITHOUT the df cap the shared shingles alone emit
    // ~800²/2 ≈ 320k candidate pairs — the hot-key quadratic that kills
    // shingle dedup at corpus scale. With the cap (df ≤ 50) the shared
    // shingles drop before pairing and candidates collapse to ~zero.
    val boiler = "this document is provided as is without warranty of any kind"
    val docs = (0L until 800L).map { i =>
      (i, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d")
    }.toDF("doc_id", "text")
    val sh = graft.operators.PipelineQueries.rareShinglesOf(docs)
    val nPairs = sh.as("x").join(sh.as("y"),
      col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .count()
    nPairs should be < 1000L // uncapped would be ~320k from boilerplate alone
    // the rare set still carries each doc's unique shingles
    sh.select("doc_id").distinct().count() shouldBe 800L
  }

  test("inverted-list pair generation equals the self-join formulation") {
    // the declared queries emit per-shingle C(df,2) combinations off the
    // posting lists; the sh JOIN sh ON same-shingle form is the baseline
    val docs = Tables.documents(spark, sfDir)
    val P = graft.operators.PipelineQueries
    val got = P.shingleInterOf(P.rareShingleListsOf(docs)).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("inter")).toMap
    val sh = P.rareShinglesOf(docs)
    val want = sh.as("x").join(sh.as("y"),
      col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter")).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("inter")).toMap
    got shouldBe want
    // and the per-doc sizes agree with the flat rare set
    val gotSz = P.shingleSizesOf(P.rareShingleListsOf(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sz")).toMap
    val wantSz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sz")).toMap
    gotSz shouldBe wantSz
  }

  test("narrow shinglesOf equals the window-based shingles, with no Exchange") {
    import graft.functions.TextFns
    val docs = Tables.documents(spark, sfDir)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.distinct().collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh"))).toSet
    val narrow = TextFns.shinglesOf(docs)
    sets(narrow) shouldBe sets(TextFns.shingles(TextFns.tokens(docs)))
    // the whole point: tokenize→shingle must not shuffle
    narrow.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("survivor delta-corrected pairs == the direct survivor pass, incl. newly-rare band shingles") {
    import spark.implicits._
    val P = graft.operators.PipelineQueries
    // corpus engineered so exact dedup CHANGES the rare-shingle set:
    // a phrase shared by 53 docs (df = 53 > τ = 50 — capped away in the
    // full corpus), three of them exact copies of doc 0. Removing the
    // copies drops the phrase's df to 50 ≤ τ — NEWLY RARE — so the
    // survivor corpus gains C(50,2) phrase pairs the full-corpus stage
    // never saw, while pairs touching the removed docs (via doc 0's
    // unique tail shingles) must drop. Docs 60/61 add an ordinary
    // surviving near-dup pair.
    val phrase = "alpha beta gamma delta epsilon"
    val base = (0L until 50L).map(i =>
      (i, s"$phrase uniq${i}a uniq${i}b uniq${i}c"))
    val copies = Seq(50L, 51L, 52L).map(i => (i, base.head._2))
    val pair = Seq(
      (60L, "foo bar baz qux quux corge sixty"),
      (61L, "foo bar baz qux quux corge sixtyone"))
    val docs = (base ++ copies ++ pair).toDF("doc_id", "text")
    val removed = Seq(50L, 51L, 52L).toDF("doc_id")
    val stage = P.candidateStageOf(docs, cap = 50 + 64)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = pairSet(P.survivorJaccardPairs(stage, removed))
    val want = pairSet(P.jaccardPairs(
      docs.join(removed, Seq("doc_id"), "left_anti")))
    got shouldBe want
    // the newly-rare phrase really created pairs the full stage lacked
    val full = pairSet(stage._1)
    (got.keySet -- full.keySet) should not be empty
    // and with nothing removed, the delta is the identity
    pairSet(P.survivorJaccardPairs(stage,
      spark.emptyDataset[Long].toDF("doc_id"))) shouldBe full
  }

  test("resolve keeps exactly one canonical doc per dup group") {
    import spark.implicits._
    val docs = (0L until 10L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (3L, 5L), (7L, 8L)).toDF("a", "b")
    val res = Dedup.resolve(docs, pairs)
    res.count() shouldBe 10
    // groups: {1,3,5} keep 1; {7,8} keep 7; singletons keep themselves
    val kept = res.filter(col("is_canonical")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(0L, 1L, 2L, 4L, 6L, 7L, 9L)
    res.filter(col("doc_id") === 5L).head().getAs[Long]("keep_id") shouldBe 1L
  }
}
