package graft

import org.apache.spark.sql.SparkSession

/** Cold-build cost probe for the [[Memo]]-shared frames: starting from
  * an empty memo, times each builder IN DEPENDENCY ORDER, so each
  * number is that builder's INCREMENTAL cost given its memoized
  * dependencies (kCoreShared is timed after coOccurEdgesCk; bfsShared
  * and lpaAssignment after weightedEdges) and the TOTAL is the true
  * cold end-to-end cost of all shared builds — the one-time figure the
  * per-query bench marginals exclude (min-of-reps drops the first
  * consumer's build rep). A single query run alone cold pays its own
  * dependency chain, i.e. the SUM of its builders' lines, not one
  * line. Run: `sbt "runMain graft.MemoProbe [sfDir]"`.
  */
object MemoProbe {
  /** The shared builders in dependency order (a builder's nested memo
    * calls come earlier in the list) — the probe times each one here;
    * [[Bench]] runs the same list once, sequentially, before its first
    * measured pass so the emitted `memo_builds_sec` is exactly the
    * one-time cost its per-query marginals exclude. */
  def builders(s: SparkSession, d: String): Seq[(String, () => Any)] = Seq(
    "edgeFrames" -> (() => operators.Graph.edgeFrames(s, d)),
    "rankShared" -> (() => operators.Graph.rankShared(s, d)),
    "pprShared" -> (() => operators.Graph.pprShared(s, d)),
    "coOccurEdgesCk" -> (() => operators.Graph.coOccurEdgesCk(s, d)),
    "weightedEdges" -> (() => operators.Graph.weightedEdges(s, d)),
    "lpaAssignment" -> (() => operators.Graph.lpaAssignment(s, d)),
    "kCoreShared" -> (() => operators.Graph.kCoreShared(s, d)),
    "bfsShared" -> (() => operators.Graph.bfsShared(s, d)),
    "jaccardPairsShared" ->
      (() => operators.PipelineQueries.jaccardPairsShared(s, d)),
    "tfMatrix" -> (() => operators.TextQueries.tfMatrix(s, d)),
    "twcnbModel" -> (() => operators.TextQueries.twcnbCountModel(s, d)),
    "qualitySig" -> (() => operators.PipelineQueries.qualitySigForProbe(s, d)),
    "ivfCenters" -> (() => operators.PipelineQueries.ivfCentersForProbe(s, d)),
    "sh8Counts" -> (() => operators.PipelineQueries.sh8Counts(s, d)),
    "gramOnePass" -> (() => operators.CooQueries.gramCellsForTest(s, d)),
    "ridgeSums" -> (() => ml.MlQueries.ridgeSumsForProbe(s, d)),
    "matA" -> (() => operators.CooViews.matA(s, d)),
    "matB" -> (() => operators.CooViews.matB(s, d)),
    "matS" -> (() => operators.CooViews.matS(s, d)))

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = HarnessSession.builder(cpus, settle = false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // builders are eager (localCheckpoint(true)), so wall time around the
    // call IS the materialization cost; warm-up once on sf0.001 to keep
    // JVM/codegen cold-start out of the numbers
    operators.Graph.edgeFrames(spark, "/root/testdata/sf0.001")
    Memo.clear(); Cleanup(spark)
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$name%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    builders(spark, d).foreach { case (name, f) => time(name)(f()) }
    println(f"pinned bytes: ${Memo.pinnedBytes(spark)}%,d")
    spark.stop()
  }
}
