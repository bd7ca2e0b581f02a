package graft

import org.apache.spark.sql.SparkSession

/** Per-query storage hygiene for the Verify/Bench harnesses: queries are
  * allowed to `persist`/`localCheckpoint` intermediates they reuse within
  * one plan (rare-shingle tables, TWCNB complement counts, tf
  * materializations), and the HARNESS frees them after each query's
  * terminal action — otherwise a full 85-query run accumulates orphaned
  * MEMORY_AND_DISK blocks for the session lifetime, evicting later
  * queries' working set and skewing timings (advisor finding, round 2).
  *
  * [[Memo]]-pinned blocks are the one exception: frames deliberately
  * shared ACROSS queries (graph builds, the LPA assignment) must survive
  * the per-query sweep — they are bounded (node/edge-width) and freed
  * with the session.
  *
  * Shuffle files are Spark's to free: its ContextCleaner removes them once
  * the dead shuffle dependencies are garbage-collected. A big-sf suite
  * that fills its scratch disk tunes that cleaner with Spark's own
  * `spark.cleaner.*` confs (USAGE.md). */
object Cleanup {
  def apply(spark: SparkSession): Unit = {
    // query boundary first: the finished query's frames are dead, so
    // memo entries handed to it become eligible for byte-budget
    // eviction again (Memo's touched-set protection)
    Memo.queryBoundary(spark)
    spark.sharedState.cacheManager.clearCache()
    val keep = Memo.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) Memo.free(rdd, blocking = false)
    }
  }
}
