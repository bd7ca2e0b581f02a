package graft

/** Per-call Spark job counts of the four declared rank queries, on an
  * empty memo in declaration order and on a memo hit. Each bound is the
  * count measured on this fixture with the driver-held rank arm (one job
  * per round, no probe job): a count may fall, never rise. */
class RankJobsSpec extends SparkSpec {

  private val rankQueries = Seq("q_pagerank", "q_pagerank_fixpoint",
    "q_ppr", "q_ppr_fixpoint")

  private val coldBound = Map("q_pagerank" -> 18, "q_pagerank_fixpoint" -> 14,
    "q_ppr" -> 13, "q_ppr_fixpoint" -> 16)
  private val hitBound = Map("q_pagerank" -> 3, "q_pagerank_fixpoint" -> 3,
    "q_ppr" -> 3, "q_ppr_fixpoint" -> 3)

  /** One call of each rank query, timed to its whole result, in
    * declaration order; the job count of each call. */
  private def pass(): Map[String, Int] = rankQueries.map { name =>
    val fn = SparkEntry.queries(name)
    val (_, jobs) = jobsOf(
      fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    Cleanup(spark)
    name -> jobs
  }.toMap

  test("rank queries run no more jobs per call than their bounds, cold and on a memo hit") {
    try {
      Memo.release(spark); Cleanup(spark)
      // the schema cache is JVM-wide: read the graph's tables first so
      // the counts do not depend on which suite ran before this one
      Tables.orders(spark, sfDir); Tables.lineitem(spark, sfDir)
      val cold = pass()
      val hit = pass()
      info(s"cold $cold; memo hit $hit")
      rankQueries.foreach { q =>
        withClue(s"$q cold: ")(cold(q) should be <= coldBound(q))
        withClue(s"$q memo hit: ")(hit(q) should be <= hitBound(q))
      }
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }
}
