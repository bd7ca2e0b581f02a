package graft

/** Per-call Spark job counts of the queries that build their result on
  * the driver, on an empty memo in declaration order and on a memo hit,
  * as [[RankJobsSpec]] pins the rank queries'. The TWCNB trio trains
  * through the driver arm of `TWCNB.fit` (one collect of the class-term
  * counts); the Gram and ridge queries return local tables already in
  * key order, with no sort. Each bound is the count measured on this
  * fixture: a count may fall, never rise. */
class DriverModelJobsSpec extends SparkSpec {

  private val queries = Seq("q_gram", "q_udaf_gram", "q_ridge_beta",
    "q_beta_tstats", "q_twcnb_model", "q_nb_score", "q_twcnb_tfidf")

  private val coldBound = Map("q_gram" -> 4, "q_udaf_gram" -> 4,
    "q_ridge_beta" -> 3, "q_beta_tstats" -> 1, "q_twcnb_model" -> 9,
    "q_nb_score" -> 5, "q_twcnb_tfidf" -> 11)
  /** The memo serves the Gram (q_gram only), the ridge sums, the tf
    * matrix and the count-trained model. */
  private val hitBound = coldBound ++ Map("q_gram" -> 1, "q_ridge_beta" -> 1,
    "q_twcnb_model" -> 3)

  /** One call of each query, timed to its whole result, in declaration
    * order; the job count of each call. */
  private def pass(): Map[String, Int] = queries.map { name =>
    val fn = SparkEntry.queries(name)
    val (_, jobs) = jobsOf(
      fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    Cleanup(spark)
    name -> jobs
  }.toMap

  test("driver-built models and local tables run no more jobs per call than their bounds, cold and on a memo hit") {
    try {
      Memo.release(spark); Cleanup(spark)
      // the schema cache is JVM-wide: read the queries' tables first so
      // the counts do not depend on which suite ran before this one
      Tables.lineitem(spark, sfDir); Tables.documents(spark, sfDir)
      val cold = pass()
      val hit = pass()
      info(s"cold $cold; memo hit $hit")
      queries.foreach { q =>
        withClue(s"$q cold: ")(cold(q) should be <= coldBound(q))
        withClue(s"$q memo hit: ")(hit(q) should be <= hitBound(q))
      }
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }
}
