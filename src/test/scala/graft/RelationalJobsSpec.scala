package graft

/** Per-call Spark job counts of the percentile readouts, on the first
  * call in declaration order and on a repeat call, as [[RankJobsSpec]]
  * pins the rank queries'. Each bound is the count measured on this
  * fixture with the driver-side rank select (one histogram pass, one band
  * pass, a local result frame): a count may fall, never rise. */
class RelationalJobsSpec extends SparkSpec {

  private val queries = Seq("q_percentile", "q_hist_percentile",
    "q_event_hist_pct")

  private val coldBound = Map("q_percentile" -> 5, "q_hist_percentile" -> 4,
    "q_event_hist_pct" -> 3)
  /** q_percentile's first call runs one job more than a repeat call, as
    * it did before the rank select. */
  private val warmBound = coldBound + ("q_percentile" -> 4)

  /** One call of each query, timed to its whole result, in declaration
    * order; the job count of each call. */
  private def pass(): Map[String, Int] = queries.map { name =>
    val fn = SparkEntry.queries(name)
    val (_, jobs) = jobsOf(
      fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    Cleanup(spark)
    name -> jobs
  }.toMap

  test("percentile readouts run no more jobs per call than their bounds, cold and warm") {
    // the schema cache is JVM-wide: read the tables first so the counts
    // do not depend on which suite ran before this one
    Tables.lineitem(spark, sfDir); Tables.events(spark, sfDir)
    val cold = pass()
    val warm = pass()
    info(s"cold $cold; warm $warm")
    queries.foreach { q =>
      withClue(s"$q cold: ")(cold(q) should be <= coldBound(q))
      withClue(s"$q warm: ")(warm(q) should be <= warmBound(q))
    }
  }
}
