package graft

/** Per-call Spark job counts of the embedding similarity family, on an
  * empty memo in declaration order and on a memo hit, as [[RankJobsSpec]]
  * pins the rank queries'. Each bound is the count measured on this
  * fixture with the one LSH candidate generator and re-rank the family
  * shares: a count may fall, never rise. */
class EmbedJobsSpec extends SparkSpec {

  private val family = Seq("q_cosine_topk", "q_dedup_embed",
    "q_dedup_embed_lsh", "q_dedup_embed_hi", "q_dedup_embed_lsh_hi",
    "q_ann_lsh", "q_ann_ivf", "q_ann_ivf_sq")

  private val coldBound = Map("q_cosine_topk" -> 5, "q_dedup_embed" -> 4,
    "q_dedup_embed_lsh" -> 8, "q_dedup_embed_hi" -> 4,
    "q_dedup_embed_lsh_hi" -> 8, "q_ann_lsh" -> 10, "q_ann_ivf" -> 35,
    "q_ann_ivf_sq" -> 5)
  /** Only the IVF quantizer is memoized: a hit skips its 30 build jobs. */
  private val hitBound = coldBound + ("q_ann_ivf" -> 5)

  /** One call of each query, timed to its whole result, in declaration
    * order; the job count of each call. */
  private def pass(): Map[String, Int] = family.map { name =>
    val fn = SparkEntry.queries(name)
    val (_, jobs) = jobsOf(
      fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    Cleanup(spark)
    name -> jobs
  }.toMap

  test("embedding similarity queries run no more jobs per call than their bounds, cold and on a memo hit") {
    try {
      Memo.release(spark); Cleanup(spark)
      // the schema cache is JVM-wide: read the family's table first so
      // the counts do not depend on which suite ran before this one
      Tables.embeddings(spark, sfDir)
      val cold = pass()
      val hit = pass()
      info(s"cold $cold; memo hit $hit")
      family.foreach { q =>
        withClue(s"$q cold: ")(cold(q) should be <= coldBound(q))
        withClue(s"$q memo hit: ")(hit(q) should be <= hitBound(q))
      }
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }
}
