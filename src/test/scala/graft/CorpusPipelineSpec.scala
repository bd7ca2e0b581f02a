package graft

import graft.operators.PipelineQueries
import org.apache.spark.sql.functions._

/** The library-user story, end to end: assemble a training corpus from
  * raw documents by composing the declared operators — dedup resolution,
  * quality/repetition/LM scoring, and stratified source mixing — as one
  * DataFrame pipeline. Asserts the stages compose (schemas line up, keys
  * join), the funnel only narrows, and the result is deterministic.
  */
class CorpusPipelineSpec extends SparkSpec {

  private val byName = PipelineQueries.all.map(q => q.name -> q).toMap
  private def run(name: String) = byName(name).fn(spark, sfDir)

  test("corpus assembly: dedup -> quality gates -> mixing, composed end to end") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()

    // 1. near-dup resolution: keep one canonical doc per group
    val canonical = run("q_dedup_resolve")
      .filter(col("is_canonical") === 1)
      .select("doc_id")
    val nCanon = canonical.count()
    nCanon should be <= total
    nCanon should be > 0L

    // 2. quality gates: repetition caps, a length floor, and the
    // realistic LM cut — drop the worst-scoring tail under the corpus's
    // own bigram model (exact 10th-percentile threshold)
    val lm = run("q_lm_score")
    val cut = lm.stat
      .approxQuantile("mean_logprob", Array(0.1), 0.0).head
    val quality = run("q_repetition")
      .join(lm, "doc_id")
      .filter(col("top_term_frac") < 0.5 && // not dominated by one term
        col("dup_shingle_frac") < 0.5 && // not self-repeating
        col("n_tokens") >= 10 && // long enough to train on
        col("mean_logprob") >= cut) // cut the LM tail
      .select("doc_id")
    val survivors = canonical.join(quality, "doc_id")
    val nSurvive = survivors.count()
    nSurvive should be < nCanon // the gate must actually bite
    nSurvive should be > 0L

    // 3. mixing: the stratified per-source sample restricted to survivors
    val mixed = run("q_stratified_sample").join(survivors, "doc_id")
    val nMixed = mixed.count()
    nMixed should be <= nSurvive
    nMixed should be > 0L

    // determinism: the whole funnel reproduces exactly
    val again = run("q_stratified_sample")
      .join(run("q_dedup_resolve").filter(col("is_canonical") === 1)
        .select("doc_id"), "doc_id")
      .join(quality, "doc_id")
    again.count() shouldBe nMixed
    info(s"funnel: $total docs -> $nCanon canonical -> " +
      s"$nSurvive quality -> $nMixed mixed")
  }

  test("q_dedup_pipeline delta path == the direct survivor pass at the dup-bearing scale") {
    // sf0.1 is the only shipped scale with exact duplicates (8 of 5000
    // docs) — the scale where the round-16 delta correction actually
    // fires (k > 0). Pin the DECLARED query's output bit-identical
    // against the pre-delta plan, reachable via headroom = 0 (k > 0
    // then dispatches to the direct survivor pass, the round-15 code).
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).exists(), s"$dir absent")
    val docs = Tables.documents(spark, dir)
    val k = docs.count() - docs.select(md5(col("text"))).distinct().count()
    assume(k > 0, "corpus carries no exact dups — delta path would not fire")
    try {
      val delta = byName("q_dedup_pipeline").fn(spark, dir).collect()
      Cleanup(spark)
      val direct = PipelineQueries.dedupPipeline(spark, dir, 0).collect()
      delta should contain theSameElementsInOrderAs direct
    } finally {
      Memo.release(spark); Cleanup(spark)
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("memo-hit q_dedup_pipeline runs at most 9 jobs and, with no exact dups, equals q_dedup_resolve") {
    val docs = Tables.documents(spark, sfDir)
    withClue("the fixture corpus must carry no exact dups: ") {
      docs.select(md5(col("text"))).distinct().count() shouldBe docs.count()
    }
    val q = byName("q_dedup_pipeline")
    noop(q.fn(spark, sfDir)) // cold call: builds the shared candidate stage
    Cleanup(spark)
    val (_, jobs) = jobsOf(noop(q.fn(spark, sfDir)))
    Cleanup(spark)
    info(s"memo-hit q_dedup_pipeline: $jobs jobs")
    jobs should be <= 9
    // k = 0: every document is its own exact keeper, so the verdict is
    // the near-dup resolution of the whole corpus
    val pipeline = q.fn(spark, sfDir).collect()
    Cleanup(spark)
    pipeline should contain theSameElementsInOrderAs
      run("q_dedup_resolve").collect()
    Cleanup(spark)
  }

  test("q_dedup_pipeline with exact dups: delta path == direct survivor pass, each dup keeps its keeper's id") {
    // sf0.001 plus four exact copies (three of one near-dup member, one of
    // a canonical doc) under fresh, larger ids, so k = 4 takes the delta
    // path at the default headroom and the direct pass at headroom 0
    val docs = Tables.documents(spark, sfDir)
    val res = run("q_dedup_resolve")
    val member = res.filter(col("is_canonical") === 0)
      .agg(min("doc_id")).head().getLong(0)
    val canon = res.agg(min("doc_id")).head().getLong(0)
    Cleanup(spark)
    val top = docs.agg(max("doc_id")).head().getLong(0)
    val copies = Seq(top + 1 -> member, top + 2 -> member,
      top + 3 -> member, top + 4 -> canon)
    import spark.implicits._
    val dupRows = docs
      .join(copies.toDF("copy_id", "doc_id"), "doc_id")
      .withColumn("doc_id", col("copy_id"))
      .select(docs.columns.map(col).toSeq: _*)
    val dir = java.nio.file.Files.createTempDirectory("dedup-dups")
    try {
      docs.unionByName(dupRows)
        .write.parquet(dir.resolve("documents.parquet").toString)
      val delta = byName("q_dedup_pipeline").fn(spark, dir.toString).collect()
      Cleanup(spark)
      val direct = PipelineQueries.dedupPipeline(spark, dir.toString, 0)
        .collect()
      Cleanup(spark)
      delta.length shouldBe docs.count() + copies.size
      delta should contain theSameElementsInOrderAs direct
      val keep = delta.map(r => r.getLong(0) -> r.getLong(1)).toMap
      keep(member) should not be member // the keeper is itself a near dup
      copies.foreach { case (dup, src) =>
        withClue(s"copy $dup of $src: ") { keep(dup) shouldBe keep(src) }
      }
    } finally {
      Memo.release(spark); Cleanup(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
