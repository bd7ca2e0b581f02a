package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * the scale properties (filter/projection pushdown, broadcast joins,
  * whole-stage codegen spans, shuffle counts) can be inspected and tracked.
  * Run: sbt "runMain graft.PlanAudit [-d sfDir] [query ...]"
  * (-d picks the data directory — some dispatches are data-dependent,
  * e.g. q_dedup_pipeline's survivor delta path only exists where the
  * corpus carries exact dups, i.e. sf0.1.)
  */
object PlanAudit {
  def main(args0: Array[String]): Unit = {
    // plans at the bench's shape: local[$SPARK_GRAFT_CPUS] (default 32)
    // with as many shuffle partitions
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = HarnessSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (d, args) = args0.toSeq match {
      case Seq("-d", dir, rest @ _*) => (dir, rest.toArray)
      case _ => ("/root/testdata/sf0.01", args0)
    }
    // note: q_gram/q_udaf_gram execute eagerly inside their fn (driver-
    // side k×k finale) and return a LocalTableScan — auditing them shows
    // nothing; q_rekey_join covers the honest fact-fact shuffle instead
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_scan", "q_filter", "q_join_broadcast", "q_join_hash",
        "q_groupby_agg", "q_matmul", "q_rekey_join", "q_tfidf",
        "q_dedup_exact", "q_cosine_topk", "q_pivot", "q_ntile",
        "q_decontaminate", "q_gram_blocked", "q_dedup_pipeline",
        "q_pack_chunks", "q_mix_temperature", "q_embed_quantize",
        "q_cooccur_pmi", "q_chunk_overlap", "q_corpus_shuffle",
        "q_inverted_index", "q_top_ngrams", "q_corpus_stats", "q_pagerank",
        "q_count_min", "q_hll_registers", "q_pii_redact", "q_window_range",
        "q_merge_upsert", "q_event_hll", "q_join_interval",
        "q_label_prop", "q_bfs_hops", "q_bloom_registers",
        "q_dedup_incremental", "q_heavy_hitters", "q_ppr", "q_modularity",
        "q_corpus_assembly", "q_kcore_fixpoint", "q_bfs_reach")
    for (n <- names) {
      println(s"==== $n ====")
      val df = SparkEntry.queries(n)(spark, d)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
