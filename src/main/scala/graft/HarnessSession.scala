package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (Bench, Verify,
  * PlanAudit, StreamBench) and of the test
  * fixture, so each of them plans and runs under the same confs. Callers
  * chain only their own extras and call `getOrCreate()`.
  */
object HarnessSession {
  /** `local[cpus]` with `shufflePartitions` shuffle partitions, `cpus`
    * when None (the big-sf knob: partitions scale with data, not cores),
    * plus:
    *  - session time zone UTC: `Tables.normalizeTs`'s NTZ→TIMESTAMP cast
    *    is only identity under UTC, so every main measures and checks the
    *    same instants whatever the host zone;
    *  - UI off;
    *  - a generated-code cache of 1024 classes, not Spark's 100: a cold
    *    pass compiles more than 100, and at the default every warm pass
    *    compiled 51–107 of them again (perfbench/README.md "Steadiness");
    *  - `canChangeCachedPlanOutputPartitioning`: cached plans pin their
    *    partitioning unless AQE may re-coalesce them; without it the
    *    model-boundary persists (TWCNB ntc, tf) force `cpus`-partition
    *    stages onto kilobyte tables — measured 3-6x wall and ~25x tasks
    *    on the TWCNB trio;
    *  - `SPARK_GRAFT_MEMO_BUDGET` (bytes), when set, as
    *    `graft.memo.maxPinnedBytes`; unset, [[Memo]] budgets
    *    [[Memo.harnessBudget]] of the storage pool.
    */
  def builder(cpus: String,
      shufflePartitions: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
    sys.env.get("SPARK_GRAFT_MEMO_BUDGET")
      .foreach(v => b.config("graft.memo.maxPinnedBytes", v))
    b
  }
}
