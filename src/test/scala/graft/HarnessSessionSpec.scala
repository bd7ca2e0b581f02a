package graft

/** The shared test session is built by [[HarnessSession]], so it carries
  * the factory's confs — the same ones every harness main runs under. */
class HarnessSessionSpec extends SparkSpec {

  test("the shared test session carries the harness session factory's confs") {
    spark.sparkContext.master shouldBe "local[4]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
    spark.sparkContext.uiWebUrl shouldBe None
    spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
      "true"
  }

  test("the harness session caches 1024 generated classes, not Spark's 100") {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "1024"
  }

  test("a session settles at query boundaries exactly when built with the settle confs") {
    def conf(kv: (String, String)*) =
      new org.apache.spark.SparkConf(false).setAll(kv)
    val interval = "spark.cleaner.periodicGC.interval" -> "2min"
    val blocking = "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"
    Cleanup.settles(conf(interval, blocking)) shouldBe true
    Cleanup.settles(conf()) shouldBe false
    Cleanup.settles(conf(interval)) shouldBe false
    Cleanup.settles(conf(blocking)) shouldBe false
    Cleanup.settles(conf(interval, blocking._1 -> "false")) shouldBe false
    // the shared session is built with settle = false
    Cleanup.settles(spark.sparkContext.getConf) shouldBe false
  }
}
