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
}
