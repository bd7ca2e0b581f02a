package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local-session fixture — the idiomatic form of the reference's
  * `DistributedSparkSuite` mixin (mahout-samsara-book:
  * myMahoutApp/src/test/scala/myMahoutApp/MyAppSuite.scala:14,21): every
  * distributed test runs end-to-end on a real local context, no mocks.
  * One JVM-wide session shared across suites (getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSpec.session

  /** sf0.001 testdata (TESTDATA.md) — the unit-test scale. */
  val sfDir = "/root/testdata/sf0.001"

  def cooOf(cells: Seq[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    cells.toDF("i", "j", "v")
  }

  /** Spark jobs `f` launches from this thread (tagged by a job group, so
    * another thread's jobs never count), with the listener bus drained
    * before and after. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spark-spec-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, getClass.getSimpleName)
    try {
      val out = f
      ListenerBusDrain.drain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Collect a COO frame to a dense map for exact comparison. */
  def cells(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r =>
      (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("v")).toMap

  def maxAbsDiff(a: Map[(Long, Long), Double],
      b: Map[(Long, Long), Double]): Double = {
    val keys = a.keySet ++ b.keySet
    if (keys.isEmpty) 0.0
    else keys.iterator.map(k =>
      math.abs(a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0))).max
  }

  /** Deterministic sparse test matrix: seeded cells, ~density fill. */
  def randomCoo(rows: Int, cols: Int, density: Double, seed: Long): Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    for {
      i <- 0 until rows
      j <- 0 until cols
      if rnd.nextDouble() < density
    } yield (i.toLong, j.toLong, math.rint(rnd.nextGaussian() * 100) / 16.0)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = HarnessSession.builder(cpus = "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
