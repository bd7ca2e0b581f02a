package graft

import java.nio.file.Files

import graft.operators.{Block, Coo}
import org.apache.spark.ml.classification.{NaiveBayes, NaiveBayesModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** The block escape hatch (SURVEY §2.3 B1/B2 generic form) equals its
  * relational decompositions, and the persistence surface (SURVEY §2.1
  * S4/S5): MLWritable model save/load, model-as-DataFrame parquet round
  * trip, and the CSV dump the reference uses for external verification
  * (MyAppSuite.scala:46-70).
  */
class BlockAndPersistenceSpec extends SparkSpec {

  private lazy val mat = cooOf(randomCoo(30, 8, 0.5, seed = 555))

  test("mapBlock cellwise transform equals the relational ewise form") {
    val viaBlock = Coo.fromRows(
      Block.mapBlock(Block.rowsOf(mat, 8)) { (keys, vecs) =>
        (keys, vecs.map(_.map(v => v * 2.0)))
      }.toDF("i", "vec"))
    val viaExpr = Coo.ewise(mat, _ * 2.0)
      .filter(col("v") =!= 0.0) // fromRows drops explicit zeros
    maxAbsDiff(cells(viaBlock), cells(viaExpr)) shouldBe 0.0
  }

  test("mapBlock key rewrite + row subset (the reference's re-key/compact pattern)") {
    val out = Block.mapBlock(Block.rowsOf(mat, 8)) { (keys, vecs) =>
      val keep = keys.indices.filter(i => keys(i) % 3 == 0).toArray
      (keep.map(i => keys(i) / 3), keep.map(vecs))
    }.toDF("i", "vec")
    val expect = mat.select("i").distinct()
      .filter(col("i") % 3 === 0).count()
    out.count() shouldBe expect
    out.select("i").distinct().collect().map(_.getLong(0)).foreach { k =>
      k should be <= 9L
    }
  }

  test("allreduceBlock histogram equals groupBy count (the label-histogram pattern)") {
    val viaBlock: Map[Long, Long] =
      Block.allreduceBlock[Map[Long, Long]](Block.rowsOf(mat, 8),
        (keys, _) => keys.groupBy(k => k % 4).map { case (k, v) => k -> v.length.toLong },
        (a, b) => (a.keySet ++ b.keySet)
          .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    val viaSql = mat.select("i").distinct()
      .groupBy((col("i") % 4).as("k")).count()
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("count")).toMap
    viaBlock shouldBe viaSql
  }

  test("S4: MLlib complement NB model survives save/load with identical predictions") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val data = (0 until 60).map { i =>
      val c = i % 3
      val v = Array.tabulate(12)(j =>
        if (j / 4 == c) rnd.nextInt(8) + 2.0 else rnd.nextInt(2).toDouble)
      (c.toDouble, Vectors.dense(v))
    }.toDF("label", "features")
    val model = new NaiveBayes().setModelType("complement").setSmoothing(1.0)
      .fit(data)
    val dir = Files.createTempDirectory("nbmodel").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = NaiveBayesModel.load(dir)
    val p1 = model.transform(data).select("prediction").collect().toSeq
    val p2 = loaded.transform(data).select("prediction").collect().toSeq
    p1 shouldBe p2
  }

  test("S4: TWCNB weight frame round-trips through parquet bit-exactly") {
    import spark.implicits._
    val tokens = (0 until 200).map { i =>
      (s"c${i % 3}", s"t${(i * 7) % 11}")
    }.toDF("label", "term")
    val w = graft.ml.TWCNB.train(tokens)
    val dir = Files.createTempDirectory("twcnb").toString + "/w"
    w.write.parquet(dir)
    val back = spark.read.parquet(dir)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("label"), r.getAs[String]("term"))
    val m1 = w.collect().map(r => key(r) -> r.getAs[Double]("w")).toMap
    val m2 = back.collect().map(r => key(r) -> r.getAs[Double]("w")).toMap
    m1 shouldBe m2
  }

  test("S5: CSV sink with header round-trips X,y (the external-verification dump)") {
    val xy = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("id"), col("l_quantity").as("x1"),
        col("l_discount").as("x2"), col("l_extendedprice").as("y"))
      .limit(500)
    val dir = Files.createTempDirectory("csvdump").toString + "/xy"
    xy.write.option("header", true).csv(dir)
    val back = spark.read.option("header", true)
      .option("inferSchema", true).csv(dir)
    back.columns.toSeq shouldBe Seq("id", "x1", "x2", "y")
    back.count() shouldBe 500
    val s1 = xy.agg(sum("y")).head().getDouble(0)
    val s2 = back.agg(sum("y")).head().getDouble(0)
    math.abs(s1 - s2) should be < 1e-6
  }

  test("S5: JSON-lines sink/source round-trips events with an explicit schema") {
    import java.nio.file.Files
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("jsondump").toString + "/events"
    ev.write.json(dir)
    // production JSON reads pin the schema — inference costs a full
    // extra pass over the data at corpus scale
    val back = spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .json(dir)
    back.count() shouldBe ev.count()
    val a = ev.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    b shouldBe a
  }

  test("S5: ORC sink/source round-trips the TWCNB weight frame bit-exactly") {
    import java.nio.file.Files
    val toks = graft.functions.TextFns.tokens(Tables.documents(spark, sfDir))
      .select(col("lang").as("label"), col("term"))
    val w = graft.ml.TWCNB.train(toks)
    val dir = Files.createTempDirectory("orcdump").toString + "/model"
    w.write.orc(dir)
    val back = spark.read.orc(dir)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("label"), r.getAs[String]("term"))
    val orig = w.collect().map(r => key(r) -> r.getAs[Double]("w")).toMap
    val rt = back.collect().map(r => key(r) -> r.getAs[Double]("w")).toMap
    rt shouldBe orig // bit-exact: ORC stores doubles losslessly
  }

  test("X7: approx_count_distinct within its rsd of exact per group") {
    val approx = SparkEntry.queries("q_agg_approx")(spark, sfDir)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        r.getAs[Long]("approx_orders")).toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("d"))
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        r.getAs[Long]("d")).toMap
    approx.keySet shouldBe exact.keySet
    exact.foreach { case (k, e) =>
      math.abs(approx(k) - e).toDouble / e should be < 0.05
    }
  }

  test("X7: approx_percentile lands within 2% of the exact percentile per group") {
    def grab(name: String, cols: (String, String)) =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(r => r.getAs[String]("l_returnflag") ->
          (r.getAs[Double](cols._1), r.getAs[Double](cols._2))).toMap
    val exact = grab("q_percentile", ("p50", "p95"))
    val approx = grab("q_approx_percentile", ("p50_approx", "p95_approx"))
    approx.keySet shouldBe exact.keySet
    exact.foreach { case (k, (p50, p95)) =>
      math.abs(approx(k)._1 - p50) / p50 should be < 0.02
      math.abs(approx(k)._2 - p95) / p95 should be < 0.02
    }
    // the published guarantee at accuracy 10000: each estimate v's rank
    // interval [#(x < v), #(x ≤ v)] in the exact sorted cents column
    // comes within n/10000 of p·n
    val sorted = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    sorted.keySet shouldBe approx.keySet
    approx.foreach { case (k, (p50, p95)) =>
      val xs = sorted(k)
      val n = xs.length.toDouble
      Seq(0.5 -> p50, 0.95 -> p95).foreach { case (p, est) =>
        val v = math.round(est * 100)
        val lo = xs.count(_ < v)
        val hi = xs.count(_ <= v)
        val gap = math.max(0.0, math.max(lo - p * n, p * n - hi))
        withClue(s"$k p=$p v=$v rank [$lo, $hi] of n=${xs.length}: ") {
          gap should be <= n / 10000
        }
      }
    }
  }
}
