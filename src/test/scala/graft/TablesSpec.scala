package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the events-table `ts` normalization across every physical parquet
  * encoding the driver has shipped (nanos-as-long, TIMESTAMP_NTZ micros,
  * TIMESTAMP micros), plus a schema canary over ALL testdata tables at all
  * three scale factors — so a silent testdata regeneration is caught by a
  * fast red spec instead of at gate time (the round-6 failure mode: the
  * driver re-encoded events.ts from TIMESTAMP(NANOS) to TIMESTAMP_NTZ
  * micros mid-round and 14 queries + 6 suites went red). Also pins the
  * loaders' schema cache: its schemas, its zero-job reads and the rules
  * that make it infer again.
  */
class TablesSpec extends SparkSpec {

  // 2021-03-04T05:06:07.123456Z — exercises sub-second micros.
  private val micros = 1614834367123456L

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("normalizeTs: nanos-as-long branch truncates to micros") {
    import spark.implicits._
    // What spark.sql.legacy.parquet.nanosAsLong yields for TIMESTAMP(NANOS):
    // a bare LongType column of nanos. 789 extra nanos must truncate away.
    val df = Seq((1L, micros * 1000L + 789L)).toDF("id", "ts")
    val out = Tables.normalizeTs(df)
    out.schema("ts").dataType shouldBe TimestampType
    val got = out.select(unix_micros($"ts")).as[Long].head()
    got shouldBe micros
  }

  test("normalizeTs: TIMESTAMP_NTZ parquet branch is wall-clock identity under UTC") {
    import spark.implicits._
    // Write a real NTZ parquet (Spark writes TimestampNTZType as parquet
    // timestamp[us] isAdjustedToUTC=false — the current testdata encoding)
    // and read it back through the same normalization path events() uses.
    val dir = tmp("graft-ntz")
    spark.range(1).select(
        $"id",
        to_timestamp_ntz(lit("2021-03-04 05:06:07.123456")).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    raw.schema("ts").dataType shouldBe TimestampNTZType
    val out = Tables.normalizeTs(raw)
    out.schema("ts").dataType shouldBe TimestampType
    out.select(unix_micros($"ts")).as[Long].head() shouldBe micros
  }

  test("normalizeTs: TIMESTAMP branch passes through untouched") {
    import spark.implicits._
    val dir = tmp("graft-tsz")
    Seq((1L, new Timestamp(micros / 1000L)))
      .toDF("id", "ts")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    raw.schema("ts").dataType shouldBe TimestampType
    val out = Tables.normalizeTs(raw)
    out.select(unix_micros($"ts")).as[Long].head() shouldBe micros
  }

  test("normalizeTs: unsupported ts type fails loudly, not at analysis depth") {
    import spark.implicits._
    val df = Seq((1L, "not-a-time")).toDF("id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(df))
    e.getMessage should include("unsupported type")
  }

  test("events loader normalizes the CURRENT testdata to TimestampType") {
    val ev = Tables.events(spark, sfDir)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.limit(1).count() shouldBe 1L
  }

  test("events loader leaves no nanosAsLong conf residue — on success or failure") {
    // getOption on a REGISTERED SQLConf reports its default ("false")
    // even when no session override is set, so the observable guarantee
    // is value-level: the conf must never be left "true" by a non-nanos
    // read, successful or not
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    // success path (current non-nanos testdata): restored immediately
    Tables.events(spark, sfDir)
    spark.conf.get(key) shouldBe "false"
    // failure path (missing dir): the resolve throws, and the finally
    // must still restore — a stranded "true" would silently flip later
    // NANOS parquet reads to BIGINT instead of failing loudly
    intercept[Exception](Tables.events(spark, "/nonexistent-graft-dir"))
    spark.conf.get(key) shouldBe "false"
    // and a pre-existing explicit setting is restored, not clobbered
    spark.conf.set(key, "false")
    Tables.events(spark, sfDir)
    spark.conf.get(key) shouldBe "false"
    spark.conf.unset(key)
  }

  test("events loader: a plain-BIGINT ts generation strands no conf either") {
    import spark.implicits._
    // A bare BIGINT ts resolves to LongType with or without nanosAsLong —
    // the ambiguous case the loader must NOT mistake for nanos-encoded
    // (that mistake left the conf set for the session lifetime). The
    // restored-conf re-probe resolves fine here, so no residue remains.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = tmp("graft-bigint-ts")
    Seq((1L, micros * 1000L + 789L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.conf.unset(key)
    val ev = Tables.events(spark, dir)
    spark.conf.get(key) shouldBe "false"
    // the long column still flows through the documented nanos-as-long
    // normalization (units of a bare BIGINT are unknowable; nanos is the
    // one generation that ever shipped as long)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.select(unix_micros($"ts")).as[Long].head() shouldBe micros
  }

  // ---- Schema cache -----------------------------------------------------

  test("schema cache: every table's cached schema equals the inferred one") {
    for (name <- Tables.names) {
      Tables(spark, sfDir, name) // fills the cache
      val (cached, jobs) = jobsOf(Tables(spark, sfDir, name).schema)
      withClue(s"$name: ") {
        jobs shouldBe 0
        cached shouldBe spark.read.parquet(s"$sfDir/$name.parquet").schema
      }
    }
  }

  test("schema cache: a second lineitem read launches no Spark job") {
    Tables.lineitem(spark, sfDir)
    val (df, jobs) = jobsOf(Tables.lineitem(spark, sfDir))
    jobs shouldBe 0
    // the read with the cached schema still scans the data
    df.limit(1).count() shouldBe 1L
  }

  test("rowCount: every table's footer count equals count(), with no Spark job") {
    for (name <- Tables.names) {
      val (n, jobs) = jobsOf(Tables.rowCount(spark, sfDir, name))
      withClue(s"$name: ") {
        jobs shouldBe 0
        n shouldBe Tables(spark, sfDir, name).count()
      }
    }
  }

  test("rowCount: a directory of part files sums its parts and follows a rewrite") {
    import spark.implicits._
    val dir = tmp("graft-rowcount")
    val path = s"$dir/t.parquet"
    (1L to 10L).toDF("id").repartition(3).write.parquet(path)
    Tables.rowCount(spark, dir, "t") shouldBe 10L
    (1L to 4L).toDF("id").write.mode("overwrite").parquet(path)
    Tables.rowCount(spark, dir, "t") shouldBe 4L
  }

  test("schema cache: a table rewritten at the same path is re-inferred") {
    import spark.implicits._
    val dir = tmp("graft-rewrite")
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(path)
    Tables(spark, dir, "t").schema.fieldNames shouldBe Array("id", "s")
    Tables(spark, dir, "t") // cached now
    Seq((2.5, 7, true)).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(path)
    val (df, jobs) = jobsOf(Tables(spark, dir, "t"))
    jobs should be >= 1
    df.schema.map(f => f.name -> f.dataType) shouldBe
      Seq("x" -> DoubleType, "y" -> IntegerType, "z" -> BooleanType)
    df.as[(Double, Int, Boolean)].collect() shouldBe Array((2.5, 7, true))
  }

  test("schema cache: changing spark.sql.parquet.binaryAsString infers again") {
    // a parquet file without Spark's schema metadata, whose un-annotated
    // binary column the conf decides between BINARY and STRING
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.parquet.binaryAsString"
    val dir = tmp("graft-binary")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    spark.conf.unset(key)
    try {
      Tables(spark, dir, "t").schema("b").dataType shouldBe BinaryType
      spark.conf.set(key, "true")
      val (asString, inferJobs) = jobsOf(Tables(spark, dir, "t"))
      inferJobs should be >= 1
      asString.schema("b").dataType shouldBe StringType
      asString.collect().map(_.getString(0)) shouldBe Array("x")
      // both keys stay cached: neither read infers again
      jobsOf(Tables(spark, dir, "t"))._2 shouldBe 0
      spark.conf.unset(key)
      val (asBinary, jobs) = jobsOf(Tables(spark, dir, "t"))
      jobs shouldBe 0
      asBinary.schema("b").dataType shouldBe BinaryType
    } finally spark.conf.unset(key)
  }

  test("schema cache: a missing path throws on every call") {
    val dir = "/nonexistent-graft-dir"
    intercept[Exception](Tables.lineitem(spark, dir))
    intercept[Exception](Tables.lineitem(spark, dir))
    // and a cached table that disappears throws, not serves its schema
    import spark.implicits._
    val tdir = tmp("graft-vanish")
    Seq(1L).toDF("id").write.parquet(s"$tdir/t.parquet")
    Tables(spark, tdir, "t")
    Tables(spark, tdir, "t")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$tdir/t.parquet"))
    intercept[Exception](Tables(spark, tdir, "t"))
    intercept[Exception](Tables(spark, tdir, "t"))
  }

  // ---- Testdata schema canary ------------------------------------------
  // Loader-reported schemas the whole engine assumes (verified against the
  // 2026-08-13 testdata generation). `events.ts` is the one column the
  // loader normalizes (NTZ→TimestampType); everything else is pinned as
  // the raw scan reports it, so ANY regeneration that changes a physical
  // encoding turns this spec red immediately.
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  private def loaderOf(name: String): (org.apache.spark.sql.SparkSession, String) => DataFrame =
    name match {
      case "events" => Tables.events
      case n        => (s, d) => Tables(s, d, n)
    }

  private def assertCanary(sf: String, dir: String): Unit =
    for (name <- Tables.names) {
      val df = loaderOf(name)(spark, dir)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      withClue(s"$sf/$name schema drift: ") {
        got shouldBe expected(name)
      }
      withClue(s"$sf/$name unreadable: ") {
        df.limit(1).count() shouldBe 1L
      }
    }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"canary: all 10 tables at $sf load with the expected schema and ≥1 row") {
      assertCanary(sf, s"/root/testdata/$sf")
    }
  }

  // The larger-sf scale evidence comes from tools/make_sf.py synth output
  // — it must keep the DRIVER testdata's physical encodings (most
  // critically events.ts: the synth writes what it read, but a rewrite of
  // make_sf.py could silently re-encode and diverge from what the canary
  // above pins). GRAFT_SYNTH_DIR points the check at an existing synth
  // dir (e.g. a `make_sf.py <sf0.1 dir> <out> 10` output); unset, the
  // test synthesizes sf0.001 × 2 into a temp dir (~1 s).
  test("canary: tools/make_sf.py output keeps the driver testdata schemas") {
    val dir = sys.env.getOrElse("GRAFT_SYNTH_DIR", {
      val out = tmp("graft-synth")
      val cmd = Seq("python3", "tools/make_sf.py", sfDir, out, "2")
      withClue(s"${cmd.mkString(" ")} failed: ") {
        scala.sys.process.Process(cmd).! shouldBe 0
      }
      out
    })
    assertCanary("synth", dir)
  }
}
