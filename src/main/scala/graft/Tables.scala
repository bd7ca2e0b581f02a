package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  * One parquet file per table under `<sfDir>/<name>.parquet`.
  *
  * Schema cache: `spark.read.parquet(path)` infers the schema with a
  * Spark job that reads the parquet footer, so every read used to cost
  * one job. [[apply]] infers a path's schema once and then reads with
  * `spark.read.schema(cached).parquet(path)`, which runs no job.
  *  - Key: the path plus every explicitly set conf that changes parquet
  *    inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *    `spark.sql.caseSensitive`). A read under `nanosAsLong` and one
  *    without it therefore resolve under separate keys, which keeps
  *    [[events]]'s conf scoping and re-probe working unchanged.
  *  - Staleness: an entry holds the path's [[Memo.fingerprint]] taken
  *    before inference; a read that sees a different fingerprint infers
  *    again. A path the fingerprint cannot list (not on the local
  *    filesystem, or a listing that failed) is never cached, so such a
  *    read infers every time, as before.
  *  - Failures: a failed inference is not cached; a missing or
  *    unreadable path throws on every call.
  * The cache is JVM-wide and unbounded, one small entry per (path,
  * confs) pair; the session is not part of the key.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Resolved(fingerprint: Long, schema: StructType)

  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), Resolved]

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (path, inferenceConfs(spark))
    val fp = Memo.fingerprint(path)
    val hit = schemas.get(key)
    if (hit != null && hit.fingerprint == fp)
      spark.read.schema(hit.schema).parquet(path)
    else {
      val df = spark.read.parquet(path) // infers eagerly; throws uncached
      if (fp > 0) schemas.put(key, Resolved(fp, df.schema))
      df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  /** events.ts has shipped in three physical parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (read by Spark 4 only as a
    * BIGINT of nanos under the legacy conf), TIMESTAMP_NTZ micros (the
    * current generation), and plain TIMESTAMP micros. Normalize all three
    * to a session-UTC TimestampType by branching on the dtype the scan
    * actually reports:
    *
    *  - `LongType`         → nanos-as-long: truncate to micros with integer
    *    division (identical to DuckDB's nanos→micros truncation; double
    *    division would lose precision at 1.7e18 ns).
    *  - `TimestampNTZType` → `cast("timestamp")`. The engine runs with
    *    `spark.sql.session.timeZone=UTC`, so the cast is the identity on
    *    wall-clock values — `window()`, `unix_micros`, and the DuckDB
    *    naive-timestamp oracles all see the same instants as before.
    *  - `TimestampType`    → already normalized, pass through.
    *
    * Conf scoping: the nanosAsLong legacy conf must be set while schema
    * resolution runs (it happens eagerly, right here) and — only when the
    * file really IS nanos-encoded — while the lazy scan later executes.
    * So the conf is restored immediately whenever the resolved dtype is
    * anything but nanos (the current testdata generations), leaving no
    * session-wide residue. A resolved LongType is AMBIGUOUS — a plain
    * BIGINT ts column also reports LongType, with or without the conf —
    * so that branch re-probes resolution with the conf restored: only
    * when resolution genuinely fails without the conf (Spark rejects
    * TIMESTAMP(NANOS) outright) is the file nanos-encoded, and only
    * then does the conf deliberately stay set for the session's
    * lifetime, because restoring it before the action would fail the
    * scan (a plain-BIGINT generation strands nothing). A multi-tenant
    * embedding that must isolate even that case would scope the read to
    * its own SparkSession (round-7/8 verdict carryover, now contained
    * to the true-nanos branch).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    def restore(): Unit = prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    s.conf.set(key, "true")
    // restore on EVERY path except a confirmed nanos resolve (a missing
    // or corrupt events file, or a ts-less schema, must not strand the
    // conf session-wide — that would silently flip later NANOS parquet
    // reads to BIGINT instead of failing loudly)
    var keepConf = false
    try {
      val raw = apply(s, d, "events") // schema resolves (or is cached) here
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
        // nanos-encoded or plain BIGINT? Probe with the conf restored:
        // TIMESTAMP(NANOS) fails resolution then; plain BIGINT succeeds
        restore()
        val resolvesWithoutConf =
          try { apply(s, d, "events"); true }
          catch { case scala.util.control.NonFatal(_) => false }
        if (!resolvesWithoutConf) {
          s.conf.set(key, "true") // genuine nanos: the scan needs it
          keepConf = true
        }
      }
      normalizeTs(raw)
    } finally {
      if (!keepConf) restore()
    }
  }

  /** Schema-adaptive `ts` normalization (see [[events]]); exposed so tests
    * can pin each encoding branch against hand-written fixtures.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other; expected nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
