package graft

import scala.util.control.NonFatal

/** Suite timings the way a caller waits for them: session start, the
  * warm-up, one cold pass over the selected queries from an empty [[Memo]]
  * (each shared build is paid by its first consumer, in
  * [[SparkEntry.queries]] order), then [[warmPasses]] warm passes. Every
  * call is timed to the end of its whole result (the `noop` sink):
  * `count()` would let Catalyst drop the final sort, the projections and
  * unused aggregates, timing a smaller query than the one a user runs.
  *
  * Run: `sbt "runMain graft.Bench [query ...]"`. Names given as arguments
  * select a subset, run in argument order through the same path; an
  * unknown name exits with status 2 before the session starts. The
  * lossless record goes to `target/bench.json`; the final stdout line is
  * [[compactLine]].
  */
object Bench {
  /** Warm passes after the cold pass; odd, so a query's warm figure (the
    * median of its calls) is one measured call. */
  val warmPasses = 3

  private val measure = "noop sink; cold pass from an empty memo, then " +
    s"$warmPasses warm passes (median)"

  /** One query's figures: its cold-pass call and its warm calls, in
    * wall seconds, -1 for a call that threw; and the same calls' CPU
    * seconds ([[threadCpu]] from the call through its Cleanup). */
  final case class Timing(name: String, cold: Double, warmCalls: Seq[Double],
      coldCpu: Double, warmCpuCalls: Seq[Double]) {
    def failed: Boolean = cold < 0 || warmCalls.exists(_ < 0)

    /** The median warm call; -1 when any warm call failed. */
    def warm: Double =
      if (warmCalls.exists(_ < 0)) -1.0
      else warmCalls.sorted.apply(warmCalls.size / 2)

    /** The median warm call's CPU seconds. */
    def warmCpu: Double = warmCpuCalls.sorted.apply(warmCpuCalls.size / 2)
  }

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread, by thread id: the calling
    * thread's driver-side work and Spark's task, scheduler, shuffle and
    * broadcast threads. The JIT compiler and garbage-collector threads
    * are hidden from the thread bean, and a thread that ends between two
    * readings loses its share. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the live threads spent since `before`. */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) =>
      ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** The run's own figures: `setupSec` is session plus warm-up and
    * `coldE2eSec` runs from session start to the last cold-pass result. */
  final case class Run(setupSec: Double, coldE2eSec: Double,
      memoEvictions: Long, memoRebuilds: Long, memoRebuildSec: Double,
      sf: String)

  private def r2(v: Double): Double = math.rint(v * 100) / 100

  /** The fields both lines share. Totals sum successful figures only:
    * summing the -1 sentinels would make a failing run look faster, so
    * failures are listed instead. */
  private def header(ts: Seq[Timing], run: Run): String = {
    val warmTotal = r2(ts.map(_.warm).filter(_ >= 0).sum)
    val failed = ts.filter(_.failed).map(t => s"\"${t.name}\"")
      .mkString("[", ",", "]")
    s""""metric":"cold_e2e","value":${r2(run.coldE2eSec)},"unit":"sec",""" +
      s""""measure":"$measure","setup_sec":${r2(run.setupSec)},""" +
      s""""cold_e2e_sec":${r2(run.coldE2eSec)},""" +
      s""""warm_total_sec":$warmTotal,"warm_passes":$warmPasses,""" +
      s""""memo_evictions":${run.memoEvictions},""" +
      s""""memo_rebuilds":${run.memoRebuilds},""" +
      s""""memo_rebuild_sec":${run.memoRebuildSec},""" +
      s""""nqueries":${ts.size},"failed":$failed,""" +
      s""""sf":"${run.sf}""""
  }

  /** The lossless record: every query's cold seconds, warm median and
    * warm calls, and the CPU seconds of its cold call and warm median
    * (`cold_cpu`, `warm_cpu`; per-call CPU shows driver-side cost that
    * wall time hides under host noise). Compare artifacts by per-query
    * median ratio over common queries, and single queries by interleaved
    * A/B, never by raw totals: host load drifts 1.4x+ between runs
    * (SCALE.md drift protocol). */
  def fullLine(ts: Seq[Timing], run: Run): String = {
    val qs = ts.map { t =>
      s""""${t.name}":{"cold":${t.cold},"warm":${t.warm},""" +
        s""""warm_calls":${t.warmCalls.mkString("[", ",", "]")},""" +
        s""""cold_cpu":${t.coldCpu},"warm_cpu":${t.warmCpu}}"""
    }.mkString("{", ",", "}")
    s"""{${header(ts, run)},"queries":$qs}"""
  }

  /** The summary line. Its reader keeps only the last ~2000 characters
    * of stdout and parses the first `{"metric"…}` in them, so this line is
    * at most 1800 characters: the header and every failed name always, then
    * the cold seconds of as many of the slowest queries as fit. */
  def compactLine(ts: Seq[Timing], run: Run): String = {
    val head = s"""{${header(ts, run)},"full":"target/bench.json","""
    val byCold = ts.filter(_.cold >= 0).sortBy(-_.cold)
    def line(n: Int): String = head + byCold.take(n)
      .map(t => s""""${t.name}":${r2(t.cold)}""")
      .mkString(""""cold_sec":{""", ",", "}}")
    (byCold.size to 0 by -1).view.map(line).find(_.length <= 1800)
      .getOrElse(line(0))
  }

  /** The queries a run times: every query of `all` in its order when
    * `args` is empty, else the named ones in argument order, each once.
    * Left lists every name `all` does not hold. */
  def selection[F](all: collection.Map[String, F],
      args: Seq[String]): Either[Seq[String], Seq[(String, F)]] = {
    val names = args.distinct
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty) Left(unknown)
    else if (names.isEmpty) Right(all.toSeq)
    else Right(names.map(n => n -> all(n)))
  }

  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    // resolve the names before the session and the warm-up: a typo costs
    // no startup and names every unknown query at once
    val selected = selection(SparkEntry.queries, args.toSeq) match {
      case Right(sel) => sel
      case Left(unknown) =>
        System.err.println(
          s"[bench] unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
    }
    val start = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the contract environment: local[32], 32 shuffle
    // partitions (SPARK_GRAFT_CPUS overrides for constrained local runs)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions default to core count (the contract env), but
    // scale with DATA, not cores: at the sf100 probe the fixed 32 was
    // the binding constraint (150 M-row self-join aggregation per task
    // → AGGREGATE_OUT_OF_MEMORY) — the knob every cluster deployment
    // owns (SCALE.md session defaults), exposed here for big-sf runs
    val spark = HarnessSession.builder(cpus,
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up, counted in setup_sec and cold_e2e_sec: JVM/codegen/
    // scheduler spin-up otherwise lands on whichever query happens to run
    // first, skewing its number by ~4s. Exercise each hot code path once
    // (vectorized parquet read, hash agg with decimal sums, shuffle,
    // broadcast join, regex tokenize/explode) so per-query timings
    // measure the PLAN, not first-use JIT; measured ~2 s once vs ~6 s
    // spread across whichever queries run first.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long").cast("decimal(38,0)")))
      .collect()
    Tables.documents(spark, sfDir).limit(500)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .groupBy("t").count()
      .join(broadcast(Tables.region(spark, sfDir)),
        col("t") === col("r_name"), "left_anti")
      .count()
    // higher-order-function expressions (transform/element_at lambdas in
    // the shingle/chunk/pair generators) run INTERPRETED — no codegen —
    // so their first execution also pays tiered-JIT warm-up of the
    // interpreter paths; at sf1 that cost minutes on whichever
    // HOF-heavy query ran first (q_substring_dup 433 s cold vs 11 s
    // warm). Drive the lambda machinery hot here instead.
    graft.functions.TextFns.shinglesOf(
      Tables.documents(spark, sfDir).limit(500), k = 8).count()
    Cleanup(spark)
    val setupSec = (System.nanoTime() - start) / 1e9
    var lastResult = start
    // one pass, -1 for a failed call: a swallowed exception must not
    // masquerade as a (fast) timing. NonFatal only — after an
    // OutOfMemoryError or LinkageError every later timing would be a lie.
    // Cleanup runs outside the timed span, so no call pays its
    // predecessor's cleanup; the CPU reading, like perfbench's, ends
    // after it. Each call gives (wall seconds, CPU seconds).
    def pass(): Seq[(Double, Double)] = selected.map { case (name, fn) =>
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
      lastResult = System.nanoTime()
      Cleanup(spark)
      (if (ok) (lastResult - t0) / 1e9 else -1.0, cpuSince(cpu0))
    }
    val cold = pass()
    val coldE2eSec = (lastResult - start) / 1e9
    val warm = Seq.fill(warmPasses)(pass())
    val timings = selected.indices.map(i =>
      Timing(selected(i)._1, cold(i)._1, warm.map(_(i)._1), cold(i)._2,
        warm.map(_(i)._2)))
    val run = Run(setupSec, coldE2eSec, Memo.evictions, Memo.rebuilds,
      Memo.rebuildSeconds, sfDir)
    new java.io.File("target").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"),
      fullLine(timings, run) + "\n")
    // stop BEFORE the final print: nothing (not even a stray shutdown line
    // on stdout) may land after the summary line
    spark.stop()
    println(compactLine(timings, run))
  }
}
