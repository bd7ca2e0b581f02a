package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Cleanup, Memo, Q, Tables}

/** Closed-loop benchmark client: one JVM, one SparkSession, one
  * single-threaded caller of the program's public query functions.
  *
  * Set-up is the session plus the warm-up `graft.Bench` runs; its time
  * from JVM launch is `setup_s`. `--mode run` then runs one workload: a
  * cold pass (empty memo); an untimed check pass on the same session
  * that writes every result to parquet for the oracle compare; then a
  * fixed number of timed warm passes, sized by `--seconds`. Each timed call
  * materializes the whole result through the `noop` sink. With
  * `--trace 1` a listener attributes jobs, stages and tasks to the
  * running query (by job group) and per-query spans are written next to
  * the results.
  *
  * `--mode dual` instead times every query of the program once, cold,
  * to the end of `--sink` (count or noop).
  *
  * The last stdout line is `PERFBENCH <json>`; everything else goes to
  * stderr.
  */
object Harness {

  /** The program's query modules, in `graft.SparkEntry` order. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.operators.Relational.all,
    "CooQueries" -> graft.operators.CooQueries.all,
    "MlQueries" -> graft.ml.MlQueries.all,
    "TextQueries" -> graft.operators.TextQueries.all,
    "PipelineQueries" -> graft.operators.PipelineQueries.all,
    "Graph" -> graft.operators.Graph.all)

  /** Fixed query subsets of the modules; the seed only permutes them. */
  val workloads: Map[String, Seq[String]] = Map(
    "relational" -> Seq(
      "q_join_hash", "q_groupby_agg", "q_window_rank", "q_window_nav",
      "q_percentile", "q_hist_percentile", "q_string_date_fns",
      "q_event_tumble"),
    "algebra_llm" -> Seq(
      "q_gram", "q_ridge_beta", "q_ssr", "q_twcnb_model", "q_pagerank",
      "q_dedup_pipeline", "q_bpe_train"))

  /** Nominal seconds of one warm pass of either workload at 4 vCPUs. */
  val nominalWarmS = 3.5

  /** Warm passes that fit `seconds` at the nominal pass time: at least
    * three and an odd number, so each query's median is one measured
    * call. The count depends only on `seconds`, never on how fast the
    * host runs, so every run does the same work. */
  def warmPasses(seconds: Double): Int = {
    val n = math.max(3, math.round(seconds / nominalWarmS).toInt)
    if (n % 2 == 0) n + 1 else n
  }

  final case class Call(q: Q, module: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val launchedMs = opt("launched-ms").toLong
    val spark = session(opt("scratch"))
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    warmUp(spark, data)
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    System.err.println(s"[perfbench] session ready at $sessionS s, " +
      s"warm-up done at $setupS s")
    if (opt("mode") == "dual") {
      emit(dual(spark, data, opt("sink")))
      spark.stop()
      return
    }
    val workload = opt("workload")
    val names = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val byName = (for ((m, qs) <- modules; q <- qs)
      yield q.name -> Call(q, m)).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not in the program: $missing")
    val order = new scala.util.Random(opt("seed").toLong)
      .shuffle(names).map(byName)
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None

    val cold = runPass(spark, data, order, "cold", tracer)
    val residentMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val pinnedMb = Memo.pinnedBytes(spark) / 1048576.0
    val budgetMb = spark.conf.get("graft.memo.maxPinnedBytes").toLong /
      1048576.0
    // the check pass is the first warm pass: it writes every result for
    // the oracle compare, untimed, and lets the warm (memo-hit) path pay
    // its JIT compilation before the timed warm passes
    val out = opt("out")
    val verifyStart = System.nanoTime()
    verify(spark, data, order, out)
    val verifyS = (System.nanoTime() - verifyStart) / 1e9
    val warm = (1 to warmPasses(opt("seconds").toDouble))
      .map(_ => runPass(spark, data, order, "warm", tracer))
    val warmMedian = warmE2e(warm)
    val failures = (cold.failed ++ warm.flatMap(_.failed)).distinct
    val attempted = order.size * (1 + warm.size)
    val failedCalls = cold.failed.size + warm.map(_.failed.size).sum

    val layers = tracer.map { t =>
      val metrics = t.layerMetrics(cold, warm, modules.map(_._1)) ++
        Seq("memo.pinned_mb" -> pinnedMb,
          "memo.evictions" -> Memo.evictions.toDouble,
          "memo.rebuilds" -> Memo.rebuilds.toDouble,
          "memo.rebuild_s" -> Memo.rebuildSeconds,
          "memo.budget_mb" -> budgetMb,
          "cache.resident_mb" -> residentMb,
          "traced.cold_e2e_s" -> cold.wall,
          "traced.warm_e2e_s" -> warmMedian,
          "traced.cold_cpu_s" -> cold.cpu)
      Files.writeString(Paths.get(out, "trace.json"),
        t.traceJson(order.size, cold +: warm))
      metrics
    }.getOrElse(Nil)

    val queries = order.map { c =>
      s"""{"name":${str(c.q.name)},"module":${str(c.module)},""" +
        s""""oracle":${c.q.oracle.map(str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    emit(s"""{"setup_s":$setupS,"cold_e2e_s":${cold.wall},""" +
      s""""cold_cpu_s":${cold.cpu},"warm_cpu_s":${warmCpu(warm)},""" +
      s""""warm_e2e_s":$warmMedian,"warm_passes":${warm.size},""" +
      s""""warm_pass_s":${warm.map(_.wall).mkString("[", ",", "]")},""" +
      s""""verify_s":$verifyS,""" +
      s""""resident_cache_mb":$residentMb,"memo_budget_mb":$budgetMb,""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""attempted":$attempted,"failed_calls":$failedCalls,""" +
      s""""failed_queries":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""order":${order.map(c => str(c.q.name)).mkString("[", ",", "]")},""" +
      s""""queries":$queries,"layers":${obj(layers)}}""")
    spark.stop()
  }

  /** One cold pass over every query of the program, in module order,
    * each call timed to the end of `sink`: "count" (the action the
    * BENCH_r*.json series timed) or "noop" (the whole result). */
  def dual(spark: SparkSession, data: String, sink: String): String = {
    val secs = for ((m, qs) <- modules; q <- qs) yield {
      val t0 = System.nanoTime()
      val ok = try {
        val df = q.fn(spark, data)
        if (sink == "count") df.count()
        else df.write.format("noop").mode("overwrite").save()
        true
      } catch { case scala.util.control.NonFatal(_) => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Cleanup(spark)
      s"${str(q.name)}:${if (ok) dt else -1.0}"
    }
    s"""{"sink":${str(sink)},"seconds":${secs.mkString("{", ",", "}")}}"""
  }

  /** The session `graft.Bench` builds: all cores, one shuffle partition
    * per core, UTC, no UI, AQE allowed to re-coalesce cached plans. The
    * memo gets the harness-default budget, half the nominal storage pool.
    *
    * One setting differs from `Bench`: the generated-code cache holds 1024
    * classes, not Spark's default 100. A workload's cold pass compiles 120
    * (relational) to 220 (algebra_llm) classes, so at 100 entries every
    * warm pass compiled 51 to 107 of them again, about 30 ms each, and how
    * many depended on the query order, that is on the seed: warm passes
    * moved by up to 40 % from seed to seed. With the larger cache a warm
    * pass compiles nothing; cold compiles are unchanged. */
  def session(scratch: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pool = Runtime.getRuntime.maxMemory *
      spark.conf.get("spark.memory.fraction", "0.6").toDouble *
      spark.conf.get("spark.memory.storageFraction", "0.5").toDouble
    spark.conf.set("graft.memo.maxPinnedBytes", (pool / 2).toLong.toString)
    spark
  }

  /** The untimed warm-up `graft.Bench` runs before measuring: one pass
    * over each hot code path (parquet scan, decimal aggregate, shuffle,
    * broadcast join, tokenize/explode, the shingle kernel). */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, data).groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long").cast("decimal(38,0)")))
      .collect()
    Tables.documents(spark, data).limit(500)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .groupBy("t").count()
      .join(broadcast(Tables.region(spark, data)),
        col("t") === col("r_name"), "left_anti")
      .count()
    graft.functions.TextFns.shinglesOf(
      Tables.documents(spark, data).limit(500), k = 8).count()
    Cleanup(spark)
  }

  /** One span per query call; `construct` is the `Q.fn` call, `write` the
    * noop materialization, `cleanup` the `Cleanup` after it, and `cpu` the
    * CPU seconds the program's threads spent over all three. */
  final case class Span(call: Call, construct: Double, write: Double,
      cleanup: Double, ok: Boolean, cpu: Double)

  final case class Pass(name: String, wall: Double, spans: Seq[Span]) {
    def failed: Seq[String] = spans.filterNot(_.ok).map(_.call.q.name)
    def cpu: Double = spans.map(_.cpu).sum
  }

  def runPass(spark: SparkSession, data: String, order: Seq[Call],
      pass: String, tracer: Option[Tracer]): Pass = {
    val spans = mutable.ArrayBuffer[Span]()
    val start = System.nanoTime()
    var lastResult = start
    for (c <- order) {
      tracer.foreach(_.begin(c, pass))
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = c.q.fn(spark, data)
        t1 = System.nanoTime()
        tracer.foreach(_.write(df))
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $pass ${c.q.name} failed: $e")
          if (t1 == t0) t1 = System.nanoTime()
          false
      }
      val t2 = System.nanoTime()
      lastResult = t2
      Cleanup(spark)
      val t3 = System.nanoTime()
      val cpu = cpuSince(cpu0)
      tracer.foreach(_.end())
      spans += Span(c, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, ok,
        cpu)
    }
    Pass(pass, (lastResult - start) / 1e9, spans.toSeq)
  }

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread, by thread id. The JIT
    * compiler and garbage-collector threads are hidden from the thread
    * bean and are not in it. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the program's threads spent since `before`: the client
    * thread, Spark's task, scheduler and shuffle threads, anything the
    * program starts. A thread that ended in between is not counted. */
  def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) =>
      ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Untimed: each result in full, one parquet file per query, for the
    * oracle compare (a query whose result is missing fails it). It runs
    * right after the cold pass, so it is also the warm path's first run. */
  def verify(spark: SparkSession, data: String, order: Seq[Call],
      out: String): Unit =
    for (c <- order) {
      try c.q.fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/${c.q.name}")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] verify ${c.q.name} failed: $e")
      }
      Cleanup(spark)
    }

  /** One warm pass as the sum, over the queries, of each query's median
    * call over the warm passes; a call runs from `Q.fn` to the end of the
    * `Cleanup` after its write. A host stall that slows part of one pass
    * then moves no query's median. */
  def warmE2e(warm: Seq[Pass]): Double =
    sumOfMedians(warm, s => s.construct + s.write + s.cleanup)

  /** The same for the CPU seconds the program's threads spend in a call. */
  def warmCpu(warm: Seq[Pass]): Double = sumOfMedians(warm, _.cpu)

  def sumOfMedians(warm: Seq[Pass], f: Span => Double): Double =
    warm.flatMap(_.spans).groupBy(_.call.q.name).values
      .map(ss => median(ss.map(f))).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def emit(json: String): Unit = {
    System.out.println("PERFBENCH " + json)
    System.out.flush()
  }
}
