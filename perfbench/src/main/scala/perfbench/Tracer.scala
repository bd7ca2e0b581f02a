package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusAccess, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.{Call, Pass, obj, str}

/** Attributes Spark's own events to the query call that caused them.
  *
  * Each call runs under its own job group; a SparkListener files jobs,
  * stages and task metrics under that group. Planning time is the part of
  * the noop write covered by `QueryPlanningTracker` phases: those of the
  * frame's own tracker and of every query execution the write reports to
  * a QueryExecutionListener. A tracker merges a repeated phase into (first
  * start, last end), so a phase the frame already went through before the
  * write would reach back into construct time; each phase is therefore
  * clipped to the write's span, and overlapping phases count once. After
  * each call the listener bus is drained, so every event is filed before
  * the next call starts.
  */
final class Tracer(spark: SparkSession) {

  final class Stage(val id: Int, val jobId: Int) {
    var tasks = 0L
    var taskFailures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
  }

  final class Record(val call: Call, val pass: String) {
    val jobs = mutable.ArrayBuffer[(Int, Int, Int)]() // id, stages, skipped
    val stages = mutable.LinkedHashMap[Int, Stage]()
    val phases = mutable.ArrayBuffer[(Long, Long)]() // start, end (ms)
    var planS = 0.0
    var compiles = 0L
  }

  private val records = mutable.ArrayBuffer[Record]()
  private var current: Record = _
  // the frame being written and the write's start (ms)
  private var writing: Option[(QueryPlanningTracker, Long)] = None
  private var compilesAtBegin = 0L
  private val byGroup = mutable.Map[String, Record]()
  private val stageRecord = mutable.Map[Int, Record]()
  private val stageJob = mutable.Map[Int, Int]()
  // job id -> (record, stage ids of the job, stage ids submitted for it)
  private val activeJobs =
    mutable.Map[Int, (Record, Set[Int], mutable.Set[Int])]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(byGroup.get).foreach { r =>
        activeJobs(e.jobId) = (r, e.stageIds.toSet, mutable.Set())
        e.stageIds.foreach { s =>
          stageRecord.getOrElseUpdate(s, r)
          stageJob.getOrElseUpdate(s, e.jobId)
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val id = e.stageInfo.stageId
        activeJobs.values.foreach { case (_, ids, sub) =>
          if (ids.contains(id)) sub += id }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      activeJobs.remove(e.jobId).foreach { case (r, ids, sub) =>
        r.jobs += ((e.jobId, ids.size, ids.size - sub.size))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageRecord.get(e.stageId).foreach { r =>
        val s = r.stages.getOrElseUpdate(e.stageId,
          new Stage(e.stageId, stageJob.getOrElse(e.stageId, -1)))
        s.tasks += 1
        if (e.reason != Success) s.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Tracer.this.synchronized {
      if (current != null) current.phases ++= spans(qe.tracker)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def begin(call: Call, pass: String): Unit = {
    val r = new Record(call, pass)
    val group = s"perfbench-${records.size}"
    synchronized {
      records += r
      byGroup(group) = r
      current = r
    }
    compilesAtBegin = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.sparkContext.setJobGroup(group, s"$pass ${call.q.name}")
  }

  /** The call's frame is about to be written. */
  def write(df: DataFrame): Unit = synchronized {
    writing = Some((df.queryExecution.tracker, System.currentTimeMillis()))
  }

  /** The write has ended (or the call failed). */
  def end(): Unit = {
    val endMs = System.currentTimeMillis()
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    synchronized {
      val r = current
      r.compiles =
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtBegin
      writing.foreach { case (t, startMs) =>
        r.phases ++= spans(t)
        r.planS = covered(r.phases.toSeq, startMs, endMs) / 1e3
      }
      writing = None
      current = null
    }
  }

  private def spans(t: QueryPlanningTracker): Seq[(Long, Long)] =
    t.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq

  /** Milliseconds of [from, to] covered by at least one of `spans`. */
  private def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = math.max(s, reach)
      val hi = math.min(e, to)
      if (hi > lo) { total += hi - lo; reach = hi }
    }
    total
  }

  private def of(pass: String) = records.filter(_.pass == pass).toSeq

  /** Per-layer figures; warm figures are per warm pass (means). */
  def layerMetrics(cold: Pass, warm: Seq[Pass],
      moduleNames: Seq[String]): Seq[(String, Double)] = synchronized {
    val cores = Runtime.getRuntime.availableProcessors
    val passes = Seq("cold" -> Seq(cold), "warm" -> warm)
    passes.flatMap { case (p, ps) =>
      val n = ps.size.toDouble
      val spans = ps.flatMap(_.spans)
      val recs = of(p)
      val stages = recs.flatMap(_.stages.values)
      val wall = ps.map(_.wall).sum / n
      def mb(f: Stage => Long) = stages.map(f).sum / 1048576.0 / n
      val perModule = moduleNames.flatMap { m =>
        val sp = spans.filter(_.call.module == m)
        val rs = recs.filter(_.call.module == m)
        Seq(s"$m.$p.construct_s" -> sp.map(_.construct).sum / n,
          s"$m.$p.plan_s" -> rs.map(_.planS).sum / n,
          s"$m.$p.exec_s" ->
            (sp.map(_.write).sum - rs.map(_.planS).sum) / n) ++
          (if (p == "cold") Seq(
            s"$m.cold.jobs" -> rs.map(_.jobs.size).sum.toDouble,
            s"$m.cold.tasks" -> rs.flatMap(_.stages.values).map(_.tasks).sum
              .toDouble)
          else Nil)
      }
      val runS = stages.map(_.runMs).sum / 1e3 / n
      perModule ++ Seq(
        s"spark.$p.jobs" -> recs.map(_.jobs.size).sum / n,
        s"spark.$p.stages" -> recs.flatMap(_.jobs).map(_._2).sum / n,
        s"spark.$p.stages_skipped" -> recs.flatMap(_.jobs).map(_._3).sum / n,
        s"spark.$p.tasks" -> stages.map(_.tasks).sum / n,
        s"spark.$p.task_failures" -> stages.map(_.taskFailures).sum / n,
        s"spark.$p.task_run_s" -> runS,
        s"spark.$p.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
        s"spark.$p.gc_s" -> stages.map(_.gcMs).sum / 1e3 / n,
        s"spark.$p.input_mb" -> mb(_.inputBytes),
        s"spark.$p.shuffle_read_mb" -> mb(_.shuffleReadBytes),
        s"spark.$p.shuffle_write_mb" -> mb(_.shuffleWriteBytes),
        s"spark.$p.spill_mb" -> mb(_.spillBytes),
        s"spark.$p.peak_exec_mem_mb" ->
          stages.map(_.peakExecMem).maxOption.getOrElse(0L) / 1048576.0,
        s"spark.$p.core_busy_frac" -> runS / (cores * wall),
        s"codegen.$p.compiles" -> recs.map(_.compiles).sum / n,
        s"cleanup.$p.s" -> spans.map(_.cleanup).sum / n,
        s"driver.$p.frac" -> spans.map(_.construct).sum / n / wall)
    }
  }

  /** Every call's spans with its jobs and stages, pass by pass. */
  def traceJson(callsPerPass: Int, passes: Seq[Pass]): String = synchronized {
    val spans = passes.flatMap(_.spans)
    records.zip(spans).map { case (r, s) =>
      val jobs = r.jobs.map { case (id, st, sk) =>
        val stages = r.stages.values.filter(_.jobId == id).map { g =>
          s"""{"stage":${g.id},"tasks":${g.tasks},""" +
            s""""task_failures":${g.taskFailures},"run_s":${g.runMs / 1e3},""" +
            s""""cpu_s":${g.cpuNs / 1e9},"gc_s":${g.gcMs / 1e3},""" +
            s""""input_bytes":${g.inputBytes},""" +
            s""""shuffle_read_bytes":${g.shuffleReadBytes},""" +
            s""""shuffle_write_bytes":${g.shuffleWriteBytes},""" +
            s""""spill_bytes":${g.spillBytes},""" +
            s""""peak_exec_mem_bytes":${g.peakExecMem}}"""
        }.mkString("[", ",", "]")
        s"""{"job":$id,"stages_listed":$st,"stages_skipped":$sk,""" +
          s""""stages":$stages}"""
      }.mkString("[", ",", "]")
      val query = s.construct + s.write
      s"""{"query":${str(r.call.q.name)},"module":${str(r.call.module)},""" +
        s""""pass":${str(r.pass)},"ok":${s.ok},"compiles":${r.compiles},""" +
        s""""spans":${obj(Seq("query_s" -> query,
          "construct_s" -> s.construct, "write_s" -> s.write,
          "plan_s" -> r.planS,
          "exec_s" -> (s.write - r.planS), "cleanup_s" -> s.cleanup))},""" +
        s""""jobs":$jobs}"""
    }.mkString(s"""{"calls_per_pass":$callsPerPass,"calls":[""", ",\n",
      "]}\n")
  }
}
