package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table (SURVEY.md §2.8
  * X15 — a north-star extension; the reference has no streaming layer).
  *
  * Design rule: every transform is a pure `DataFrame => DataFrame` valid on
  * BOTH static and streaming frames — the batch form is the DuckDB-checked
  * oracle (`q_event_tumble`), the streaming form is the same plan executed
  * incrementally. Batch/stream equivalence is asserted in
  * [[graft.StreamingSpec]], the test strategy SURVEY.md §7.3(5) prescribes
  * since streaming output is not DuckDB-checkable.
  *
  * Scale notes: windowed aggregations shuffle once on (window, key);
  * watermarks bound state so a 1000-executor cluster holds only
  * `|open windows| × |keys|` rows of state, independent of stream length.
  * Session windows merge on the keyed state store; the stateful sessionizer
  * keeps one fixed-size [[SessionState]] per user — O(users) state, spilled
  * to the state store, not the heap.
  */
object EventStreams {

  /** Typed view of one event row (events.parquet schema, TESTDATA.md). */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Running per-user session summary emitted by the stateful sessionizer. */
  final case class SessionUpdate(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double,
      closed: Boolean)

  /** Keyed state: the open session for one user. Timestamps are kept as
    * `java.sql.Timestamp` (micros preserved by the encoder) so emitted
    * session bounds are bit-identical to `session_window`'s. */
  final case class SessionState(start: Timestamp, last: Timestamp, n: Long,
      sum: Double)

  /** Tumbling event-time window per event_type (streaming twin of
    * `q_event_tumble`). */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding event-time window: every `slide`, aggregate the last `width`. */
  def sliding(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session (built-in state-store merge — the declarative form
    * of [[sessionize]]). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Windowed distinct-cardinality sketch: per tumbling `width` window,
    * the m = 64 HyperLogLog registers over the hashed key — streaming
    * cardinality monitoring (distinct users/documents per window on a
    * 100 TB-scale ingest) with state bounded at |open windows| × m
    * cells, independent of key cardinality. An exact streaming
    * COUNT(DISTINCT) would hold every distinct key in the state store;
    * this holds 64 longs per window, and per-source sketches merge by
    * elementwise MAX (the same aggregate) without reprocessing. Pure
    * `DataFrame => DataFrame` — the batch form is the DuckDB-checked
    * oracle (`q_event_hll`), the streaming form is the same plan run
    * incrementally (equivalence asserted in StreamingSpec). Register
    * logic shared with `q_hll_registers` via [[graft.functions.Sketches]]. */
  def windowedDistinctSketch(events: DataFrame, width: String = "1 day",
      key: Column = col("user_id")): DataFrame = {
    import graft.functions.Sketches
    events
      .select(col("ts"), Sketches.hash60(key.cast("string")).as("h"))
      .select(col("ts"), Sketches.bucket(col("h")).as("bucket"),
        Sketches.rho(col("h").bitwiseAND(Sketches.RemMask)).as("rho"))
      .groupBy(window(col("ts"), width), col("bucket"))
      .agg(max(col("rho")).cast("long").as("register"))
      .select(col("window.start").as("ws"), col("bucket"), col("register"))
  }

  /** Windowed frequency sketch: per tumbling `width` window, the d × w
    * count-min cells over the hashed key — streaming heavy-hitter /
    * hot-key monitoring (who is flooding the ingest this hour?) with
    * state bounded at |open windows| × d·w cells regardless of key
    * cardinality. Emits the CELLS (like [[windowedDistinctSketch]]
    * emits registers): point estimates are a downstream min-over-d
    * lookup against any probe set, and cells from different
    * sources/windows SUM — count-min's merge is addition, the dual of
    * the HLL register MAX. Pure `DataFrame => DataFrame`; batch twin
    * `q_event_count_min` is the DuckDB-checked oracle, stream==batch in
    * StreamingSpec. */
  def windowedFreqSketch(events: DataFrame, width: String = "1 day",
      key: Column = col("user_id"), d: Int = 4, w: Int = 256): DataFrame = {
    import graft.functions.Sketches
    events
      .select(col("ts"), Sketches.hash60(key.cast("string")).as("h"))
      .select(col("ts"), explode(array((0 until d).map(i =>
        struct(lit(i).as("r"),
          Sketches.cmBucket(col("h"), i, w).as("bkt"))): _*)).as("c"))
      .groupBy(window(col("ts"), width), col("c.r"), col("c.bkt"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("r"), col("bkt"), col("cnt"))
  }

  /** Windowed fixed-bin value histogram — the percentile-monitoring
    * sketch, completing the streaming sketch family (HLL → distincts,
    * count-min → frequencies, histogram → quantiles): per tumbling
    * `width` window, counts of `value` in `bins` ABSOLUTE equal-width
    * bins over [lo, hi) with out-of-range values clamped into the edge
    * bins. Absolute bins because streaming admits no second pass
    * (contrast `q_hist_percentile`, whose batch form reads per-group
    * extremes and exact order statistics off a data-independent log
    * bucket pass plus a band pass): the range is an operating
    * parameter, which is how a production latency monitor runs anyway.
    * State is bounded at |open windows| × bins counters regardless of
    * event volume; cells from different windows/sources merge by
    * ADDITION (count-min's merge), and any percentile is a downstream cumulative-sum readout
    * over ≤ `bins` cells. Determinism: the default bin width (hi−lo)/bins
    * = 4.0 is a power of two, so value/4.0 is an exponent shift — exact
    * in any IEEE engine — and floor/clamp are integer-identical. Pure
    * `DataFrame => DataFrame`; batch twin `q_event_hist` is the
    * DuckDB-checked oracle, stream==batch in StreamingSpec. */
  def windowedValueHist(events: DataFrame, width: String = "1 day",
      value: Column = col("value"), bins: Int = 256,
      lo: Double = 0.0, hi: Double = 1024.0): DataFrame = {
    val binW = (hi - lo) / bins
    val bin = least(lit((bins - 1).toLong), greatest(lit(0L),
      floor((value - lo) / binW)))
    // NULL values are dropped, not binned: Spark's greatest/least SKIP
    // nulls (a NULL value would silently land in bin 0) while DuckDB's
    // GREATEST propagates NULL across versions — filtering in BOTH the
    // operator and the declared SQL keeps the twin null-robust instead of
    // depending on the testdata staying non-null.
    events.filter(value.isNotNull)
      .groupBy(window(col("ts"), width), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("bin"), col("cnt"))
  }

  /** Single-pass windowed monitor: ALL THREE sketch families — HLL
    * distinct registers, count-min frequency cells, value histogram —
    * from ONE scan of the event stream per micro-batch. The production
    * shape: a monitor wants distincts AND hot keys AND the latency
    * distribution per window, and running [[windowedDistinctSketch]],
    * [[windowedFreqSketch]] and [[windowedValueHist]] separately scans
    * (and, streaming, shuffles state for) the events three times.
    *
    * Mechanics: each event emits 1 HLL cell + d count-min cells + ≤1
    * histogram cell as one generated array → one `explode` (constant
    * ≤ 2+d fan-out of narrow structs) → ONE exchange keyed on
    * (window, family, row, idx) → a single mixed aggregate (MAX for the
    * HLL register, COUNT for the additive families, selected per
    * family). The md5 key hash is computed once per event and shared by
    * the HLL and all d count-min cells. State stays bounded at
    * |open windows| × (64 + d·w + bins) cells; each family's cells are
    * bit-identical to the standalone transforms', so downstream
    * mergers/readouts (q_hll_rollup, q_event_hist_pct) consume them
    * unchanged. Pure `DataFrame => DataFrame`; batch twin
    * `q_event_monitor` is the DuckDB-checked oracle (the three
    * standalone oracles composed by UNION ALL), stream==batch in
    * StreamingSpec. */
  def windowedMonitor(events: DataFrame, width: String = "1 day",
      key: Column = col("user_id"), value: Column = col("value"),
      d: Int = 4, w: Int = 256, bins: Int = 256,
      lo: Double = 0.0, hi: Double = 1024.0): DataFrame = {
    import graft.functions.Sketches
    val binW = (hi - lo) / bins
    val bin = least(lit((bins - 1).toLong), greatest(lit(0L),
      floor((value - lo) / binW)))
    val hashed = events.select(col("ts"),
      Sketches.hash60(key.cast("string")).as("h"),
      // NULL values carry a NULL histogram cell (dropped after the
      // explode) — binning them would clamp NULL into bin 0 because
      // greatest/least skip nulls (see windowedValueHist)
      when(value.isNotNull, bin).as("bin"))
    val hllCell = struct(lit("hll").as("family"), lit(0).as("r"),
      Sketches.bucket(col("h")).as("idx"),
      Sketches.rho(col("h").bitwiseAND(Sketches.RemMask)).as("rho"))
    val cmCells = (0 until d).map(i =>
      struct(lit("cm").as("family"), lit(i).as("r"),
        Sketches.cmBucket(col("h"), i, w).as("idx"),
        lit(null).cast("integer").as("rho")))
    val histCell = struct(lit("hist").as("family"), lit(0).as("r"),
      col("bin").as("idx"), lit(null).cast("integer").as("rho"))
    hashed
      .select(col("ts"),
        explode(array(hllCell +: cmCells :+ histCell: _*)).as("c"))
      .filter(!(col("c.family") === "hist" && col("c.idx").isNull))
      .groupBy(window(col("ts"), width), col("c.family").as("family"),
        col("c.r").as("r"), col("c.idx").as("idx"))
      .agg(count(lit(1)).as("cnt"), max(col("c.rho")).as("mrho"))
      .select(col("window.start").as("ws"), col("family"), col("r"),
        col("idx"),
        when(col("family") === "hll", col("mrho").cast("long"))
          .otherwise(col("cnt")).as("val"))
  }

  /** Late-data bound: state for windows older than `delay` behind the max
    * observed event time is finalized and dropped. No-op on batch frames
    * (Spark ignores watermarks there) — same plan, both modes. */
  def watermarked(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)

  /** Custom keyed state via flatMapGroupsWithState: per-user sessionization
    * emitting a running [[SessionUpdate]] per input batch (Update mode),
    * closing the session when a gap > `gapMinutes` is seen. The escape
    * hatch for session semantics `session_window` can't express (e.g.
    * value-dependent gaps); kept deliberately parallel to [[sessions]].
    */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionUpdate] = {
      val sorted = it.toSeq.sortBy(_.ts.getTime)
      if (sorted.isEmpty) Iterator.empty
      else {
        var st = state.getOption.orNull
        val out = Seq.newBuilder[SessionUpdate]
        for (e <- sorted) {
          if (st == null) {
            st = SessionState(e.ts, e.ts, 1, e.value)
          } else if (e.ts.getTime - st.last.getTime > gapMs) {
            out += SessionUpdate(userId, st.start, st.last, st.n, st.sum,
              closed = true)
            st = SessionState(e.ts, e.ts, 1, e.value)
          } else {
            // merge, never regress: a cross-batch late event extends the
            // open session's bounds (start may move earlier, last only
            // forward) — otherwise `last` walking backwards fabricates a
            // gap and splits the session on the next in-order event
            val start =
              if (e.ts.getTime < st.start.getTime) e.ts else st.start
            val last =
              if (e.ts.getTime > st.last.getTime) e.ts else st.last
            st = SessionState(start, last, st.n + 1, st.sum + e.value)
          }
        }
        state.update(st)
        out += SessionUpdate(userId, st.start, st.last, st.n, st.sum,
          closed = false)
        out.result().iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream-stream interval join: match each left event to right events
    * of the same user within `[ts − before, ts + after]`. On streams,
    * watermark BOTH sides (the interval plus the watermark bound the join
    * state — Spark drops left/right state older than
    * watermark − interval); on static frames the same plan is a plain
    * range join. Columns are disambiguated with an `r_` prefix.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      before: String = "10 minutes", after: String = "10 minutes",
      watermark: Option[String] = None): DataFrame = {
    val l = watermark.fold(left)(w => left.withWatermark("ts", w))
    val rRaw = right.select(col("event_id").as("r_event_id"),
      col("ts").as("r_ts"), col("user_id").as("r_user_id"),
      col("event_type").as("r_event_type"), col("value").as("r_value"))
    val r = watermark.fold(rRaw)(w => rRaw.withWatermark("r_ts", w))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("ts") + expr(s"INTERVAL $after"),
      "inner")
  }

  /** Stream-static enrichment: the streaming fact joined to a static
    * dimension, broadcast-joined per micro-batch — the most common
    * production streaming join. No stream-side state at all (unlike a
    * stream-stream join): each micro-batch plans an ordinary
    * BroadcastHashJoin against the (re-read, cacheable) static side, so
    * at 100 TB/day of stream the dimension rides the executors and the
    * fact never shuffles. Works identically on static frames. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup on event id: state holds one entry per id
    * seen inside the watermark horizon, so re-deliveries (at-least-once
    * sources) collapse to exactly-once downstream while state stays
    * bounded by the horizon — the streaming half of the dedup surface
    * (batch half: PipelineQueries q_dedup_*). On static frames this is
    * plain dropDuplicates.
    *
    * Streaming uses `dropDuplicatesWithinWatermark`: plain
    * `dropDuplicates("event_id")` would never evict state (Spark only
    * cleans dedup state when an event-time column is part of the key
    * set), so a long-running stream grows one state entry per id
    * forever. The within-watermark variant expires ids once they age
    * past the horizon — the bounded-state contract this operator
    * documents. */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** File-source streaming reader over a directory of event parquet —
    * the production entry (`readStream` → transforms → `writeStream`).
    * Schema is pinned (required by streaming sources) to standard
    * micro-second TIMESTAMP parquet — i.e. anything this library's own
    * sinks wrote. The driver TESTDATA events.parquet is TIMESTAMP(NANOS)
    * and is NOT readable here — batch-load it through [[graft.Tables
    * .events]] (which carries the nanos workaround) and re-persist first.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)
}
