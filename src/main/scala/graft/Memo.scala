package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-(session, key) memo for MATERIALIZED frames shared across declared
  * queries in one harness run (Verify/Bench execute every query in a
  * single session, sequentially).
  *
  * Why it exists: several declared queries are honest consumers of the
  * same expensive intermediate — q_pagerank and q_ppr of the
  * customer–supplier edge/degree frames, q_label_prop / q_modularity /
  * q_bfs_hops / q_bfs_reach of the repeat-co-purchase graph, q_modularity
  * of the LPA assignment q_label_prop also computes. Declaring them
  * independent is right (each is a complete query a user can run alone:
  * the memo computes on first use); RE-running a multi-second graph build
  * per query is the same recompute waste the dedup family's shared
  * candidate builder removed in round 8. At 100 TB the materialize-once
  * discipline is not optional — you checkpoint the contracted graph and
  * score it per metric, you don't rebuild it per metric.
  *
  * Values must be eagerly materialized by the builder (localCheckpoint
  * (true)) so the memo hands later consumers a LogicalRDD leaf, not a
  * lazy plan that would re-execute anyway. The harness's per-query
  * [[Cleanup]] unpersists every persistent RDD after each query
  * (round-2 advisor hygiene) — the memo therefore records which
  * checkpoint RDDs each value reads and [[Cleanup]] spares exactly
  * those, so shared frames survive query boundaries while per-query
  * transients are still freed. Entries from stopped sessions are purged
  * on every access; keys are reference-identity on the session, so
  * concurrent test suites with their own sessions never collide.
  *
  * Staleness contract: entries built over a testdata directory carry a
  * cheap driver-side FINGERPRINT of that directory (an order-free XOR
  * of per-file (path, size, mtime) hashes, one bounded listing) taken
  * at build time; a later call with the same key rebuilds — releasing
  * the stale pins — when the fingerprint no longer matches, so a
  * regenerated directory cannot serve stale frames mid-session
  * (round-6's silent testdata regeneration is the documented
  * precedent). The fingerprint is a change DETECTOR, not a content
  * hash: it catches any regeneration that renames, resizes, or
  * re-stamps at least one file, not a byte-identical rewrite with
  * preserved names/sizes/mtimes, which no cheap listing can see.
  *
  * Footprint contract: each entry pins exactly the checkpoint RDDs its
  * value's frames read (their LogicalRDD leaves, whichever build made
  * them), as the reference's `drm.checkpoint()` pins the blocks of the
  * matrix it returns and nothing else: composite entries co-pin only
  * what they read, and a build frees what else it persisted unpinned.
  * `graft.memo.maxPinnedBytes` bounds the pinned working set; unset or
  * malformed, the budget is [[harnessBudget]] of the session's nominal
  * storage pool, so no session runs unbounded.
  * Exceeding it evicts entries COST-AWARE (their blocks unpersisted; a
  * later call rebuilds) until the pinned bytes fit, so an embedding
  * application streaming many datasets through one session cannot grow
  * executor storage without bound.
  * Victim order is greedy bytes-per-rebuild-second, not LRU: each
  * candidate scores (freeable bytes no other entry pins) / (its measured
  * build seconds), highest first, recency as tiebreak — the round-12
  * sf10 run showed pure recency evicting 20-40 s graph builds to keep
  * cheap frames (q_label_prop 0.13 → 42.4 s rebuild storms). Eviction
  * respects QUERY BOUNDARIES: entries handed out since the last
  * [[queryBoundary]] (Cleanup calls it per query) are in-flight — a
  * live plan may still read their truncated-lineage checkpoints — and
  * are never evicted; between boundaries the budget may therefore stay
  * temporarily exceeded, and an application that never declares a
  * boundary gets no eviction. [[pinnedBytes]] publishes the current
  * figure; [[evictions]] counts evictions; [[rebuilds]]/
  * [[rebuildSeconds]] ledger the recompute tax budgeted runs pay.
  *
  * Concurrency contract: builds of any keys from any threads are
  * serialised by one JVM-wide lock (Spark allows one active context per
  * JVM), so a build's context-global persistent-RDD diff holds only its
  * own blocks and its eager transient sweep — which spares every live
  * entry's pins, nested builds' included — is always safe; two threads
  * racing one key build it once. [[Cleanup]]'s sweep must NOT run
  * concurrently with a build: it would free in-flight, not-yet-registered
  * checkpoints. Pin-sparing ([[pinnedRddIds]]) matches on the shared
  * SparkContext, not session identity — Cleanup from any session of a
  * context spares every sibling session's pins, which over-spares (safe)
  * rather than frees a sibling's live checkpoint.
  */
object Memo {
  private final case class Entry(value: AnyRef, rddIds: Set[Int],
      fingerprint: Long, buildNanos: Long) {
    // recency stamp for the byte-budget eviction TIEBREAK
    @volatile var lastUse: Long = 0L
  }

  private val m = new ConcurrentHashMap[(SparkSession, String), Entry]

  // Entries handed out (hit or fresh build) since the last QUERY
  // BOUNDARY: a caller may still hold their frames inside a
  // not-yet-executed plan, and evicting a truncated-lineage
  // localCheckpoint that a live plan references fails the in-flight
  // query with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — found the first time
  // the budget machinery ran under the gate workload (q_modularity
  // consumes TWO memo entries; touching the second evicted the first
  // mid-query; MemoSpec's mid-suite eviction pin reproduces it). The
  // budget pass therefore never evicts a touched entry; [[queryBoundary]]
  // (called by the harness's Cleanup after each query's terminal action,
  // and by release) clears the set, at which point the previous query's
  // frames are dead by the harness discipline and the entries become
  // evictable again.
  private val touched = java.util.Collections.newSetFromMap(
    new ConcurrentHashMap[(SparkSession, String), java.lang.Boolean])

  /** Declare a query boundary for `s`'s context: entries handed out
    * before this call become eligible for byte-budget eviction (their
    * consumers' plans have run). The harness's [[Cleanup]] calls this
    * per query; an embedding application without Cleanup calls it — or
    * [[release]] — at its own dataset/query boundaries, and until it
    * does the budget may stay exceeded rather than break live plans. */
  def queryBoundary(s: SparkSession): Unit =
    touched.removeIf(_._1.sparkContext eq s.sparkContext)

  // monotonic use counter (NOT wall time: two uses in one millisecond
  // must still order) — the eviction order's recency tiebreak.
  private val useTick = new java.util.concurrent.atomic.AtomicLong(0L)

  // serialises every miss path of applyImpl (see the Concurrency
  // contract); a Java monitor is reentrant, so a nested build on the
  // building thread (lpaAssignment → weightedEdges) enters it again
  private val buildLock = new Object

  // never-repeating sentinel for a fingerprint listing that failed
  // mid-walk: unique per failure AND disjoint from the digest value
  // space by construction (sentinels are the negative longs, counting
  // down from −1; legitimate digests mask the sign bit off), so it can
  // match neither a stored digest nor a previously stored sentinel —
  // the access rebuilds, which is the correct response to a directory
  // that is being rewritten right now.
  private val fpFail = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** splitmix64 finalizer — the per-file mixer for [[fingerprint]]. */
  private def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Bounded-depth listing digest of a data directory: every file's
    * (path, size, mtime) tuple mixed to 64 bits (splitmix64) and XOR'd
    * into one order-free Long — one bounded listing, but unlike an
    * aggregate-stats fold (count + max mtime + total bytes, the
    * round-10 form) a regeneration that preserves the aggregates
    * (bytes moving between files, mtime-preserving copies, coarse-mtime
    * filesystems inside one granularity tick) still flips the digest
    * unless every individual file's tuple survives. Masked
    * non-negative so the value space is disjoint from the negative
    * failure sentinels. Depth 3 covers `<dir>/<table>.parquet
    * [/part-files]` for both the driver's single-file tables and
    * directory-shaped parquet output. A walk that fails mid-listing (a
    * part-file deleted between enumerate and stat — exactly the
    * regeneration-in-progress scenario the fingerprint exists for)
    * yields a unique sentinel instead of throwing, forcing a rebuild
    * rather than failing the calling query. */
  private[graft] def fingerprint(dir: String): Long = try {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    var acc = 0L
    val stream = java.nio.file.Files.walk(root, 3)
    try {
      stream.forEach { p =>
        val f = p.toFile
        if (f.isFile) {
          val h = mix64(mix64(mix64(
            root.relativize(p).toString.hashCode.toLong ^
              0x9e3779b97f4a7c15L) ^ f.length()) ^ f.lastModified())
          acc ^= h
        }
      }
    } finally stream.close()
    acc & Long.MaxValue // tag bit: digests ≥ 0, failure sentinels < 0
  } catch {
    case _: java.io.UncheckedIOException | _: java.io.IOException =>
      fpFail.getAndDecrement()
  }

  /** Memoize a frame (or tuple of frames) with no backing data
    * directory — test fixtures and synthetic builds. */
  def apply[T <: AnyRef](s: SparkSession, key: String)(f: => T): T =
    applyImpl(s, key, 0L)(f)

  /** Memoize a build derived from the parquet tables under `dir`; the
    * entry is invalidated (stale pins released, value rebuilt) when the
    * directory's [[fingerprint]] changes. */
  def apply[T <: AnyRef](s: SparkSession, key: String, dir: String)(
      f: => T): T = applyImpl(s, key, fingerprint(dir))(f)

  private def applyImpl[T <: AnyRef](s: SparkSession, key: String,
      fp: Long)(f: => T): T = {
    // purge entries whose session's CONTEXT is gone — their checkpointed
    // RDDs are unusable and the references would pin the stopped session.
    // (Assumes one session per context, like the harness: a discarded
    // newSession() on a live context is NOT purged here — such an
    // embedding must call release(s) at its session boundary.)
    m.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // same hygiene for the in-flight set: a stopped context that never
    // reaches another queryBoundary would otherwise strand its touched
    // keys (strong session refs) for the JVM lifetime — exactly the
    // long-lived embedding scenario the budget machinery targets
    touched.removeIf(k => k._1.sparkContext.isStopped)
    val k = (s, key)
    // a live entry with a matching fingerprint, counted as a use
    def live(): Option[T] = Option(m.get(k)).filter(_.fingerprint == fp)
      .map { hit =>
        hit.lastUse = useTick.incrementAndGet()
        touched.add(k)
        hit.value.asInstanceOf[T]
      }
    live().getOrElse(buildLock.synchronized {
      // re-check under the lock: a racing caller may have built the key
      live().getOrElse(build(s, k, fp)(f))
    })
  }

  /** The miss path of [[applyImpl]]; runs under `buildLock`. Builds
    * under the lock, not inside `computeIfAbsent`: several builders are
    * themselves memo consumers (kCoreShared → coOccurEdgesCk,
    * lpaAssignment → weightedEdges), and a nested computeIfAbsent on one
    * ConcurrentHashMap throws "Recursive update" whenever the two keys
    * land in the same bin. */
  private def build[T <: AnyRef](s: SparkSession, k: (SparkSession, String),
      fp: Long)(f: => T): T = {
    val stale = m.get(k)
    // data under the key's directory changed since the build: the
    // memoized frames describe bytes that no longer exist — release the
    // stale pins before the rebuild
    if (stale != null) releaseEntry(s, k, stale, blocking = false)
    val before = s.sparkContext.getPersistentRDDs.keySet
    val buildT0 = System.nanoTime()
    val v = f
    val buildNanos = System.nanoTime() - buildT0
    // rebuild ledger: a build for a key this JVM has built before (same
    // context) is recompute the memo already paid once — evictions and
    // fingerprint invalidations land here. Bench publishes the totals
    // (memo_rebuilds / memo_rebuild_sec) so a budgeted run's recompute
    // tax is a first-class artifact number, and the eviction policy's
    // cost term below is measured the same way.
    locally {
      // context identity = applicationId@startTime — unlike an identity
      // hash it cannot be REUSED by a later context after GC (advisor
      // finding, round 13: a reused hash miscounts a first build in a
      // fresh context as a rebuild). Spark enforces one active context
      // per JVM, so any ledger entry under a DIFFERENT id belongs to a
      // stopped context — prune those here, the same hygiene point the
      // entry/touched maps use above.
      val ctxId = contextLedgerId(s)
      everBuilt.removeIf(_._1 != ctxId)
      if (!everBuilt.add((ctxId, k._2))) {
        rebuildTick.incrementAndGet()
        rebuildNanosTotal.addAndGet(buildNanos)
      }
    }
    val added = s.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    // Pin exactly what the value reads: the checkpoint RDDs of its
    // frames' plans (LogicalRDD leaves), whichever build created them —
    // this one, a nested memo build, or an entry built earlier and hit
    // here. Everything else this build persisted and no live entry pins
    // is a dead per-round intermediate (old k-core/BFS/LPA round states,
    // the rare-shingle inverted lists behind the pair frame) — free it
    // NOW, or a full harness run accumulates orphaned MEMORY_AND_DISK
    // blocks for the session lifetime (the round-2 problem Cleanup
    // exists to prevent). If the value's frames cannot be extracted
    // (unknown shape), pin what the build added — over-pinning is safe,
    // freeing a live block is not.
    val vFrames = framesOf(v)
    val pins: Set[Int] =
      if (vFrames.isEmpty) added
      else vFrames.flatMap(checkpointRdds).map(_.id).toSet
    val persisted = s.sparkContext.getPersistentRDDs
    (added -- (pins ++ pinnedRddIds(s))).foreach(id =>
      persisted.get(id).foreach(_.unpersist(blocking = false)))
    val entry = Entry(v, pins, fp, buildNanos)
    entry.lastUse = useTick.incrementAndGet()
    m.put(k, entry)
    touched.add(k)
    enforceBudget(s, k)
    v
  }

  /** Pinned-byte budget ([[budget]]). When the context's pinned storage
    * exceeds it, evict entries of this context in cost-aware order
    * (below) — never the entry just touched — unpersisting their
    * blocks; a later call for an evicted key simply rebuilds (the same
    * path a fingerprint change takes). This bounds the memo's
    * executor-storage footprint for an embedding application that
    * streams many datasets through one session; it deliberately may
    * leave the budget exceeded when a SINGLE live entry is larger than
    * the budget (evicting the entry in use would thrash every call).
    */
  private def enforceBudget(s: SparkSession,
      justUsed: (SparkSession, String)): Unit = {
    val cap = budget(s)
    if (pinnedBytes(s) <= cap) return
    val sizeOf: Map[Int, Long] = s.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val entries = sameContext(s)
    val pinCount: Map[Int, Int] =
      entries.flatMap(_._2.rddIds).groupMapReduce(identity)(_ => 1)(_ + _)
    // Victims: same-context entries, sparing justUsed and everything
    // touched since the last query boundary (a live plan may still
    // reference those frames — see `touched`). When every entry is
    // in-flight the budget stays exceeded until the boundary, the same
    // deliberate trade as the larger-than-budget single entry.
    //
    // Victim ORDER is cost-aware, not LRU (round-12 ask #5: the sf10
    // budgeted run showed pure recency evicting 20-40 s graph builds to
    // keep cheap frames — q_label_prop 0.13 → 42.4 s rebuild storms).
    // Greedy knapsack: evict the entry freeing the most bytes per
    // rebuild-second first, where the bytes are the entry's FREEABLE
    // bytes (blocks no other entry pins — a frame another entry reads
    // frees nothing while that reader survives) and the cost is its
    // measured build time. Scores are computed once, before the first
    // eviction; lastUse breaks ties (least-recently-used first).
    def score(e: Entry): Double =
      e.rddIds.iterator.filter(pinCount(_) == 1)
        .map(sizeOf.getOrElse(_, 0L)).sum /
        math.max(e.buildNanos / 1e9, 1e-3)
    val victims = entries
      .filter { case (k, _) => k != justUsed && !touched.contains(k) }
      .sortBy { case (_, e) => (-score(e), e.lastUse) }
      .iterator
    while (pinnedBytes(s) > cap && victims.hasNext) {
      val (vk, ve) = victims.next()
      releaseEntry(s, vk, ve, blocking = true)
      evictionTick.incrementAndGet()
      log.info(s"graft.Memo evicted '${vk._2}' (cost-aware: " +
        s"${math.rint(ve.buildNanos / 1e7) / 100} s build) to meet " +
        s"graft.memo.maxPinnedBytes=$cap; a later call rebuilds.")
    }
  }

  // lifetime eviction counter — probe/spec observability for the budget
  // machinery (SCALE.md publishes it for the budgeted sf10 run)
  private val evictionTick = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total budget evictions performed by [[enforceBudget]] in this JVM. */
  def evictions: Long = evictionTick.get()

  // rebuild ledger (see applyImpl): keys this JVM has built at least
  // once, by non-reusable context id — no strong context refs to leak,
  // and dead-context rows are pruned at the applyImpl hygiene point
  private val everBuilt = java.util.Collections.newSetFromMap(
    new ConcurrentHashMap[(String, String), java.lang.Boolean])

  /** Non-reusable identity for the rebuild ledger: applicationId plus
    * startTime — a stopped context's identity HASH can be reused after
    * GC, this pair cannot. */
  private def contextLedgerId(s: SparkSession): String =
    s.sparkContext.applicationId + "@" + s.sparkContext.startTime
  private val rebuildTick = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rebuildNanosTotal =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Builds of a key this JVM already built once (eviction/fingerprint
    * recompute) — the budgeted-run tax the cost-aware victim order
    * minimizes; Bench publishes it as memo_rebuilds. */
  def rebuilds: Long = rebuildTick.get()

  /** Wall seconds spent in [[rebuilds]] — memo_rebuild_sec in Bench. */
  def rebuildSeconds: Double =
    math.rint(rebuildNanosTotal.get() / 1e7) / 100

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Nominal storage pool in bytes: process max heap ×
    * `spark.memory.fraction` × `spark.memory.storageFraction` (exact in
    * local mode, where the driver heap IS the cluster memory). */
  private[graft] def storagePool(s: SparkSession): Long = {
    def frac(key: String, dflt: Double): Double = s.conf.getOption(key)
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption).getOrElse(dflt)
    (Runtime.getRuntime.maxMemory * frac("spark.memory.fraction", 0.6) *
      frac("spark.memory.storageFraction", 0.5)).toLong
  }

  /** The default memo budget for a nominal storage pool of `pool` bytes:
    * half the pool, floored at the whole pool or 1 GiB, whichever is
    * smaller. Half alone falls under the sf0.1 working set (~0.5 GB)
    * below a ~3.4 GB heap, and the suite then evicts and rebuilds
    * mid-run; with the floor any heap from ~1.7 GB covers it. Storage
    * may borrow idle execution memory, so a budget of the whole nominal
    * pool still fits. */
  private[graft] def harnessBudget(pool: Long): Long =
    math.max(pool / 2, math.min(pool, 1L << 30))

  /** The pinned-byte budget in force for `s`: `graft.memo.maxPinnedBytes`
    * when it parses as a byte count, else [[harnessBudget]] of the
    * session's storage pool. */
  private[graft] def budget(s: SparkSession): Long =
    s.conf.getOption("graft.memo.maxPinnedBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(harnessBudget(storagePool(s)))

  /** Remove `e` from the memo and unpersist ONLY the blocks no surviving
    * entry still pins. An entry whose value reads another entry's frames
    * CO-PINS their checkpoints (lpaAssignment's entry carries
    * weightedEdges' checkpoint id only if its value reads that frame),
    * so unpersisting a victim's full id set would destroy blocks a
    * still-live entry serves: its next hit would return a
    * lineage-truncated frame whose blocks are gone. Remove-then-diff
    * makes every release path (fingerprint invalidation, budget
    * eviction, session release) safe against shared pins. */
  private def releaseEntry(s: SparkSession, k: (SparkSession, String),
      e: Entry, blocking: Boolean): Unit = {
    m.remove(k, e)
    val survivors = pinnedRddIds(s)
    val persisted = s.sparkContext.getPersistentRDDs
    e.rddIds.diff(survivors).foreach(id =>
      persisted.get(id).foreach(_.unpersist(blocking)))
  }

  /** The DataFrames inside a memo value (frame, or tuple of frames and
    * scalars) — the roots of what the entry pins. */
  private def framesOf(v: AnyRef): Seq[org.apache.spark.sql.DataFrame] = {
    val parts = v match {
      case t: Product => t.productIterator.toSeq
      case other      => Seq(other)
    }
    parts.collect { case d: org.apache.spark.sql.DataFrame => d }
  }

  /** The checkpoint RDDs a frame's plan reads (its LogicalRDD leaves):
    * an eagerly localCheckpoint-ed frame's plan is a LogicalRDD over the
    * materialized RDD, so these are exactly the blocks it needs. */
  private[graft] def checkpointRdds(
      df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** This context's entries, whichever session of it built them. */
  private def sameContext(
      s: SparkSession): List[((SparkSession, String), Entry)] = {
    var acc = List.empty[((SparkSession, String), Entry)]
    m.forEach((k, e) => if (k._1.sparkContext eq s.sparkContext)
      acc = (k -> e) :: acc)
    acc
  }

  /** RDD ids [[Cleanup]] must NOT unpersist. Matched on the shared
    * SparkContext (not session identity): getPersistentRDDs — the set
    * Cleanup sweeps — is context-global, so a Cleanup driven from one
    * session must spare every sibling session's pins or it would
    * unpersist lineage-truncated checkpoints a sibling still reads. */
  def pinnedRddIds(s: SparkSession): Set[Int] =
    sameContext(s).iterator.flatMap(_._2.rddIds).toSet

  /** Total storage (memory + disk) currently held by this context's
    * pinned blocks — the memo's working-set figure. */
  def pinnedBytes(s: SparkSession): Long = {
    val pinned = pinnedRddIds(s)
    s.sparkContext.getRDDStorageInfo
      .filter(i => pinned.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  /** Release every entry for `s` and unpersist its pinned blocks — an
    * embedding application that processes many datasets in one session
    * calls this at dataset boundaries; the harness never needs it (its
    * memo dies with the session). */
  def release(s: SparkSession): Unit = {
    touched.removeIf(_._1 eq s)
    m.forEach((k, e) =>
      if (k._1 eq s) releaseEntry(s, k, e, blocking = false))
  }

  /** Test hook: drop everything (e.g. between conf-flip scenarios) —
    * releases each live session's pins so the blocks are freed, not
    * stranded with no remaining handle. */
  private[graft] def clear(): Unit = {
    m.forEach((k, _) => if (!k._1.sparkContext.isStopped) release(k._1))
    m.clear()
  }
}
