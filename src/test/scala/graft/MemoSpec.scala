package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lifecycle contract of the cross-query memo: build-once, pinned
  * against the harness's per-query Cleanup, freed on release. */
class MemoSpec extends SparkSpec {

  test("memo builds once, survives Cleanup via its pin, and frees on release") {
    Memo.clear(); Cleanup(spark)
    var builds = 0
    def frame() = Memo(spark, "memospec.frame") {
      builds += 1
      spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
        .localCheckpoint(true)
    }
    val a = frame()
    builds shouldBe 1
    val pinned = Memo.pinnedRddIds(spark)
    pinned should not be empty
    pinned.foreach(id =>
      spark.sparkContext.getPersistentRDDs.keySet should contain(id))
    // the per-query sweep must NOT free the pinned blocks...
    Cleanup(spark)
    pinned.foreach(id =>
      spark.sparkContext.getPersistentRDDs.keySet should contain(id))
    // ...and the memo hands back the same value without rebuilding
    (frame() eq a) shouldBe true
    builds shouldBe 1
    a.count() shouldBe 1000
    // release frees the blocks and forgets the entry: next call rebuilds
    Memo.release(spark)
    Memo.pinnedRddIds(spark) shouldBe empty
    frame()
    builds shouldBe 2
    Memo.release(spark)
  }

  test("concurrent builds of distinct keys: every entry survives the overlapped windows") {
    // Memo's build lock serialises builds of any keys from any threads,
    // so each build's context-global RDD diff holds only its own blocks
    // and its transient sweep runs at once, not at the next Cleanup
    Memo.clear(); Cleanup(spark)
    import java.util.concurrent.{Callable, CyclicBarrier, Executors}
    import java.util.concurrent.TimeUnit.SECONDS
    import org.apache.spark.sql.DataFrame
    def rddIds(df: org.apache.spark.sql.Dataset[_]): Set[Int] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
    val barrier = new CyclicBarrier(4)
    val pool = Executors.newCachedThreadPool()
    val transients = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val futs = (0 until 4).map { i =>
      pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = {
          // all four callers reach Memo at once
          barrier.await(30, SECONDS)
          Memo(spark, s"memospec.conc$i") {
            // a transient the build's eager sweep must free
            val t = spark.range(1000).localCheckpoint(true)
            rddIds(t).foreach(transients.add(_))
            t.select(col("id"), (col("id") + i).as("v"))
              .localCheckpoint(true)
          }
        }
      })
    }
    val frames = futs.map(_.get(120, SECONDS))
    // before any Cleanup: every build's transient is already gone
    transients.size shouldBe 4
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    transients.forEach(id => persisted should not contain id)
    Cleanup(spark)
    frames.zipWithIndex.foreach { case (f, i) =>
      f.count() shouldBe 1000
      f.agg(min(col("v"))).head().getLong(0) shouldBe i.toLong
      // later consumers get the registered entry, not a rebuild
      (Memo[DataFrame](spark, s"memospec.conc$i") {
        fail("unexpected rebuild after concurrent build")
      } eq f) shouldBe true
    }
    // two threads racing ONE key run its body exactly once
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val race = new CyclicBarrier(2)
    val racers = (0 until 2).map { _ =>
      pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = {
          race.await(30, SECONDS)
          Memo(spark, "memospec.race") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the other waits
            spark.range(10).toDF().localCheckpoint(true)
          }
        }
      })
    }.map(_.get(120, SECONDS))
    pool.shutdown()
    builds.get shouldBe 1
    (racers(0) eq racers(1)) shouldBe true
    Memo.release(spark); Cleanup(spark)
  }

  test("a regenerated data directory invalidates the entry: stale pins freed, value rebuilt") {
    Memo.clear(); Cleanup(spark)
    val dir = java.nio.file.Files.createTempDirectory("memo-fp").toFile
    try {
      def write(rows: Int): Unit =
        spark.range(rows).select(col("id"), (col("id") * 3).as("v"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(dir, "t.parquet").getPath)
      write(100)
      var builds = 0
      def frame() = Memo(spark, "memospec.fp", dir.getPath) {
        builds += 1
        spark.read.parquet(new java.io.File(dir, "t.parquet").getPath)
          .localCheckpoint(true)
      }
      val a = frame()
      a.count() shouldBe 100
      val stalePins = Memo.pinnedRddIds(spark)
      stalePins should not be empty
      // unchanged dir → memo hit, same value, no rebuild
      (frame() eq a) shouldBe true
      builds shouldBe 1
      // pinned-bytes accounting sees the checkpointed blocks
      Memo.pinnedBytes(spark) should be > 0L
      // REGENERATE the table (round-6 incident shape: same path, new
      // bytes) — the next call must rebuild, not serve the stale frame
      write(250)
      val b = frame()
      builds shouldBe 2
      b.count() shouldBe 250
      // and the stale build's pins were released with the entry
      val live = spark.sparkContext.getPersistentRDDs.keySet
      stalePins.foreach(id => live should not contain id)
    } finally {
      Memo.release(spark)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("pinned-byte budget evicts by bytes-per-rebuild-second, never the one in use") {
    Memo.clear(); Cleanup(spark)
    // buildDelayMs simulates rebuild COST — the denominator of the
    // cost-aware victim score (freeable bytes / build seconds)
    def build(key: String, buildDelayMs: Long = 0L) = Memo(spark, key) {
      Thread.sleep(buildDelayMs)
      spark.range(200000).select(col("id"), (col("id") * 2).as("v"))
        .localCheckpoint(true)
    }
    try {
      // a is EXPENSIVE to rebuild (≥800 ms build), b is cheap; both pin
      // the same bytes, so b's bytes-per-rebuild-second dominates
      val a = build("memospec.bud.a", buildDelayMs = 800L)
      val pinsAfterA = Memo.pinnedRddIds(spark)
      val b = build("memospec.bud.b")
      val bPins = Memo.pinnedRddIds(spark).diff(pinsAfterA)
      bPins should not be empty
      val perEntry = Memo.pinnedBytes(spark) / 2
      perEntry should be > 0L
      // touch b so a is the least recently used: a pure-LRU policy
      // (the pre-round-13 behavior that produced the sf10 rebuild
      // storms) would evict a here — cost-aware must still evict b
      (build("memospec.bud.b") eq b) shouldBe true
      // query boundary: a and b are no longer in-flight, so they become
      // evictable (score order is independent of the touched-set
      // protection)
      Memo.queryBoundary(spark)
      // budget that fits TWO entries: the third build must evict exactly
      // the cheapest-per-byte entry (b), keeping a (expensive rebuild,
      // despite being LRU) and c (just built)
      spark.conf.set("graft.memo.maxPinnedBytes", (perEntry * 2).toString)
      val rebuildsBefore = Memo.rebuilds
      val c = build("memospec.bud.c")
      // a survived (expensive to rebuild) and still serves from the memo...
      (build("memospec.bud.a") eq a) shouldBe true
      // ...c survived (just built)...
      (build("memospec.bud.c") eq c) shouldBe true
      // ...and b was evicted: its blocks are gone from the block manager
      // and rebuilding yields a NEW frame, which the rebuild ledger counts
      val live = spark.sparkContext.getPersistentRDDs.keySet
      bPins.foreach(id => live should not contain id)
      (build("memospec.bud.b") eq b) shouldBe false
      (Memo.rebuilds - rebuildsBefore) should be >= 1L
    } finally {
      spark.conf.unset("graft.memo.maxPinnedBytes")
      Memo.release(spark)
    }
  }

  test("fingerprint folds per-file identity: aggregate-preserving rewrites flip it") {
    // round-10 advisor: a fold of aggregate stats (count, max mtime,
    // total bytes) misses regenerations that preserve the aggregates.
    // The per-file XOR digest must flip when bytes merely MOVE between
    // files, and its value space must stay disjoint from the negative
    // failure sentinels (tag-bit contract).
    val dir = java.nio.file.Files.createTempDirectory("memo-fp2").toFile
    try {
      def put(name: String, bytes: Int, mtime: Long): Unit = {
        val f = new java.io.File(dir, name)
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(7))
        f.setLastModified(mtime)
      }
      val t = (System.currentTimeMillis() / 1000) * 1000 // whole seconds:
      // survives coarse-mtime filesystems, so the mtimes below are EQUAL
      // before and after the rewrite by construction
      put("a.parquet", 100, t); put("b.parquet", 200, t)
      val fp1 = Memo.fingerprint(dir.getPath)
      fp1 should be >= 0L
      // same file count, same total bytes, same mtimes — only the split
      // between the two files changes
      put("a.parquet", 200, t); put("b.parquet", 100, t)
      val fp2 = Memo.fingerprint(dir.getPath)
      fp2 should be >= 0L
      fp2 should not be fp1
      // rewriting back restores the digest (pure function of the listing)
      put("a.parquet", 100, t); put("b.parquet", 200, t)
      Memo.fingerprint(dir.getPath) shouldBe fp1
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("harness budget is half the storage pool, floored at min(pool, 1 GiB)") {
    val gib = 1L << 30
    // small pools get the whole pool (a 3 GB heap: 921.6 MB)
    Memo.harnessBudget(966367641L) shouldBe 966367641L
    Memo.harnessBudget(0L) shouldBe 0L
    // between 1 and 2 GiB the floor is 1 GiB
    Memo.harnessBudget(3 * gib / 2) shouldBe gib
    // from 2 GiB on, half the pool is above the floor
    Memo.harnessBudget(2 * gib) shouldBe gib
    Memo.harnessBudget(8 * gib) shouldBe 4 * gib
  }

  test("memo budget is the conf when it parses, else the storage-pool default") {
    val key = "graft.memo.maxPinnedBytes"
    val dflt = Memo.harnessBudget(Memo.storagePool(spark))
    dflt should be > 0L
    try {
      spark.conf.unset(key)
      Memo.budget(spark) shouldBe dflt
      spark.conf.set(key, "12345")
      Memo.budget(spark) shouldBe 12345L
      // a malformed value does not turn the budget off
      spark.conf.set(key, "12x")
      Memo.budget(spark) shouldBe dflt
    } finally spark.conf.unset(key)
  }

  test("evicting a composite entry spares blocks a surviving entry co-pins") {
    // Composite entries record their nested dependencies' checkpoint ids
    // too (added ∩ keep includes what a NESTED memo build registered —
    // lpaAssignment's entry carries weightedEdges' checkpoint). Evicting
    // the composite must not unpersist the dependency's blocks while the
    // dependency's own entry survives: its frames are lineage-truncated
    // LogicalRDD leaves and would be unrecomputable.
    Memo.clear(); Cleanup(spark)
    def inner() = Memo(spark, "memospec.copin.inner") {
      spark.range(200000).select(col("id"), (col("id") * 5).as("v"))
        .localCheckpoint(true)
    }
    try {
      // outer nested-builds inner, so outer.rddIds co-pins inner's blocks
      val (innerF, outerF) = Memo(spark, "memospec.copin.outer") {
        val in = inner()
        (in, in.select(col("id"), (col("v") + 1).as("w"))
          .localCheckpoint(true))
      }
      outerF.count() shouldBe 200000L
      // touch inner for good measure; under the cost-aware order outer
      // is the victim REGARDLESS of recency — inner's blocks are
      // co-pinned by outer (freeable bytes 0 → score 0, sorts last),
      // while outer's own checkpoint is sole-pinned and freeable
      (inner() eq innerF) shouldBe true
      // two distinct checkpoints pinned so far (inner's, outer's own);
      // budget fits ~2.5 of the three about to exist, so exactly ONE
      // eviction (the top-scored = outer) brings it under
      val perEntry = Memo.pinnedBytes(spark) / 2
      perEntry should be > 0L
      // boundary: inner/outer leave the in-flight protection set
      Memo.queryBoundary(spark)
      spark.conf.set("graft.memo.maxPinnedBytes",
        (perEntry * 5 / 2).toString)
      // a third, unrelated build trips enforceBudget → outer is evicted
      Memo(spark, "memospec.copin.other") {
        spark.range(200000).select(col("id"), (col("id") * 7).as("v"))
          .localCheckpoint(true)
      }
      // inner's entry survived AND its blocks are still readable: the
      // memoized lineage-truncated frame must still count
      (inner() eq innerF) shouldBe true
      innerF.count() shouldBe 200000L
    } finally {
      spark.conf.unset("graft.memo.maxPinnedBytes")
      Memo.release(spark)
    }
  }

  test("an entry that reads an earlier entry's frame keeps it readable after that entry is evicted") {
    // outer's build HITS inner and returns a projection of inner's first
    // frame, so outer's value reads a checkpoint another build made: outer
    // must pin it itself, or evicting inner frees blocks outer still reads
    Memo.clear(); Cleanup(spark)
    def ck(n: Long, mul: Int) = spark.range(n)
      .select(col("id"), (col("id") * mul).as("v")).localCheckpoint(true)
    def inner() = Memo(spark, "memospec.reads.inner") {
      (ck(1000, 3), ck(400000, 5))
    }
    try {
      val (_, big) = inner()
      Memo.queryBoundary(spark)
      val readF = Memo(spark, "memospec.reads.outer") {
        inner()._1.select(col("id"), (col("v") + 1).as("w"))
      }
      Memo.queryBoundary(spark)
      // one eviction is needed; inner scores highest (its big frame is
      // freeable and cheap to rebuild; outer frees nothing)
      spark.conf.set("graft.memo.maxPinnedBytes",
        (Memo.pinnedBytes(spark) - 1).toString)
      val before = Memo.evictions
      Memo(spark, "memospec.reads.other") { ck(1000, 7) }
      (Memo.evictions - before) shouldBe 1L
      // inner was the victim: the frame nobody else reads is freed...
      val live = spark.sparkContext.getPersistentRDDs.keySet
      Memo.checkpointRdds(big).foreach(r => live should not contain r.id)
      // ...while outer survives and its value still reads inner's frame
      (Memo[DataFrame](spark, "memospec.reads.outer") {
        fail("outer was evicted")
      } eq readF) shouldBe true
      readF.count() shouldBe 1000L
    } finally {
      spark.conf.unset("graft.memo.maxPinnedBytes")
      Memo.release(spark)
    }
  }

  test("a nested build the value does not read is not co-pinned") {
    // outer builds inner inside its own build but returns only its own
    // small checkpoint: inner's big frame is pinned by inner alone, so a
    // binding budget evicts inner (most freeable bytes per build-second)
    // and keeps outer
    Memo.clear(); Cleanup(spark)
    def ck(n: Long, mul: Int) = spark.range(n)
      .select(col("id"), (col("id") * mul).as("v")).localCheckpoint(true)
    def inner() = Memo(spark, "memospec.nested.inner") { ck(400000, 5) }
    try {
      val outerF = Memo(spark, "memospec.nested.outer") {
        inner()
        ck(1000, 3)
      }
      val innerF = inner()
      Memo.queryBoundary(spark)
      spark.conf.set("graft.memo.maxPinnedBytes",
        (Memo.pinnedBytes(spark) - 1).toString)
      Memo(spark, "memospec.nested.other") { ck(1000, 7) }
      (Memo[DataFrame](spark, "memospec.nested.outer") {
        fail("outer was evicted")
      } eq outerF) shouldBe true
      outerF.count() shouldBe 1000L
      val live = spark.sparkContext.getPersistentRDDs.keySet
      Memo.checkpointRdds(innerF).foreach(r => live should not contain r.id)
    } finally {
      spark.conf.unset("graft.memo.maxPinnedBytes")
      Memo.release(spark)
    }
  }

  test("mid-suite eviction changes no declared result (budget = 1 byte)") {
    // The round-11 probe proved the unbudgeted sf10 pinned set exceeds
    // the storage pool, so the memo always runs under a budget — under
    // which every memo-sharing query may find its shared build EVICTED
    // by the previous query's enforceBudget pass and must rebuild. Pin
    // that the rebuild path is invisible in results: a 1-byte budget
    // (evict everything except the entry in use, after every build)
    // over a cross-family memo-sharing set reproduces the default-budget
    // results row for row, with evictions actually firing.
    Memo.clear(); Cleanup(spark)
    val names = Seq("q_pagerank", "q_ppr", "q_label_prop", "q_modularity",
      "q_dedup_ngram", "q_dedup_minhash", "q_tfidf")
    def runAll(): Map[String, Seq[Seq[Any]]] =
      names.map { n =>
        val rows = SparkEntry.queries(n)(spark, sfDir).collect()
          .map(_.toSeq).toSeq
        // the harness's per-query sweep — also the memo query boundary
        // that makes the previous query's entries evictable
        Cleanup(spark)
        n -> rows
      }.toMap
    val baseline = runAll()
    Memo.release(spark); Cleanup(spark)
    val before = Memo.evictions
    spark.conf.set("graft.memo.maxPinnedBytes", "1")
    try {
      val budgeted = runAll()
      names.foreach { n =>
        withClue(s"$n under 1-byte memo budget:") {
          budgeted(n) shouldBe baseline(n)
        }
      }
      (Memo.evictions - before) should be > 0L
    } finally {
      spark.conf.unset("graft.memo.maxPinnedBytes")
      Memo.release(spark)
      Cleanup(spark)
    }
  }
}
