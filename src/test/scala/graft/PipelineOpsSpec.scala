package graft

import org.apache.spark.sql.functions._

/** Sanity semantics for the training-data pipeline additions: repetition
  * metrics bounded and discriminative, stratified sampling close to its
  * declared per-source rates.
  */
class PipelineOpsSpec extends SparkSpec {

  private val byName =
    graft.operators.PipelineQueries.all.map(q => q.name -> q).toMap

  test("LSH embedding near-dup equals the brute-force baseline, no quadratic join") {
    // the declared scale path must return the IDENTICAL verdict set as
    // the exact n² baseline at the gate scale (full recall by parameter
    // choice — see qDedupEmbedLsh's scaladoc)...
    val brute = byName("q_dedup_embed").fn(spark, sfDir).collect()
    val lshDf = byName("q_dedup_embed_lsh").fn(spark, sfDir)
    val lsh = lshDf.collect()
    lsh.map(_.toSeq).toSeq shouldBe brute.map(_.toSeq).toSeq
    lsh.length should be > 0
    // ...and its physical plan must contain no all-pairs operator: every
    // join over DATA is keyed (bucket keys or candidate ids), never
    // cartesian. The single permitted nested-loop is the intentional
    // constant fan-out against the broadcast Hamming-mask literal table
    // (1 + b + C(b,2) rows — see qDedupEmbedLsh's probe-side comment).
    // AQE's toString prints the final plan followed by the initial plan —
    // audit only the final section or the one mask BNLJ double-counts
    val planStr = lshDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    planStr should not include "CartesianProduct"
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(planStr).size
    withClue(s"plan:\n$planStr") { bnlj should be <= 1 }
    Cleanup(spark)
  }

  test("hi-threshold LSH equals its brute baseline on twins, no quadratic join") {
    // the τ=0.9 operating point (8 tables × 16 bits × Hamming-1): exact
    // agreement with the quadratic reference over the twin-augmented
    // corpus, and the same no-all-pairs plan discipline as the τ=0.4
    // point — the only nested loop is the broadcast 17-row mask table.
    val brute = byName("q_dedup_embed_hi").fn(spark, sfDir).collect()
    val lshDf = byName("q_dedup_embed_lsh_hi").fn(spark, sfDir)
    val lsh = lshDf.collect()
    lsh.map(_.toSeq).toSeq shouldBe brute.map(_.toSeq).toSeq
    lsh.length should be > 0
    val planStr = lshDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    planStr should not include "CartesianProduct"
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(planStr).size
    withClue(s"plan:\n$planStr") { bnlj should be <= 1 }
    Cleanup(spark)
  }

  test("embed verdict joins broadcast the checkpointed vector side (sf10 cliff pin)") {
    // The vector side of the exact-cosine re-check is a localCheckpoint'ed
    // LogicalRDD — Catalyst has no stats for it, so without an explicit
    // hint the verdict joins plan as sort-merge joins that sort the
    // candidate frame WITH attached vector payloads. At the 100× synth
    // (dup groups of 100 → ~40M candidates) those wide sorts spilled
    // >60 GB and died on disk; see SCALE.md round-11. Pin the fix: under
    // the default graft.graph.broadcastStateBytes budget (rows × 536 B
    // per side) the executed plan carries the two map-side hash joins,
    // and a 0-byte budget (the over-budget cluster regime) falls back to
    // the shuffle join with a bit-identical verdict frame.
    val lshDf = byName("q_dedup_embed_lsh_hi").fn(spark, sfDir)
    val expected = lshDf.collect()
    val planStr = lshDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(planStr).size
    withClue(s"plan:\n$planStr") { bhj should be >= 2 }
    // simulate the >2M-vector cluster regime: hint off AND Catalyst's
    // own stats-threshold broadcast off (localCheckpoint preserves
    // origin stats, so at test scale the planner would still broadcast
    // a no-hint join on its own — at sf10 the estimate exceeded the
    // threshold, which is exactly how the SMJ cliff arose)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("graft.graph.broadcastStateBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = byName("q_dedup_embed_lsh_hi").fn(spark, sfDir)
      shuffled.collect().map(_.toSeq).toSeq shouldBe
        expected.map(_.toSeq).toSeq
      // AQE may still upgrade small shuffles at runtime; the dispatch
      // decision under test is the pre-AQE plan
      val initial = shuffled.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").last
      withClue(s"initial plan:\n$initial") {
        initial should include("SortMergeJoin")
      }
    } finally {
      spark.conf.unset("graft.graph.broadcastStateBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
    Cleanup(spark)
  }

  test("HLL registers match a driver-side sketch; merge = elementwise max") {
    // recompute the whole chain (md5 → 60-bit hash → bucket/rho → max)
    // on the driver from the raw shingle strings — independent of every
    // Spark SQL expression the query uses
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString
        .take(15), 16)
    }
    def sketch(hs: Seq[Long]): Array[Long] = {
      val regs = Array.fill(64)(0L)
      hs.foreach { h =>
        val b = (h >>> 54).toInt
        val rem = h & ((1L << 54) - 1)
        val rho = if (rem == 0) 55 else 54 - (63 - java.lang.Long.numberOfLeadingZeros(rem))
        regs(b) = regs(b).max(rho)
      }
      regs
    }
    val shingles = graft.functions.TextFns
      .shinglesOf(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("sh")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = sketch(shingles.map(s => h60(s._2)).toSeq)
    val got = byName("q_hll_registers").fn(spark, sfDir).collect()
    got.map(r => r.getLong(1)) shouldBe want
    // mergeability: sketches of disjoint halves max-merge into the full
    // sketch — the property that lets per-source sketches roll up at
    // 100 TB without re-reading data
    val (a, b) = shingles.partition(_._1 % 2 == 0)
    val merged = sketch(a.map(s => h60(s._2)).toSeq)
      .zip(sketch(b.map(s => h60(s._2)).toSeq)).map { case (x, y) => x max y }
    merged shouldBe want
    // estimator quality: well inside 3σ = 3·1.04/√64 ≈ 39 % of truth
    val est = got.head.getDouble(2)
    val truth = shingles.map(_._2).distinct.length.toDouble
    math.abs(est - truth) / truth should be < 0.39
    Cleanup(spark)
  }

  test("Sketches.rho ladder is exact at every power-of-two boundary") {
    import graft.functions.Sketches
    // the ladder's whole reason to exist is exactness where float log2
    // rounds: check every 2^k, 2^k−1, 2^k+1 across the 54-bit domain,
    // plus 0 and the max, against leading-zero bit arithmetic
    val cases = (0 to 53).flatMap(k =>
      Seq((1L << k) - 1, 1L << k, (1L << k) + 1)) ++
      Seq(0L, (1L << 54) - 1)
    val rems = cases.filter(r => r >= 0 && r < (1L << 54)).distinct
    def refRho(rem: Long): Int =
      if (rem == 0) 55
      else 54 - (63 - java.lang.Long.numberOfLeadingZeros(rem))
    import spark.implicits._
    val got = rems.toDF("rem")
      .select(col("rem"), Sketches.rho(col("rem")).as("rho"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rems.foreach { r =>
      withClue(s"rem=$r:") { got(r) shouldBe refRho(r) }
    }
  }

  test("PII redaction is complete and typed: no pattern survives, counts audit") {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b555-\\d{4}\\b"
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val got = byName("q_pii_redact").fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    got.size shouldBe docs.size
    docs.foreach { case (id, text, source) =>
      // the declared query's deterministic PII-bearing suffix
      val msg = s"$text contact user${id % 97}@mail-$source.com or " +
        s"10.${id % 200}.${id % 250}.${id % 254} phone 555-" +
        "%04d".format(id % 10000)
      val s1 = msg.replaceAll(email, "<EMAIL>")
      val s2 = s1.replaceAll(ip, "<IP>")
      val s3 = s2.replaceAll(phone, "<PHONE>")
      val r = got(id)
      r.getLong(1) shouldBe email.r.findAllIn(msg).size.toLong
      r.getLong(2) shouldBe ip.r.findAllIn(s1).size.toLong
      r.getLong(3) shouldBe phone.r.findAllIn(s2).size.toLong
      // completeness: nothing PII-shaped survives the staged scrub
      email.r.findFirstIn(s3) shouldBe None
      ip.r.findFirstIn(s3) shouldBe None
      phone.r.findFirstIn(s3) shouldBe None
      // byte-identity with the engine's redaction via the declared md5
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s3.getBytes("UTF-8")).map("%02x".format(_)).mkString
      r.getString(4) shouldBe md
      r.getLong(5) shouldBe s3.length.toLong
    }
    Cleanup(spark)
  }

  test("embedding covariance matches a driver-side recomputation exactly") {
    // brute-force the same quantized moments on the driver and compare
    // BEFORE rounding — the aggregate must be exact, not approximately
    // right (integer sums are order-free; any drift is a real bug)
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).toArray)
    val q = raw.map(_.map(x =>
      BigDecimal(x.toDouble * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val n = q.length
    val k = q.head.length
    val got = byName("q_embed_cov").fn(spark, sfDir).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
      .toMap
    got.size shouldBe k * (k + 1) / 2
    for (p <- 0 until k; qq <- p until k) {
      val spq = q.map(v => v(p) * v(qq)).sum
      val sp = q.map(_(p)).sum
      val sq = q.map(_(qq)).sum
      val want = BigDecimal(
        (spq.toDouble / n - (sp.toDouble / n) * (sq.toDouble / n)) / 1e8)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      withClue(s"cov($p,$qq):") { got((p, qq)) shouldBe want +- 1e-9 }
    }
    Cleanup(spark)
  }

  test("PCA projection variance equals the covariance eigenvalues") {
    val proj = byName("q_embed_pca").fn(spark, sfDir).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val n = proj.length.toDouble
    def popVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    def popCov(xs: Array[Double], ys: Array[Double]) = {
      val mx = xs.sum / xs.length; val my = ys.sum / ys.length
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.length
    }
    val pc1 = proj.map(_._1); val pc2 = proj.map(_._2)
    // eigenvalues of the declared covariance, recomputed independently
    val cov = byName("q_embed_cov").fn(spark, sfDir).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
      .toMap
    val k = 64
    val m = Array.tabulate(k, k)((p, q) =>
      cov(if (p <= q) (p, q) else (q, p)))
    val (vals, comps) = graft.ml.Pca.topComponents(m, 2)
    // population variance along each component = its eigenvalue
    // (tolerance: 6-decimal rounding of both cov and projections)
    popVar(pc1) shouldBe vals(0) +- 1e-3
    popVar(pc2) shouldBe vals(1) +- 1e-3
    vals(0) should be >= vals(1)
    // distinct components are uncorrelated and unit-norm
    math.abs(popCov(pc1, pc2)) should be < 1e-3
    comps.foreach { c =>
      math.sqrt(c.map(x => x * x).sum) shouldBe 1.0 +- 1e-9 }
    math.abs(comps(0).zip(comps(1)).map { case (a, b) => a * b }.sum) should
      be < 1e-9
    Cleanup(spark)
  }

  test("overlapping chunks tile every document: coverage, stride, digests") {
    val chunks = byName("q_chunk_overlap").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val nTok = graft.functions.TextFns.tokens(Tables.documents(spark, sfDir))
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nTok.foreach { case (doc, n) =>
      val cs = chunks(doc).sortBy(_._2)
      // chunk ids dense from 0; starts at stride 24; sizes ≤ 32
      cs.map(_._2) shouldBe (0L until cs.length.toLong).toArray
      cs.foreach { case (_, c, start, len) =>
        start shouldBe c * 24 + 1
        len should be <= 32L
      }
      // full coverage: last chunk reaches the final token; consecutive
      // chunks overlap by size − stride = 8 (when both are full)
      val (_, _, lastStart, lastLen) = cs.last
      lastStart + lastLen - 1 shouldBe n
      cs.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) if l1 == 32 =>
          (s1 + 32 - s2) shouldBe 8L
        case _ => ()
      }
    }
    chunks.keySet shouldBe nTok.keySet
    Cleanup(spark)
  }

  test("co-occurrence PMI matches a driver-side recomputation") {
    val got = byName("q_cooccur_pmi").fn(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // recompute pairs over the tokenized corpus on the driver
    val docs = Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val toks = docs.map(_.toLowerCase.replaceAll("[^a-z0-9]+", " ")
      .split(" ").filter(_.nonEmpty))
    val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
    val uni = scala.collection.mutable.Map.empty[String, Long]
    var total = 0L
    for (a <- toks) {
      for (i <- a.indices) {
        uni(a(i)) = uni.getOrElse(a(i), 0L) + 1; total += 1
        for (o <- 1 to 3 if i + o < a.length) {
          val k = if (a(i) <= a(i + o)) (a(i), a(i + o)) else (a(i + o), a(i))
          pairCnt(k) = pairCnt.getOrElse(k, 0L) + 1
        }
      }
    }
    val want = pairCnt.filter(_._2 >= 5)
    got.keySet shouldBe want.keySet
    want.foreach { case (k, c) =>
      got(k)._1 shouldBe c
      val pmi = math.log(c.toDouble * total / (uni(k._1) * uni(k._2)))
      got(k)._2 shouldBe pmi +- 1e-5
    }
    Cleanup(spark)
  }

  test("corpus shuffle is a permutation, reproducible across runs") {
    val a = byName("q_corpus_shuffle").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = byName("q_corpus_shuffle").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    a shouldBe b // deterministic: same permutation every run
    a.map(_._1).toSeq shouldBe (0L until a.length.toLong) // dense positions
    a.map(_._2).distinct.length shouldBe a.length // every doc exactly once
    // and it actually permutes (not identity) on this corpus
    a.count { case (pos, doc) => pos == doc } should be < a.length / 2
    Cleanup(spark)
  }

  test("repetition metrics are bounded and discriminative") {
    val rows = byName("q_repetition").fn(spark, sfDir).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val top = r.getAs[Double]("top_term_frac")
      val dup = r.getAs[Double]("dup_shingle_frac")
      top should (be >= 0.0 and be <= 1.0)
      dup should (be >= 0.0 and be <= 1.0)
    }
    // the corpus is word salad over a small vocab — metrics must spread,
    // not collapse to a constant
    rows.map(_.getAs[Double]("top_term_frac")).distinct.length should be > 10
  }

  test("decontamination flags exactly the docs sharing an 8-gram with the benchmark slice") {
    // independent recomputation via the WINDOW shingle formulation
    // (TextFns.shingles), not the narrow array form the query uses
    val docs = Tables.documents(spark, sfDir)
    val toks = graft.functions.TextFns.tokens(docs)
    val sh8 = graft.functions.TextFns.shingles(toks, 8).distinct()
    val bench = sh8.filter(col("doc_id") % 20 === 0).select("sh").distinct()
    val expected = sh8.filter(col("doc_id") % 20 =!= 0)
      .join(bench, "sh").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet

    val got = byName("q_decontaminate").fn(spark, sfDir).collect()
    // output covers every training doc exactly once, no benchmark docs
    got.map(_.getAs[Long]("doc_id")).toSet shouldBe
      docs.filter(col("doc_id") % 20 =!= 0)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    got.filter(_.getAs[Boolean]("contaminated"))
      .map(_.getAs[Long]("doc_id")).toSet shouldBe expected
    // flagged docs carry a positive shared-shingle count, clean docs zero
    got.foreach { r =>
      (r.getAs[Long]("n_shared_shingles") > 0) shouldBe
        r.getAs[Boolean]("contaminated")
    }
  }

  test("stratified sample hits its per-source rates within sampling noise") {
    val docs = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n"))
      .toMap
    val kept = byName("q_stratified_sample").fn(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("k"))
      .toMap
    val rates = Map("src0" -> 0.8, "src1" -> 0.5)
    for ((src, n) <- docs) {
      val want = rates.getOrElse(src, 0.2)
      val got = kept.getOrElse(src, 0L).toDouble / n
      // binomial noise at n ~ 100-200 per source: allow ±3σ-ish
      val tol = 3 * math.sqrt(want * (1 - want) / n) + 1e-9
      withClue(s"$src: got $got want $want ±$tol (n=$n)") {
        math.abs(got - want) should be <= tol
      }
    }
  }

  test("int8 quantization error respects the half-step bound per element") {
    val rows = byName("q_embed_quantize").fn(spark, sfDir).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val sse = r.getAs[Long]("sse12").toDouble / 1e12
      val n = r.getAs[Long]("n_dims")
      val sat = r.getAs[Long]("n_sat")
      // each element's rounding error is ≤ scale/2, so SSE ≤ n·(scale/2)²
      // (scale is rounded to 6 decimals in the output — give the bound
      // that slack)
      val bound = n * math.pow(scale / 2 + 1e-6, 2)
      withClue(s"vec ${r.getLong(0)}: sse=$sse bound=$bound") {
        sse should be <= bound
      }
      // the max element hits code ±127 by construction
      sat should be >= 1L
      sat should be <= n
    }
  }

  test("BPE merge semantics: greedy left-to-right, overlaps consumed") {
    import graft.operators.Bpe
    Bpe.mergeWord(Array("a", "a", "a"), "a", "a").toSeq shouldBe
      Seq("aa", "a")
    Bpe.mergeWord(Array("a", "b", "a", "b"), "a", "b").toSeq shouldBe
      Seq("ab", "ab")
    Bpe.mergeWord(Array("x"), "a", "b").toSeq shouldBe Seq("x")
  }

  /** Adjacent-pair counts of a segmented word table, weighted by word
    * multiplicity — recomputed here, independently of the trainer. */
  private def bpePairCounts(words: Seq[graft.operators.Bpe.Word]) =
    words.flatMap(w => w.syms.toSeq.sliding(2).collect {
      case Seq(l, r) => ((l, r), w.n)
    }).groupMapReduce(_._1)(_._2)(_ + _)

  test("property: every BPE merge is the exact argmax after the merges before it") {
    import graft.operators.Bpe
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // words built from runs of one letter over a 2–3-letter alphabet:
    // runs make the same symbol reachable by different merges (a+aa vs
    // aa+a), pairs whose counts grow after a merge, and count ties
    // (multiplicities 1–5) — the cases a shortcut over the pair-count
    // argmax gets wrong
    val tableGen: Gen[(Seq[Bpe.Word], Int)] = for {
      alphabet <- Gen.oneOf("ab", "abc")
      run = for {
        c <- Gen.oneOf(alphabet.toSeq)
        len <- Gen.choose(1, 4)
      } yield c.toString * len
      word = Gen.choose(1, 3).flatMap(Gen.listOfN(_, run)).map(_.mkString)
      nWords <- Gen.choose(1, 6)
      ws <- Gen.listOfN(nWords, Gen.zip(word, Gen.choose(1L, 5L)))
      numMerges <- Gen.choose(1, 8)
    } yield (ws.distinctBy(_._1).map { case (w, n) =>
      Bpe.Word(w.map(_.toString).toArray, n) }, numMerges)
    (1 to 40).foreach { k =>
      val (table, numMerges) = tableGen(Gen.Parameters.default, Seed(k))
        .getOrElse(sys.error(s"generator failed at seed $k"))
      val words = table.toDS()
      val merges = Bpe.train(words, numMerges)
      withClue(s"[seed $k] ${table.map(w => w.syms.mkString -> w.n)} " +
          s"numMerges=$numMerges merges=$merges: ") {
        merges.map(_.rank) shouldBe merges.indices
        merges.indices.foreach { r =>
          val counts = bpePairCounts(
            Bpe.segment(words, merges.take(r)).collect().toSeq)
          val ((l, rt), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          (merges(r).left, merges(r).right, merges(r).count) shouldBe
            ((l, rt, n))
        }
        // fixpoint: applying the whole table leaves none of its pairs,
        // and a table shorter than asked for leaves no pair at all
        val left = bpePairCounts(Bpe.segment(words, merges).collect().toSeq)
        left.keySet.intersect(merges.map(m => (m.left, m.right)).toSet) shouldBe empty
        if (merges.length < numMerges) left shouldBe empty
      }
    }
  }

  test("q_bpe_train rows equal the trainer over wordCounts(documents) at sf0.01") {
    import graft.operators.Bpe
    val sf01 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q_bpe_train")(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // the query reads word counts off the memoized tf matrix
    // (Bpe.wordCountsFrom); the reference tokenizes the documents afresh
    val expected = Bpe.trainSequential(
      Bpe.wordCounts(Tables.documents(spark, sf01)).collect().toSeq, 24)
    expected should have length 24
    rows.toSeq shouldBe expected.map(m =>
      (m.rank.toLong, m.left, m.right, m.count))
    Cleanup(spark)
  }

  test("substring-dup matches the window-shingle recomputation on raw strings") {
    // independent formulation: WINDOW-based shingles (TextFns.shingles)
    // grouped on the RAW shingle string — cross-checks both the narrow
    // array shingle form and the 64-bit hash keying of the declared query
    val toks = graft.functions.TextFns.tokens(Tables.documents(spark, sfDir))
    val sh = graft.functions.TextFns.shingles(toks, 8)
    val nd = sh.groupBy("sh")
      .agg(countDistinct("doc_id").as("ndocs"))
    val expected = sh.join(nd, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_windows"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("windows"), r.getAs[Long]("dup_windows")))).toMap

    val got = byName("q_substring_dup").fn(spark, sfDir).collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val k = r.getAs[Long]("doc_id")
      (r.getAs[Long]("windows"), r.getAs[Long]("dup_windows")) shouldBe
        expected(k)
      r.getAs[Double]("dup_ratio") shouldBe
        (math.rint(expected(k)._2.toDouble / expected(k)._1 * 1e6) / 1e6)
    }
    Cleanup(spark)
  }

  test("bm25 matches a driver-side recomputation") {
    val terms = Seq("vector", "hash", "scan")
    val toks = graft.functions.TextFns.tokens(Tables.documents(spark, sfDir))
      .select("doc_id", "term").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term"))
    val dl = toks.groupBy(_._1).map { case (d, ts) => d -> ts.length.toLong }
    val n = dl.size
    val avgdl = dl.values.sum.toDouble / n
    val tf = toks.filter(t => terms.contains(t._2))
      .groupBy(identity).map { case ((d, t), xs) => (d, t) -> xs.length.toLong }
    val df = tf.keys.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val expected = tf.groupBy(_._1._1).map { case (d, m) =>
      val s = m.map { case ((_, t), f) =>
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        idf * f * 2.2 / (f + 1.2 * (1.0 - 0.75 + 0.75 * dl(d) / avgdl))
      }.sum
      d -> math.rint(s * 1e6) / 1e6
    }
    val got = graft.operators.TextQueries.all.find(_.name == "q_bm25").get
      .fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    got.keySet shouldBe expected.keySet
    got.foreach { case (d, v) =>
      v shouldBe expected(d) +- 1e-6
    }
    expected.size should be > 0
  }

  test("heavy hitters: CM-candidate top-k equals the exact top-k at gate scale") {
    import spark.implicits._
    val got = byName("q_heavy_hitters").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("sh") -> r.getAs[Long]("cnt"))
    got.length shouldBe 40
    // exact truth: full count, same (cnt DESC, sh) total order
    val truth = graft.functions.TextFns
      .shinglesOf(Tables.documents(spark, sfDir))
      .groupBy("sh").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("sh")).limit(40)
      .as[(String, Long)].collect()
    got.sortBy(_._1).toSeq shouldBe truth.sortBy(_._1).toSeq
  }

  test("Bloom prefilter is sound: no false negatives, verdict equals the anti-join truth") {
    import spark.implicits._
    // membership soundness on a synthetic digest set: every inserted
    // digest must pass its own sketch (all k bits were set by insertion)
    val digs = (1 to 300).map(i => Tuple1(s"synthetic-digest-$i")).toDF("dig")
    val bw = graft.operators.PipelineQueries.bloomWordsOf(digs)
    bw.count() shouldBe graft.functions.Sketches.BloomWords
    // declared incremental verdicts: bloom_pass must cover is_dup
    // (soundness) and is_dup must equal the exact digest anti-join truth
    val inc = byName("q_dedup_incremental").fn(spark, sfDir).collect()
    inc.length should be > 0
    val misses = inc.filter(r =>
      r.getAs[Boolean]("is_dup") && !r.getAs[Boolean]("bloom_pass"))
    misses shouldBe empty
    val docs = Tables.documents(spark, sfDir)
    val oldDigs = docs.select(md5(col("text")).as("d")).distinct()
      .as[String].collect().toSet
    val truth = docs.select(col("doc_id"), md5(col("text")).as("d"))
      .where(col("doc_id") % 7 === 3).as[(Long, String)].collect()
      .map { case (id, dg) => (id + 10000000L) -> oldDigs(dg) }.toMap
    inc.filter(_.getAs[Long]("new_id") < 20000000L).foreach { r =>
      r.getAs[Boolean]("is_dup") shouldBe truth(r.getAs[Long]("new_id"))
    }
    // revision docs (' rev2' suffix) must all be keeps
    inc.filter(_.getAs[Long]("new_id") >= 20000000L)
      .foreach(_.getAs[Boolean]("is_dup") shouldBe false)
  }
}
