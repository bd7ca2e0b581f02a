package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) tokenizer TRAINING — the corpus-scale
  * companion to the BPE-ish segmentation counters (`q_bpe_count`): learn
  * the merge table itself from the corpus, the way an LLM data pipeline
  * trains its tokenizer before anything else runs.
  *
  * Classic greedy BPE (Sennrich et al., ACL 2016 — public), trained as
  * they define it: on the weighted word-type table, not on raw text.
  * Spark does the corpus-scale part — tokenize and aggregate to one row
  * per distinct word ([[wordCounts]], or [[wordCountsFrom]] a
  * pre-aggregated term table). [[train]] collects that table once and
  * runs the exact greedy loop on the driver, so the driver footprint is
  * one row per distinct word (Zipf keeps it orders of magnitude below
  * the corpus). Each round counts adjacent symbol pairs weighted by word
  * multiplicity, takes the argmax under a total tie-break (count desc,
  * then left asc, then right asc) and applies it greedily left to right
  * inside every word. [[segment]] replays a learned table as one narrow
  * pass over a Dataset.
  */
object Bpe {

  /** One learned merge: `rank`-th round merged (left, right) which
    * appeared `count` times. */
  final case class Merge(rank: Int, left: String, right: String,
      count: Long)

  /** (word, multiplicity) — the training unit. A word is segmented into
    * 1-char symbols to start; merges only ever happen inside a word. */
  final case class Word(syms: Array[String], n: Long)

  /** documents(text) → distinct word shapes with multiplicities. Narrow
    * tokenize + one aggregate keyed on the word — the same exchange
    * shape as term counting; at 100 TB the distinct-word table is
    * orders of magnitude smaller than the corpus (Zipf), which is why
    * BPE trainers run on it rather than raw text. */
  def wordCounts(docs: DataFrame): Dataset[Word] = {
    import docs.sparkSession.implicits._
    docs.select(explode(split(graft.functions.TextFns.normalize(col("text")),
        " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      .map { case (w, n) => Word(w.map(_.toString).toArray, n) }
  }

  /** [[wordCounts]] from a pre-aggregated (term, tf-sum) frame — the
    * memoized tf matrix's tokenization is identical to [[wordCounts]]'
    * (TextFns.normalize + split + drop-empties), so
    * `tfMatrix.groupBy(term).sum(tf)` yields the same multiplicities
    * without re-tokenizing the corpus (round-15). */
  def wordCountsFrom(termCounts: DataFrame): Dataset[Word] = {
    import termCounts.sparkSession.implicits._
    // select the expected columns BY NAME (round-15 advice): positional
    // as[(String, Long)] would silently bind to whatever order — or
    // extra columns — a caller happens to pass
    termCounts.select(col("term").cast("string"), col("n").cast("long"))
      .as[(String, Long)]
      .map { case (w, n) => Word(w.map(_.toString).toArray, n) }
  }

  /** Greedy left-to-right single-pair merge — the sequential BPE
    * semantics, applied per word (narrow). */
  private[graft] def mergeWord(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Learn `numMerges` merges. Returns the merge table in rank order.
    *
    * Collects the word-type table once (the driver then holds one row
    * per distinct word, which is why BPE trains on this table rather
    * than on raw text) and runs the exact greedy loop
    * ([[trainSequential]]) on it. Deterministic: the argmax tie-break is
    * total (count desc, left asc, right asc), so the learned table is
    * independent of partitioning and row order. Stops early when no
    * word has two symbols left. */
  def train(words: Dataset[Word], numMerges: Int): Seq[Merge] =
    trainSequential(words.collect().toSeq, numMerges)

  /** Segment words with a learned merge table (rank order — BPE apply
    * is the same greedy loop the trainer ran). Narrow. */
  def segment(words: Dataset[Word], merges: Seq[Merge]): Dataset[Word] = {
    import words.sparkSession.implicits._
    val bc = words.sparkSession.sparkContext
      .broadcast(merges.sortBy(_.rank).map(m => (m.left, m.right)))
    words.map { w =>
      var syms = w.syms
      bc.value.foreach { case (l, r) => syms = mergeWord(syms, l, r) }
      Word(syms, w.n)
    }
  }

  /** The greedy BPE loop over an in-memory word-type table: each round
    * recounts adjacent pairs weighted by word multiplicity, merges the
    * argmax under the total tie-break (count desc, left asc, right asc)
    * into every word with [[mergeWord]], and records its count. */
  private[graft] def trainSequential(words: Seq[Word],
      numMerges: Int): Seq[Merge] = {
    var cur = words.map(w => (w.syms.toSeq, w.n))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((syms, n) <- cur; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + n
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += Merge(round, l, r, n)
        cur = cur.map { case (syms, m) =>
          (mergeWord(syms.toArray, l, r).toSeq, m)
        }
        round += 1
      }
    }
    merges.toSeq
  }
}
