package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import graft.ml.TWCNB
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's text/NLP classifier pipeline (SURVEY.md §2.6 N1–N7 +
  * S3 dictionary load) as declared queries over `documents`.
  */
object TextQueries {

  private val tokSql = TextFns.tokSql

  /** Distributed dense ids in ascending `term` order ([[Rank.withRowIndex]]
    * — range-partitioned sort + RDD zipWithIndex). Replaces `row_number()
    * OVER (ORDER BY term)`, whose empty partitionBy funnels the ENTIRE
    * dictionary through one task — a single-task sort over billions of
    * terms at corpus scale. Deterministic: terms are distinct, so the
    * sort order is total. */
  private def withTermIdx(df: DataFrame): DataFrame =
    Rank.withRowIndex(df, "term")

  /** The (doc_id, lang, term, tf) term-frequency matrix — the corpus
    * boundary every tf-derived query crosses — MATERIALIZED once per
    * (session, dir) and shared ([[graft.Memo]], the round-9 discipline):
    * q_term_freq, q_dict_load, q_dict_vectorize, q_tfidf, q_twcnb_model,
    * q_twcnb_tfidf, and q_nb_score all tokenize-and-aggregate the same
    * corpus; with the memo the harness runs that pass ONCE and each
    * query starts from the stored doc×term blocks (lang is functionally
    * dependent on doc_id, so (doc_id, term) consumers just project it
    * away). This is the reference's own architecture — it materializes
    * the tf matrix (drmTfIdf, NaiveBayesServlet.scala:90-101) and feeds
    * every downstream stage from it. */
  private[graft] def tfMatrix(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Memo(s, s"text.tfMatrix:$d", d) {
      TextFns.tokens(Tables.documents(s, d))
        .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
    }

  /** N1: regex unigram tokenizer (NaiveBayesServlet.scala:80-82). */
  private val qTokenize = Q("q_tokenize",
    s"""WITH $tokSql
       |SELECT doc_id, pos, term FROM tokf ORDER BY doc_id, pos""".stripMargin) {
    (s, d) =>
      TextFns.tokens(Tables.documents(s, d))
        .select("doc_id", "pos", "term").orderBy("doc_id", "pos")
  }

  /** N2: per-document term frequency (NaiveBayesServlet.scala:82-84). */
  private val qTermFreq = Q("q_term_freq",
    s"""WITH $tokSql
       |SELECT doc_id, term, COUNT(*) AS tf FROM tokf
       |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin) { (s, d) =>
    tfMatrix(s, d).select("doc_id", "term", "tf")
      .orderBy("doc_id", "term")
  }

  /** S3: dictionary + document-frequency load — the DataFrame replacement
    * for the reference's driver-side sequence-file maps
    * (NaiveBayesServlet.scala:45-64): stays distributed, joined not
    * collected. */
  private val qDictLoad = Q("q_dict_load",
    s"""WITH $tokSql,
       |d AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokf GROUP BY term)
       |SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS idx,
       |  df FROM d ORDER BY term""".stripMargin) { (s, d) =>
    // df = COUNT(DISTINCT doc_id) == row count per term of the shared
    // tf matrix (one row per (doc, term))
    withTermIdx(tfMatrix(s, d)
      .groupBy("term").agg(count(lit(1)).as("df")))
      .select("term", "idx", "df")
      .orderBy("term")
  }

  /** N4: dictionary-filtered vectorization — OOV terms drop via inner-join
    * semantics (NaiveBayesServlet.scala:92-104). Dictionary = df ≥ 5. */
  private val qDictVectorize = Q("q_dict_vectorize",
    s"""WITH $tokSql,
       |${TextFns.tfSql},
       |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |dict AS (SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS idx
       |         FROM d WHERE df >= 5)
       |SELECT t.doc_id, dict.idx, t.tf FROM tf t JOIN dict USING (term)
       |ORDER BY doc_id, idx""".stripMargin) { (s, d) =>
    // the shared materialized tf matrix feeds the dictionary build
    // (where zipWithIndex alone runs two jobs over it) AND the join
    // probe side — Catalyst does not reuse the subtree across those
    // shapes, the stored blocks do
    val tf = tfMatrix(s, d).select("doc_id", "term", "tf")
    val dict = withTermIdx(
      tf.groupBy("term").agg(count(lit(1)).as("df")).filter(col("df") >= 5))
    // no broadcast hint: at corpus scale the dictionary is itself huge
    // (the whole point of the distributed id assignment above) — let the
    // planner broadcast only when the actual size is small
    tf.join(dict.select("term", "idx"), "term")
      .select("doc_id", "idx", "tf")
      .orderBy("doc_id", "idx")
  }

  /** N3: TF-IDF weighting — tf·ln((N+1)/(df+1)), the join form of
    * `TFIDF.calculate` (NaiveBayesServlet.scala:90-101). */
  private val qTfidf = Q("q_tfidf",
    s"""WITH $tokSql,
       |${TextFns.tfSql},
       |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
       |SELECT tf.doc_id, tf.term,
       |  ROUND(tf.tf * LN((n.n + 1.0) / (d.df + 1.0)), 6) AS tfidf
       |FROM tf JOIN d USING (term) CROSS JOIN n
       |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
    // shared materialized matrix feeds both the df aggregate and the join
    val tf = tfMatrix(s, d).select("doc_id", "term", "tf")
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).select(
      count(lit(1)).cast("double").as("n"))
    // df spans the vocabulary — no broadcast hint at corpus scale; the
    // 1-row corpus count stays an explicit broadcast
    tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6)
          .as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Shared SQL for the TWCNB model (mirrors [[graft.ml.TWCNB.train]]). */
  private val twcnbSql: String =
    s"""$tokSql,
       |ntc AS (SELECT lang AS label, term, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM tokf GROUP BY 1, 2),
       |grid AS (SELECT l.label, v.term
       |  FROM (SELECT DISTINCT label FROM ntc) l
       |  CROSS JOIN (SELECT DISTINCT term FROM ntc) v),
       |tot AS (SELECT term, CAST(SUM(n) AS BIGINT) AS tot FROM ntc GROUP BY term),
       |comp AS (SELECT g.label, g.term, t.tot - COALESCE(n.n, 0) AS nc
       |  FROM grid g LEFT JOIN ntc n ON g.label = n.label AND g.term = n.term
       |  JOIN tot t ON g.term = t.term),
       |theta AS (SELECT label, term,
       |  LN((nc + 1.0) / SUM(nc + 1.0) OVER (PARTITION BY label)) AS theta
       |  FROM comp),
       |model AS (SELECT label, term,
       |  theta / SUM(ABS(theta)) OVER (PARTITION BY label) AS w FROM theta)"""
      .stripMargin

  /** The counts-trained TWCNB model, materialized once per (session,
    * dir) and shared by its two independent consumers (q_twcnb_model
    * DECLARES it, q_nb_score SCORES with it — the [[graft.Memo]]
    * discipline): one |V|·L model build per harness run instead of two.
    * The tfidf-weighted model (q_twcnb_tfidf) trains on different
    * weights and keeps its own build. The |V|·L row count is memoized
    * WITH the model, for q_nb_score's broadcast dispatch: the driver arm
    * of [[TWCNB.fit]] returns it with its materialized model at no job;
    * over the state budget the plan arm's model is checkpointed here and
    * counted once. */
  private[graft] def twcnbCountModel(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, Long) =
    graft.Memo(s, s"text.twcnbModel:$d", d) {
      // train(tokens) is trainWeighted with f = 1 per occurrence; feeding
      // the shared tf matrix with f = tf yields the identical ntc aggregate
      TWCNB.fit(tfMatrix(s, d)
        .select(col("lang").as("label"), col("term"), col("tf").as("f")),
        alpha = 1.0) match {
        case (m, Some(rows)) => (m, rows)
        case (plan, None) =>
          val m = plan.localCheckpoint(true)
          (m, m.count())
      }
    }

  /** N5: the full TWCNB training chain (TWCNB.scala:28-148), trained on
    * counts ([[twcnbCountModel]]; q_twcnb_tfidf trains on tf-idf). */
  private val qTwcnbModel = Q("q_twcnb_model",
    s"""WITH $twcnbSql
       |SELECT label, term, ROUND(w, 6) + 0.0 AS w FROM model
       |ORDER BY label, term""".stripMargin) { (s, d) =>
    twcnbCountModel(s, d)._1
      .select(col("label"), col("term"), Q.roundz(col("w"), 6).as("w"))
      .orderBy("label", "term")
  }

  /** N7: batch scoring — the score matrix (doc × class), i.e. the
    * distributed matmul of TWCNBSuite.scala:115 (argmax is q_argmax). */
  private val qNbScore = Q("q_nb_score",
    s"""WITH $twcnbSql,
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tokf GROUP BY 1, 2)
       |SELECT tf.doc_id, m.label, ROUND(SUM(tf.tf * m.w), 6) + 0.0 AS score
       |FROM tf JOIN model m USING (term)
       |GROUP BY tf.doc_id, m.label ORDER BY doc_id, label""".stripMargin) {
    (s, d) =>
      // the memoized model ([[twcnbCountModel]]) and the memoized tf
      // matrix: this query is pure scoring. The checkpointed model is a
      // stat-less LogicalRDD, so the score join needs the explicit
      // size dispatch the planner's own threshold used to provide:
      // broadcast the |V|·L model under the state budget, plain
      // shuffle join beyond it (the corpus-scale form TWCNB.score's
      // scaladoc describes — vocabulary-sized models never broadcast).
      val (model, modelRows) = twcnbCountModel(s, d)
      val tf = tfMatrix(s, d).select("doc_id", "term", "tf")
      TWCNB.score(tf, Graph.stateHint(model, modelRows, 48L))
        .select(col("doc_id"), col("label"),
          Q.roundz(col("score"), 6).as("score"))
        .orderBy("doc_id", "label")
  }

  /** N3+N5: TWCNB trained on the TF-IDF matrix — the reference's ACTUAL
    * training input (`twcnbTrain(drmTfIdf)`, TWCNB.scala:28-32;
    * NaiveBayesServlet.scala:90-101 builds drmTfIdf first). Weights are
    * quantized to integer micro-units (ROUND(tfidf·10⁶) as BIGINT) before
    * the class sums, so the per-class aggregates are bit-exact in any
    * summation order / engine; α scales by the same 10⁶ so the smoothed
    * ratio (nc+α)/Σ(nc+α) is unchanged by the quantization. */
  private val qTwcnbTfidf = Q("q_twcnb_tfidf",
    s"""WITH $tokSql,
       |tf AS (SELECT doc_id, lang, term, COUNT(*) AS tf FROM tokf GROUP BY 1, 2, 3),
       |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |w0 AS (SELECT tf.lang AS label, tf.term,
       |    CAST(ROUND(tf.tf * LN((nn.n + 1.0) / (d.df + 1.0)) * 1000000, 0) AS BIGINT) AS f
       |  FROM tf JOIN d USING (term) CROSS JOIN nn),
       |ntc AS (SELECT label, term, SUM(f) AS n FROM w0 GROUP BY 1, 2),
       |grid AS (SELECT l.label, v.term
       |  FROM (SELECT DISTINCT label FROM ntc) l
       |  CROSS JOIN (SELECT DISTINCT term FROM ntc) v),
       |tot AS (SELECT term, SUM(n) AS tot FROM ntc GROUP BY term),
       |comp AS (SELECT g.label, g.term, t.tot - COALESCE(n.n, 0) AS nc
       |  FROM grid g LEFT JOIN ntc n ON g.label = n.label AND g.term = n.term
       |  JOIN tot t ON g.term = t.term),
       |theta AS (SELECT label, term,
       |  LN((nc + 1000000.0) / SUM(nc + 1000000.0) OVER (PARTITION BY label)) AS theta
       |  FROM comp),
       |model AS (SELECT label, term,
       |  theta / SUM(ABS(theta)) OVER (PARTITION BY label) AS w FROM theta)
       |SELECT label, term, ROUND(w, 6) + 0.0 AS w FROM model
       |ORDER BY label, term""".stripMargin) { (s, d) =>
    // tf feeds two plan positions (the df counts and the tfidf weights):
    // the shared materialized matrix serves both
    val tf = tfMatrix(s, d)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d)
      .select(count(lit(1)).cast("double").as("n"))
    val weighted = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("lang").as("label"), col("term"),
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)) * 1e6)
          .cast("long").as("f"))
    TWCNB.trainWeighted(weighted, alpha = 1e6)
      .select(col("label"), col("term"), Q.roundz(col("w"), 6).as("w"))
      .orderBy("label", "term")
  }

  /** N3 extension: BM25 retrieval scoring (Okapi k1 = 1.2, b = 0.75) of
    * every document against a fixed query term set — the ranking-function
    * counterpart of the TF-IDF weighting the reference builds for
    * classification (NaiveBayesServlet.scala:90-101). Plan shape for
    * 100 TB: ONE narrow corpus scan computes per-doc length and
    * per-query-term tf straight off the token array (codegen'd
    * `graft_count_eq` — no explode, no token-level shuffle); corpus
    * statistics (N, avgdl,
    * per-term df) reduce to a single broadcast row; scoring is then a
    * second narrow pass over the same scan. Zero wide exchanges — the
    * only shuffle in the plan is the 1-row statistics aggregate. */
  private val qBm25 = Q("q_bm25",
    s"""WITH $tokSql,
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tokf GROUP BY 1),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tokf
       |       WHERE term IN ('vector','hash','scan') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
       |SELECT tf.doc_id,
       |  ROUND(SUM(LN(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |    * tf.tf * (1.2 + 1.0)
       |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS bm25
       |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val terms = Seq("vector", "hash", "scan")
    val k1 = lit(1.2)
    val b = lit(0.75)
    val arr = TextFns.tokenArr(col("text"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      // zero-alloc codegen'd occurrence count (graft_count_eq): the
      // array_remove size identity it replaces copied the token array
      // per term per doc — allocation the counting loop doesn't need
      graft.functions.ArrayExprs.countEq(col("a"), lit(t)).as(s"tf$i")
    }
    val base = Tables.documents(s, d)
      .select(col("doc_id"), arr.as("a"))
      .select(Seq(col("doc_id"), size(col("a")).cast("long").as("dl")) ++
        tfCols: _*)
      .filter(col("dl") > 0)
    val statAggs = Seq(count(lit(1)).as("n"), avg("dl").as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    def contrib(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      when(col(s"tf$i") > 0,
        idf * tf * (k1 + lit(1.0)) /
          (tf + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    base.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"),
        round(terms.indices.map(contrib).reduce(_ + _), 6).as("bm25"))
      .orderBy("doc_id")
  }

  /** Vocab induction support: top-20 trigram shingles per language by
    * corpus frequency — the statistic a tokenizer-curation pass reads
    * before choosing merge candidates per language. Plan shape for
    * 100 TB: shingles come narrow off the token array (no token-level
    * shuffle); ONE map-side-combined exchange on (lang, shingle); the
    * per-language top-20 plans as WindowGroupLimit, so each partition
    * forwards at most 20 rows per language to the final rank — no
    * language-sized sort materializes. Ties broken by shingle text for
    * cross-engine determinism. */
  private val qTopNgrams = Q("q_top_ngrams",
    s"""WITH $tokSql,
       |sh0 AS (${TextFns.gramSql(3, "lang, ")}),
       |cnt AS (SELECT lang, sh, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM sh0 WHERE sh IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT lang, sh, cnt,
       |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, sh) AS rank
       |  FROM cnt)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, sh, cnt
       |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin) { (s, d) =>
    val arr = TextFns.tokenArr(col("text"))
    // native codegen'd k-gram kernel (byte-identical to the former
    // interpreted transform(sequence)/element_at chain — see
    // ArrayExprs.Shingles)
    val cnt = Tables.documents(s, d)
      .select(col("lang"), arr.as("a"))
      .select(col("lang"),
        explode(graft.functions.ArrayExprs.shingles(col("a"), 3)).as("sh"))
      .groupBy("lang", "sh").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("sh"))
    cnt.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("rank"), col("sh"), col("cnt"))
      .orderBy("lang", "rank")
  }

  /** Corpus diagnostics: per-source size and lexical-diversity profile
    * (docs, tokens, distinct terms, type-token ratio, mean doc length) —
    * the summary table a mixing/curation decision reads per source.
    * Plan shape for 100 TB: one narrow tokenize pass; the exact distinct
    * counts are two-phase aggregates keyed on (source, term) /
    * (source, doc) — both bounded by vocab × sources and docs, never
    * token volume. */
  private val qCorpusStats = Q("q_corpus_stats",
    s"""WITH arr AS (SELECT doc_id, source, string_split(
       |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ') AS a
       |  FROM documents),
       |tok AS (SELECT doc_id, source, term FROM (
       |    SELECT doc_id, source, unnest(a) AS term FROM arr)
       |  WHERE length(term) > 0)
       |SELECT source,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types,
       |  ROUND(CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*), 6) AS ttr,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6)
       |    AS mean_doc_tokens
       |FROM tok GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val arr = TextFns.tokenArr(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(arr).as("term"))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_types"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("mean_doc_tokens"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(qTokenize, qTermFreq, qDictLoad, qDictVectorize,
    qTfidf, qTwcnbModel, qNbScore, qTwcnbTfidf, qBm25, qTopNgrams,
    qCorpusStats)
}
