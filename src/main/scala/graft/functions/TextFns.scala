package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text primitives for the NLP / LLM-pipeline layers.
  *
  * The tokenizer re-expresses the reference's unigram analyzer
  * (mahout-samsara-book: naiveBayesExample/src/main/scala/nbexample/
  * NaiveBayesServlet.scala:80-82 — `replaceAll("[^\\p{L}\\p{Nd}]+", " ")
  * .toLowerCase.split(" ")`) with codegen'd built-ins only; the `[a-z0-9]`
  * class is used (instead of `\p{L}\p{Nd}`) so the DuckDB RE2 oracle and
  * Java regex behave identically on this corpus.
  */
object TextFns {

  /** SQL fragment shared by every tokenized oracle: doc_id, lang, term,
    * pos (1-based). */
  val tokSql: String =
    """arr AS (SELECT doc_id, lang, string_split(
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ') AS a
      |  FROM documents),
      |tokf AS (SELECT doc_id, lang, term, pos FROM (
      |    SELECT doc_id, lang, unnest(a) AS term,
      |           generate_subscripts(a, 1) AS pos FROM arr)
      |  WHERE length(term) > 0)""".stripMargin

  /** Oracle CTE over [[tokSql]]'s `tokf`: per-(doc_id, term) counts. */
  val tfSql: String =
    "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokf GROUP BY 1, 2)"

  /** Oracle twin of [[shinglesOf]]: a SELECT over `tokf` (see [[tokSql]])
    * of `keys` and the k-token gram `as` from lead() windows, null where
    * the document has fewer than k tokens left. */
  def gramSql(k: Int, keys: String = "doc_id, ", as: String = "sh"): String =
    s"SELECT ${keys}term" + (1 until k).map(i => s" || ' ' || lead(term, $i) OVER w")
      .mkString + s" AS $as\n  FROM tokf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)"

  def normalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9]+", " ")

  /** Normalized token array with empties dropped — the shared front of
    * every text scan. `array_remove(arr, "")` is exactly the former
    * `filter(arr, t => length(t) > 0)` (split yields no nulls, and for
    * strings length>0 ≡ ≠ ""), but ArrayRemove is a codegen'd collection
    * expression while the `filter` higher-order function runs interpreted
    * per element — same reasoning as the [[ArrayExprs.shingles]] kernel:
    * keep the whole tokenize→shingle chain inside WholeStageCodegen. */
  def tokenArr(text: Column): Column =
    array_remove(split(normalize(text), " "), "")

  /** documents → (doc_id, lang, term, pos) with 1-based positions, empties
    * dropped. Narrow op — no shuffle; tokenization streams inside the
    * scan stage. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      posexplode(split(normalize(col("text")), " ")).as(Seq("pos0", "term")))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"), col("lang"), col("term"),
        (col("pos0") + 1).cast("long").as("pos"))

  /** k-token shingles via lead() windows (1 shuffle on doc_id). Kept as
    * the differential baseline for [[shinglesOf]]; production chains use
    * the narrow form. */
  def shingles(toks: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val sh = (1 until k).foldLeft(col("term")) { (acc, off) =>
      concat(acc, lit(" "), lead(col("term"), off).over(w))
    }
    toks.select(col("doc_id"), sh.as("sh")).filter(col("sh").isNotNull)
  }

  /** k-token shingles computed NARROW, straight off `documents`: the
    * token array never explodes, consecutive k-grams come from
    * `transform` over array offsets, so tokenize→shingle is zero-shuffle
    * and fuses into the scan stage — the window formulation above costs a
    * full shuffle+sort of every token in the corpus just to see its
    * neighbors, which at 100 TB is the single largest exchange of the
    * whole dedup chain. Same output set as [[shingles]] (asserted in
    * DedupSpec). Peak per-row memory is the document's full shingle array
    * (O(tokens·k·token_len)) before explode — bounded for web-scale docs
    * (MBs); split pathological multi-hundred-MB documents upstream. */
  def shinglesOf(docs: DataFrame, k: Int = 3): DataFrame = {
    val arr = tokenArr(col("text"))
    // native k-gram kernel ([[ArrayExprs.shingles]]): the former
    // transform(sequence)/element_at/concat_ws HOF chain ran interpreted
    // at 2.7 s/sf1 scan; the expression emits byte-identical grams
    // (A/B'd: zero multiset diff at sf1) from one codegen'd loop at
    // 1.35 s. Docs shorter than k tokens yield null → explode emits no
    // rows, matching the old `when` guard.
    docs.select(col("doc_id"), arr.as("a"))
      .select(col("doc_id"),
        explode(ArrayExprs.shingles(col("a"), k)).as("sh"))
  }

  /** Cosine similarity between two ARRAY<DOUBLE> columns via the native
    * [[DotProduct]] expression (SURVEY §2.8 X14) — identical summation
    * order to the former zip_with/aggregate form (bit-equal results), but
    * codegen'd: one bare loop, no per-pair array allocation. */
  def cosine(a: Column, b: Column): Column =
    ArrayExprs.dot(a, b) /
      (sqrt(ArrayExprs.dot(a, a)) * sqrt(ArrayExprs.dot(b, b)))

  /** Native-expression dot product (see [[DotProduct]]). */
  def dot(a: Column, b: Column): Column = ArrayExprs.dot(a, b)

  /** ARRAY<FLOAT> → ARRAY<DOUBLE> (widen before arithmetic so both engines
    * compute in double). A whole-array `Cast` — codegen'd elementwise
    * float→double widening, unlike the `transform(_, _.cast("double"))`
    * HOF it replaced, which invoked an interpreted lambda per element in
    * every embedding scan (8 call sites, incl. the hot dedup-embed/ANN
    * family). Bit-identical: both lower to the same per-element Cast. */
  def toDoubleArray(c: Column): Column = c.cast("array<double>")
}
