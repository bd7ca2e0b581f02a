package graft

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a [[Q]] in one of
  * the module objects below; deterministic SQL-expressible ones also carry a
  * DuckDB oracle. The driver runs [[Verify]] (hash-match vs DuckDB at sf0.01)
  * and [[Bench]] (wall-clock at sf0.1).
  */
object SparkEntry {

  private def modules: Seq[Q] =
    operators.Relational.all ++ operators.CooQueries.all ++
      ml.MlQueries.all ++ operators.TextQueries.all ++
      operators.PipelineQueries.all ++ operators.Graph.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The §7.2 end-to-end slice: ridge regression over lineitem — scan →
    * quantized features → one-pass Gram/Xᵀy aggregate → Breeze solve → β. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_ridge_beta")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, in module
    * declaration order: Bench and Verify run them in this order, which
    * decides the consumer that pays each shared memo build. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).to(VectorMap)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
