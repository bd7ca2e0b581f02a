package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The two package-private doors graft needs. The first wraps an
  * `RDD[InternalRow]` back into a DataFrame WITHOUT the external-Row
  * encoder round-trip that `createDataFrame(rdd: RDD[Row], schema)` pays
  * (deserialize out of Tungsten, re-encode on first use). Spark exposes
  * the internal constructor only `private[sql]`, so this lives in the
  * `org.apache.spark.sql` package — the standard ecosystem pattern for
  * libraries that keep row-level operators inside Tungsten (no Spark
  * internals are modified; this only forwards to a stable internal API).
  * Sole consumer: [[graft.operators.Rank.withRowIndexAndCount]], whose
  * global row numbering appends one long to each InternalRow.
  *
  * The second, [[unpersistRDD]], is the `private[spark]` free path
  * behind [[graft.Memo.free]].
  */
object GraftSqlBridge {
  def internalRowsToDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, false)

  /** `SparkContext.unpersistRDD`: drops `rdd`'s blocks and its entry in
    * the persistent-RDD registry — the call ContextCleaner makes for an
    * unreachable RDD. */
  def unpersistRDD(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
