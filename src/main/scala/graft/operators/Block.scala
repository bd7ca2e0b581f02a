package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The generic per-block escape hatch — Samsara's `mapBlock`/
  * `allreduceBlock` signature kept for parity (mahout-samsara-book:
  * myMahoutApp/src/main/scala/myMahoutApp/TWCNB.scala:90-147,
  * BahmaniSketch.scala:63-92: closures over `(keys: Array[K],
  * block: Matrix)` partitions).
  *
  * Every concrete use in the reference decomposes into relational form
  * (SURVEY §2.3) and those forms are what the declared queries run — this
  * generic version exists for the genuinely imperative cases (custom
  * kernels no expression can state). It operates on the row-vector view
  * `(key BIGINT, vec ARRAY<DOUBLE>)`; one partition = one block.
  *
  * Scale: the closure sees one partition at a time as arrays (bounded by
  * partition size, not dataset size); no shuffle is introduced — callers
  * control partitioning upstream.
  */
object Block {

  type RowVec = (Long, Array[Double])

  /** Per-partition block transform; `f` may rewrite keys, change row
    * count, and change width (ref `mapBlock(ncol = ...)`). */
  def mapBlock(rows: Dataset[RowVec])(
      f: (Array[Long], Array[Array[Double]]) => (Array[Long], Array[Array[Double]]))
      : Dataset[RowVec] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      val (keys, vecs) = it.toArray.unzip
      if (keys.isEmpty) Iterator.empty
      else {
        val (k2, v2) = f(keys, vecs)
        require(k2.length == v2.length,
          s"mapBlock: ${k2.length} keys vs ${v2.length} rows")
        k2.iterator.zip(v2.iterator)
      }
    }
  }

  /** Map each block to a local value, reduce to the driver (ref
    * `allreduceBlock(blockF, reduceF)`, TWCNB.scala:54-83). */
  def allreduceBlock[A: scala.reflect.ClassTag](rows: Dataset[RowVec],
      blockF: (Array[Long], Array[Array[Double]]) => A,
      reduceF: (A, A) => A): A = {
    val parts = rows.rdd
      .mapPartitions { it =>
        val (keys, vecs) = it.toArray.unzip
        if (keys.isEmpty) Iterator.empty else Iterator.single(blockF(keys, vecs))
      }
    // RDD.reduce throws a bare UnsupportedOperationException("empty
    // collection") from deep inside the job on an empty dataset — fail
    // with the actual contract violation instead
    require(!parts.isEmpty(),
      "allreduceBlock: empty input (no blocks to reduce)")
    parts.reduce(reduceF)
  }

  /** COO matrix → row-vector Dataset at a given width (the typed twin of
    * [[Coo.toRows]]). */
  def rowsOf(coo: DataFrame, ncol: Int): Dataset[RowVec] = {
    import coo.sparkSession.implicits._
    Coo.toRows(coo, ncol).select(col("i"), col("vec")).as[RowVec]
  }

  /** `n` rows built on the driver, in row order, as one materialized
    * frame (a localCheckpoint, a leaf like any eager checkpoint) — the
    * way back from an [[allreduceBlock]]-shaped driver computation. The
    * rows are cut into as many slices as AQE coalesces a shuffle of
    * `rowBytes`-byte rows into (`spark.sql.adaptive.
    * advisoryPartitionSizeInBytes` each): a gate-scale frame is one
    * slice, so a consumer's sort runs one task per stage, as it does on
    * the coalesced output of a shuffle. `slice(a, b)` packs rows [a, b)
    * on the driver; `rows` unpacks one slice in its task, so it must
    * capture nothing of the driver's state. */
  private[graft] def driverFrame[T: scala.reflect.ClassTag](s: SparkSession,
      schema: StructType, n: Int, rowBytes: Long)(slice: (Int, Int) => T)(
      rows: T => Iterator[Row]): DataFrame = {
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val parts = (n * rowBytes / advisory + 1).toInt
    val cut = (0 to parts).map(p => (p.toLong * n / parts).toInt)
    val slices = (0 until parts).map(p => slice(cut(p), cut(p + 1)))
    s.createDataFrame(s.sparkContext.parallelize(slices, parts).flatMap(rows),
      schema).localCheckpoint(true)
  }
}
