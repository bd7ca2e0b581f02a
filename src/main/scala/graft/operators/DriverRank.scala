package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The driver-held arm of [[Graph]]'s rank loop, taken while the rank
  * state fits `graft.graph.broadcastStateBytes` (the [[Graph.stateHint]]
  * test at [[bytesPerNode]]): the Samsara shape of a distributed reduce
  * into a small in-core object followed by driver-side math on it
  * (`allreduceBlock`, reference TWCNB.scala:54-83).
  *
  * The edges are indexed ONCE into a persisted RDD of [[Block]]s, one
  * per dst range, holding dense `Int` (src, dst) positions. The rank
  * vector lives on the driver as an `Array[Double]`. Each round
  * broadcasts the quantized contributions round(pr/outdeg·10¹²) and runs
  * ONE job whose tasks return the exact `Long` sums of their own dst
  * range, so no task holds a |V|-wide accumulator; the driver then
  * applies the same IEEE update, node set and quantized L1 delta as the
  * DataFrame rounds ([[Graph.rankIteration]], [[Graph.pprIteration]],
  * `rankDelta12`), so both arms give bit-identical ranks and stop at the
  * same round (GraphFixpointSpec runs both). The fixpoint forms run no
  * probe job. The result is one localCheckpoint of the (node, pr) frame,
  * a materialized leaf like every DataFrame round's.
  */
private[graft] object DriverRank {

  /** One dst range of the edge list: its distinct dst ids in ascending
    * order, and each edge as (position of its src in the sorted degree
    * ids, position of its dst in `dsts`). */
  final case class Block(dsts: Array[Long], src: Array[Int], dst: Array[Int])

  /** The sum of a dst no live src reaches: Spark's inner join drops such
    * a node from the PageRank round's output, and PPR's left join reads
    * it as 0. Contributions and their sums are otherwise ≥ 0. */
  private val absent = Long.MinValue

  private val q = 1000000000000L

  /** Driver bytes [[run]] holds per node, at most, rounded up: the
    * figure [[Graph.rankForm]] sizes this arm by. The round loop keeps
    * twelve 8-byte node-width arrays (ids, outdeg, reset, block dsts,
    * all, pr, contrib, sums, sumAt, next, and the serialized copies of
    * the two broadcasts: 96 B) and four narrower ones (srcAt, dstAt,
    * live, nextLive: 10 B); the result adds the held positions, nodes
    * and ranks, their slices and the slices' serialized tasks (52 B). */
  val bytesPerNode = 160L

  /** Spark's `round(x)` at scale 0 cast to long: HALF_UP (away from
    * zero) on `java.math.BigDecimal.valueOf(x)`, the shortest decimal
    * string of `x`. Below 2⁵² every k + ½ is a double, and that string
    * lies on the same side of k + ½ as `x` itself, so the exact fraction
    * decides; beyond it, and for NaN or ±∞, the BigDecimal path runs. */
  private[graft] def round0(x: Double): Long = {
    val a = math.abs(x)
    if (a < 4.503599627370496e15) {
      val f = math.floor(a)
      val r = (if (a - f >= 0.5) f + 1 else f).toLong
      if (x < 0) -r else r
    } else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** PageRank (`reset` empty) or PPR from `reset` over `node`, at most
    * `maxRounds` rounds, stopping at the first round whose quantized L1
    * delta is below `eps` when set. Returns (state, rounds run). */
  def run(e: DataFrame, deg: DataFrame, n: Long, reset: Option[Column],
      maxRounds: Int, eps: Option[Double]): (DataFrame, Int) = {
    val s = deg.sparkSession
    val sc = s.sparkContext
    val (ids, outdeg, resetOf) = initNodes(deg, reset)

    // dst ranges cut at equal strides of the sorted degree ids
    val parts = math.max(1, math.min(sc.defaultParallelism, ids.length))
    val bounds = Array.tabulate(parts - 1)(p =>
      ids(((p + 1).toLong * ids.length / parts).toInt))
    val idsB = sc.broadcast(ids)
    val boundsB = sc.broadcast(bounds)
    val edges = e.select(col("src").cast("long"), col("dst").cast("long")).rdd
    val blocks = edges.mapPartitions { rows =>
      val ids = idsB.value
      val bounds = boundsB.value
      val dst = Array.fill(parts)(Array.newBuilder[Long])
      val src = Array.fill(parts)(Array.newBuilder[Int])
      rows.foreach { r =>
        // an edge whose src has no degree row drops out of the rounds'
        // inner join with the degree frame
        val i = java.util.Arrays.binarySearch(ids, r.getLong(0))
        if (i >= 0) {
          val d = r.getLong(1)
          val b = java.util.Arrays.binarySearch(bounds, d)
          val p = if (b >= 0) b + 1 else -b - 1
          dst(p) += d
          src(p) += i
        }
      }
      Iterator.tabulate(parts)(p => p -> (dst(p).result(), src(p).result()))
    }.partitionBy(new org.apache.spark.HashPartitioner(parts))
      .mapPartitions({ it =>
        val (d, sIdx) = it.map(_._2).toSeq.unzip
        val dAll = d.toArray.flatten
        val dsts = sortedDistinct(dAll)
        Iterator.single(Block(dsts, sIdx.toArray.flatten,
          dAll.map(java.util.Arrays.binarySearch(dsts, _))))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materializes the blocks; one block per partition, in range order
      val blockDsts = blocks.map(_.dsts).collect()

      // every node id either arm can hold: degree srcs and edge dsts
      val all = sortedDistinct(ids ++ blockDsts.flatten)
      def at(id: Long) = java.util.Arrays.binarySearch(all, id)
      val srcAt = ids.map(at)
      val dstAt = blockDsts.map(_.map(at))

      val pr = new Array[Double](all.length)
      val live = new Array[Boolean](all.length)
      ids.indices.foreach { i =>
        live(srcAt(i)) = true
        pr(srcAt(i)) = resetOf.fold(1.0 / n)(_(i))
      }
      val budget12 = eps.map(x => math.round(x * 1e12))
      var r = 0
      var converged = false
      while (!converged && r < maxRounds) {
        val contrib = Array.tabulate(ids.length) { i =>
          val u = srcAt(i)
          if (live(u)) round0(pr(u) / outdeg(i) * q) else absent
        }
        val cB = sc.broadcast(contrib)
        val sums = blocks.map { b =>
          val c = cB.value
          val acc = Array.fill(b.dsts.length)(absent)
          var k = 0
          while (k < b.src.length) {
            val x = c(b.src(k))
            if (x != absent) {
              val j = b.dst(k)
              acc(j) = if (acc(j) == absent) x else acc(j) + x
            }
            k += 1
          }
          acc
        }.collect()
        cB.destroy()
        val sumAt = Array.fill(all.length)(absent)
        for (p <- sums.indices; j <- sums(p).indices)
          sumAt(dstAt(p)(j)) = sums(p)(j)

        val next = new Array[Double](all.length)
        val nextLive = new Array[Boolean](all.length)
        resetOf match {
          case None =>
            // rankIteration: the nodes some live src reaches
            all.indices.foreach { u =>
              if (sumAt(u) != absent) {
                nextLive(u) = true
                next(u) = 0.15 / n + 0.85 * (sumAt(u) / 1000000000000.0)
              }
            }
          case Some(rs) =>
            // pprIteration: every degree src, unreached ones at sum 0
            ids.indices.foreach { i =>
              val u = srcAt(i)
              val sum = if (sumAt(u) == absent) 0L else sumAt(u)
              nextLive(u) = true
              next(u) = 0.15 * rs(i) + 0.85 * (sum / 1000000000000.0)
            }
        }
        r += 1
        // rankDelta12 over the nodes both rounds hold
        converged = budget12.exists { b =>
          var d = 0L
          all.indices.foreach { u =>
            if (live(u) && nextLive(u))
              d += math.abs(round0((next(u) - pr(u)) * q))
          }
          d < b
        }
        System.arraycopy(next, 0, pr, 0, pr.length)
        System.arraycopy(nextLive, 0, live, 0, live.length)
      }
      val held = all.indices.filter(live).toArray
      (frame(s, held.map(all), held.map(pr)), r)
    } finally {
      blocks.unpersist(blocking = false)
      idsB.destroy(); boundsB.destroy()
    }
  }

  /** The init frame's nodes, one per degree src, sorted by id: (ids,
    * outdeg, reset when given). Each task sends its rows as primitive
    * columns, so the driver never holds a `Row` per node. */
  private def initNodes(deg: DataFrame, reset: Option[Column])
      : (Array[Long], Array[Double], Option[Array[Double]]) = {
    val width = 1 + reset.size // outdeg, then reset when given
    val chunks = deg.select(col("src").cast("long").as("node"), col("outdeg"))
      .select(Seq(col("node"), col("outdeg").cast("double")) ++
        reset.map(_.cast("double")): _*)
      .rdd.mapPartitions { rows =>
        val id = Array.newBuilder[Long]
        val xs = Array.fill(width)(Array.newBuilder[Double])
        rows.foreach { r =>
          id += r.getLong(0)
          xs.indices.foreach(j => xs(j) += r.getDouble(j + 1))
        }
        Iterator.single((id.result(), xs.map(_.result())))
      }.collect()
    val unsorted = chunks.flatMap(_._1)
    val ids = unsorted.clone()
    java.util.Arrays.sort(ids)
    def sorted(j: Int): Array[Double] = {
      val x = chunks.flatMap(_._2(j))
      val out = new Array[Double](x.length)
      unsorted.indices.foreach { i =>
        out(java.util.Arrays.binarySearch(ids, unsorted(i))) = x(i)
      }
      out
    }
    (ids, sorted(0), reset.map(_ => sorted(1)))
  }

  /** The distinct values of `a`, ascending. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val s = a.clone()
    java.util.Arrays.sort(s)
    var m = 0
    for (x <- s) if (m == 0 || s(m - 1) != x) { s(m) = x; m += 1 }
    java.util.Arrays.copyOf(s, m)
  }

  /** The (node, pr) state as a materialized frame, cut into as many
    * slices as AQE coalesces the DataFrame round's 16-byte rows into
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes` each): a
    * gate-scale state is one slice, so a consumer's sort runs one task
    * per stage, as it does on the DataFrame arm's output. */
  private def frame(s: org.apache.spark.sql.SparkSession, nodes: Array[Long],
      pr: Array[Double]): DataFrame = {
    val schema = StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("pr", DoubleType, nullable = false)))
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val parts = (nodes.length * 16L / advisory + 1).toInt
    val cut = (0 to parts).map(p => (p.toLong * nodes.length / parts).toInt)
    val slices = (0 until parts).map(p =>
      (nodes.slice(cut(p), cut(p + 1)), pr.slice(cut(p), cut(p + 1))))
    val rows = s.sparkContext.parallelize(slices, parts).flatMap {
      case (ns, ps) => ns.indices.iterator.map(i => Row(ns(i), ps(i)))
    }
    s.createDataFrame(rows, schema).localCheckpoint(true)
  }
}
