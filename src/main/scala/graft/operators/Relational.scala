package graft.operators

import graft.{Q, Tables}
import graft.functions.{LogBucket, Sketches}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The standard relational surface (SURVEY.md §2.8 X1–X12): scans with
  * pushdown, the join family, aggregates/rollup, windows, set ops,
  * scalar-function coverage, JSON extraction, and a batch tumbling window
  * over `events`.
  *
  * All plain Catalyst built-ins — declared so the driver's DuckDB oracle can
  * verify them, and so the bench exercises the planner paths (broadcast vs
  * shuffle join, partial aggregation, window exec) that dominate at scale.
  *
  * Scale notes (100 TB): every query here aggregates or filters before any
  * wide result; dimension joins are explicit `broadcast()`; all shuffles key
  * on natural join/group keys so AQE can coalesce partitions.
  */
object Relational {

  /** Projection-only scan — column pruning must reach the parquet reader
    * (ReadSchema shows only these 5 columns). */
  private val qScan = Q("q_scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag""".stripMargin) {
    (s, d) =>
      // (l_orderkey, l_linenumber) is NOT unique in the generated data:
      // order by EVERY output column so ties are full-row duplicates and
      // the row-order hash compare is total at any scale
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag")
  }

  /** Predicate pushdown: all three filters appear in PushedFilters. */
  private val qFilter = Q("q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
  }

  /** Shuffle hash/SMJ equi-join: orders ⋈ customer (both large at scale —
    * shuffle on the join key, AQE picks SHJ vs SMJ). */
  private val qJoinHash = Q("q_join_hash",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0, 2) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Q.exactSum(col("o_totalprice"), 2).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** Broadcast-join star: fact lineitem against three broadcast dims — at
    * 100 TB the fact side never shuffles for dimension joins. */
  private val qJoinBroadcast = Q("q_join_broadcast",
    """SELECT r_name, n_name, COUNT(*) AS n_items, ROUND(SUM(l_quantity),6) AS sum_qty
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 6).as("sum_qty"))
        .orderBy("r_name", "n_name")
  }

  /** Left outer join preserving customers with zero orders. */
  private val qJoinOuter = Q("q_join_outer",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  ROUND(COALESCE(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)), 0)/100.0, 2) AS total_price
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(round(col("o_totalprice") * 100).cast("long")),
          lit(0L)) / 100.0, 2).as("total_price"))
      .orderBy("c_custkey")
  }

  /** Left-semi join (EXISTS). */
  private val qJoinSemi = Q("q_join_semi",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS). */
  private val qJoinAnti = Q("q_join_anti",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Range (theta) self-join: events within 5 minutes per user, blocked
    * by time bucket. A user_id-only equi-join is quadratic in each user's
    * event count before the time filter — one hot user blows it up. Here
    * the join key is (user_id, 5-min bucket) with the a-side exploded to
    * bucket and bucket+1: any pair with 0 < ts_b − ts_a ≤ 5 min has
    * floor(ts_b/300) ∈ {floor(ts_a/300), floor(ts_a/300)+1}, and since
    * each b-row keeps its single bucket, every qualifying pair matches
    * EXACTLY one exploded copy (no dedup needed). Candidates shrink from
    * O(per-user²) to adjacent 5-min windows — the same bound watermarks
    * give the streaming interval join. */
  private val qJoinRange = Q("q_join_range",
    """SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts
      | AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |GROUP BY a.user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val a = ev.select(col("user_id"), col("ts").as("ts_a"),
      floor(unix_timestamp(col("ts")) / 300).as("b0"))
      .select(col("user_id"), col("ts_a"),
        explode(array(col("b0"), col("b0") + 1)).as("bucket"))
    val b = ev.select(col("user_id"), col("ts").as("ts_b"),
      floor(unix_timestamp(col("ts")) / 300).as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** TPC-H Q1-style hash aggregate: partial (map-side) + final, the core
    * pattern for 100 TB aggregation. Sums are exact: l_quantity is
    * integer-valued; money is quantized to BIGINT before summing. */
  private val qGroupbyAgg = Q("q_groupby_agg",
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity),6) AS sum_qty,
      |  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0, 2) AS sum_base_price,
      |  ROUND(SUM(CAST(ROUND(l_quantity*l_discount*10000) AS BIGINT))/10000.0, 4) AS sum_disc_qty,
      |  ROUND(AVG(l_quantity),6) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 6).as("sum_qty"),
        Q.exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
        Q.exactSum(col("l_quantity") * col("l_discount"), 4).as("sum_disc_qty"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** ROLLUP grouping sets. */
  private val qAggRollup = Q("q_agg_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n, ROUND(SUM(l_quantity),6) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 6).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  /** X6: CUBE — all 2² grouping combinations in one pass (Expand under
    * the hood: each row fans out once per grouping set, then a single
    * partial+final aggregate — one shuffle regardless of set count). */
  private val qAggCube = Q("q_agg_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n, ROUND(SUM(l_quantity),6) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 6).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  /** X6: explicit GROUPING SETS — only the named combinations, unlike
    * rollup/cube (still one Expand + one aggregate pass). */
  private val qAggGroupingSets = Q("q_agg_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |  COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n, ROUND(SUM(l_quantity),6) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_gs")
    s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
            |  COALESCE(l_linestatus, 'ALL') AS ls,
            |  COUNT(*) AS n, ROUND(SUM(l_quantity),6) AS sum_qty
            |FROM graft_li_gs
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
            |ORDER BY rf, ls""".stripMargin)
  }

  /** X7: approximate percentile sketch (positive-indeterministic across
    * engines → rows-only; the exact q_percentile is its baseline and the
    * test bounds the error). */
  private val qApproxPercentile = Q.noOracle("q_approx_percentile") { (s, d) =>
    val cents = round(col("l_extendedprice") * 100).cast("long")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(approx_percentile(cents, lit(0.5), lit(10000)) / 100.0, 6)
        .as("p50_approx"),
        round(approx_percentile(cents, lit(0.95), lit(10000)) / 100.0, 6)
          .as("p95_approx"))
      .orderBy("l_returnflag")
  }

  /** X7 companion, ORACLE-CHECKED approximate percentile: a mergeable
    * fixed-bin histogram quantile — the q_hll_registers pattern applied
    * to percentiles. Where `q_approx_percentile` (Spark's t-digest-style
    * approx_percentile) is engine-specific and rows-only, this sketch is
    * engine-EXACT: integer cents, per-group [min, max] split into 256
    * equal integer bins, counts summed as BIGINTs, nearest-rank bucket
    * picked by integer cumulative sums, estimate = the bucket's lower
    * edge — every step bit-identical in any engine, so the declared
    * query hash-matches its SQL.
    *
    * Scale shape: the 256-bin histogram is never built. The bin of a
    * value, ((x − mn)·256) DIV (mx − mn + 1), is non-decreasing in x, so
    * the SQL form's "lowest bin whose running count reaches r" is the bin
    * of the r-th smallest value x₍ᵣ₎. [[rankSelect]] gives n, mn, mx and
    * x₍ᵣ₎ at r = (n+1) DIV 2 and (19n+19) DIV 20 from one bounded
    * histogram pass and one narrow band pass, and the SQL's integer
    * readout runs on that one-row-per-group local frame. The pass-1 plan
    * is q_percentile's, so whichever runs second reuses its generated
    * code. Driver state: [[rankSelect]]'s bound. Error is one-sided and
    * bounded by one bin width ((mx−mn+1)/256 cents), asserted against
    * the exact percentile in ShuffleAuditSpec. */
  private val qHistPercentile = Q("q_hist_percentile",
    """WITH x AS (SELECT l_returnflag AS rf,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c FROM lineitem),
      |mm AS (SELECT rf, MIN(c) AS mn, MAX(c) AS mx, COUNT(*) AS n
      |  FROM x GROUP BY rf),
      |bk AS (SELECT x.rf, ((x.c - mm.mn) * 256) // (mm.mx - mm.mn + 1) AS b
      |  FROM x JOIN mm ON x.rf = mm.rf),
      |h AS (SELECT rf, b, COUNT(*) AS cnt FROM bk GROUP BY rf, b),
      |cum AS (SELECT rf, b,
      |    SUM(cnt) OVER (PARTITION BY rf ORDER BY b) AS cum FROM h),
      |s50 AS (SELECT cum.rf, MIN(cum.b) AS bsel FROM cum
      |  JOIN mm ON cum.rf = mm.rf
      |  WHERE cum.cum >= (mm.n + 1) // 2 GROUP BY cum.rf),
      |s95 AS (SELECT cum.rf, MIN(cum.b) AS bsel FROM cum
      |  JOIN mm ON cum.rf = mm.rf
      |  WHERE cum.cum >= (19 * mm.n + 19) // 20 GROUP BY cum.rf)
      |SELECT mm.rf AS l_returnflag,
      |  ROUND((mm.mn + (s50.bsel * (mm.mx - mm.mn + 1)) // 256) / 100.0, 6)
      |    AS p50_hist,
      |  ROUND((mm.mn + (s95.bsel * (mm.mx - mm.mn + 1)) // 256) / 100.0, 6)
      |    AS p95_hist,
      |  mm.n AS n
      |FROM mm JOIN s50 ON mm.rf = s50.rf JOIN s95 ON mm.rf = s95.rf
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    histPercentiles(Tables.lineitem(s, d), "l_returnflag", cents)
  }

  /** Price in cents: `floor(v + 0.5)`, NOT `round(v)` — Spark's Round on
    * DoubleType allocates a BigDecimal PER ROW (RoundBase, confirmed in
    * the 4.1 bytecode), while floor is a bare Math.floor in codegen. For
    * the strictly positive prices the two are identical: HALF_UP(v) =
    * ⌊v + 0.5⌋ for v ≥ 0, and v + 0.5 is exact in double for v < 2⁵¹.
    * The DuckDB oracles keep ROUND — both sides compute the same c. */
  private def cents: Column = floor(col("l_extendedprice") * 100 + 0.5)

  /** q_hist_percentile's p50_hist, p95_hist and n of BIGINT `c` per
    * String `key`, in key order (see the query's scaladoc). */
  private[graft] def histPercentiles(df: DataFrame, key: String, c: Column,
      bandBound: Long = DefaultBandBound): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ranks = (n: Long) => Seq((n + 1) / 2, (19 * n + 19) / 20)
    // the SQL form's integer readout: bin of x, then the bin's lower edge
    val w = "(mx - mn + 1)"
    def readout(x: String): Column = round((col("mn") +
      expr(s"(((($x - mn) * 256) DIV $w) * $w) DIV 256")) / 100.0, 6)
    rankSelect(df, key, c, ranks, bandBound).map { g =>
      val Seq(r50, r95) = ranks(g.n)
      (g.key, g.min, g.max, g.n, g.at.get(r50), g.at.get(r95))
    }.toDF(key, "mn", "mx", "n", "x50", "x95")
      .select(col(key), readout("x50").as("p50_hist"),
        readout("x95").as("p95_hist"), col("n"))
  }

  /** Exact distinct aggregation (expand + two-phase agg under the hood). */
  private val qAggDistinct = Q("q_agg_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
      |  COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
  }

  /** Ranking window: top 10 orders per market segment. */
  private val qWindowRank = Q("q_window_rank",
    """WITH r AS (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
      |FROM r WHERE rn <= 10 ORDER BY c_mktsegment, rn""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rn")
  }

  /** Running-sum window frame per user (exact via quantized BIGINT sum). */
  private val qWindowRunsum = Q("q_window_runsum",
    """SELECT event_id, user_id,
      |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0, 2) AS run_value
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("run_value",
        round(sum(round(col("value") * 100).cast("long")).over(w) / 100.0, 2))
      .select("event_id", "user_id", "run_value")
      .orderBy("event_id")
  }

  /** X8 completion: the navigation window family — lead/lag (frame-free)
    * plus first_value/nth_value under an EXPLICIT ROWS frame (the default
    * RANGE frame's peer semantics is engine-subtle; pinning ROWS makes
    * both engines bit-identical). Values are copied, never computed, so
    * no rounding is needed for the hash compare. One shuffle on the
    * partition key; total order inside each partition via the key
    * suffix (Rank discipline). */
  private val qWindowNav = Q("q_window_nav",
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_totalprice) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
      |  nth_value(o_totalprice, 3) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        first("o_totalprice").over(wf).as("first_price"),
        nth_value(col("o_totalprice"), 3).over(wf).as("third_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Global top-k: TakeOrderedAndProject, no full sort at scale. */
  private val qTopk = Q("q_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) {
    (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
  }

  /** UNION (distinct). */
  private val qUnion = Q("q_union",
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |UNION
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).filter(col("c_acctbal") > 5000).select("c_custkey")
      .union(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")))
      .distinct()
      .orderBy("c_custkey")
  }

  /** INTERSECT (distinct). */
  private val qIntersect = Q("q_intersect",
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |INTERSECT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).filter(col("c_acctbal") > 5000).select("c_custkey")
      .intersect(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  /** EXCEPT (distinct). */
  private val qExcept = Q("q_except",
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).filter(col("c_acctbal") > 5000).select("c_custkey")
      .except(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  /** String/date scalar-function coverage (all codegen'd built-ins). */
  private val qStringDateFns = Q("q_string_date_fns",
    """SELECT o_orderkey,
      |  upper(substr(o_orderpriority, 1, 4)) AS prio_code,
      |  concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
      |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 4)).as("prio_code"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
          .as("status_prio"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"))
      .orderBy("o_orderkey")
  }

  /** JSON field extraction from events.props. */
  private val qJsonExtract = Q("q_json_extract",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")
  }

  /** Batch form of the streaming tumbling window (X15): 1-hour buckets.
    * Same buckets Structured Streaming's window() produces — verified
    * against date_trunc in DuckDB. */
  private val qEventTumble = Q("q_event_tumble",
    """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
      |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.exactSum(col("value"), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("ws", "event_type")
  }

  /** X15 batch form: SLIDING window (1 h width, 15 min slide) — each
    * event lands in width/slide = 4 overlapping windows, exactly what
    * Structured Streaming's `window(ts, "1 hour", "15 minutes")` produces.
    * The oracle derives the same 4 window starts per event with
    * `time_bucket` + `generate_series`. Fan-out is the fixed width/slide
    * factor (narrow explode), then one partial+final aggregate — the
    * 100 TB cost model is identical to the tumbling case × the overlap
    * factor. Completes the oracle-checked window family:
    * tumble (q_event_tumble) / slide (this) / session (q_sessionize). */
  private val qEventSlide = Q("q_event_slide",
    """WITH w AS (SELECT event_type, value,
      |  unnest(generate_series(
      |    time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL 45 MINUTE,
      |    time_bucket(INTERVAL 15 MINUTE, ts),
      |    INTERVAL 15 MINUTE)) AS ws
      |  FROM events)
      |SELECT ws, event_type, COUNT(*) AS n,
      |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM w GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin) {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Q.exactSum(col("value"), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("ws", "event_type")
  }

  /** X5+: as-of join — each purchase matched to the most recent prior (or
    * same-instant) error of the same user. DuckDB's native ASOF JOIN is
    * the oracle; the Spark side is [[AsOf.asofJoin]] (union + running
    * last-non-null window — one key shuffle, no range fan-out). The right
    * side is pre-deduplicated to one row per (user, ts): as-of tie order
    * is undefined in every engine. */
  private val qJoinAsof = Q("q_join_asof",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |err AS (SELECT user_id, ts, MAX(event_id) AS err_id FROM events
      |        WHERE event_type = 'error' GROUP BY user_id, ts)
      |SELECT p.event_id, err.err_id AS r_err_id,
      |  CAST(date_diff('second', err.ts, p.ts) AS BIGINT) AS lag_s
      |FROM p ASOF JOIN err ON p.user_id = err.user_id AND err.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy("user_id", "ts").agg(max("event_id").as("err_id"))
    AsOf.asofJoin(purchases, errors, key = "user_id")
      .select(col("event_id"), col("r_err_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("r_ts")))
          .as("lag_s"))
      .orderBy("event_id")
  }

  /** X5+/X15: interval join, the batch twin of the stream-stream join
    * ([[graft.streaming.EventStreams.intervalJoin]] — the declared query
    * runs the SAME operator, so the oracle checks the streaming join's
    * batch semantics; stream==batch equivalence is StreamingSpec's
    * "stream-stream interval join == static range join"). Each purchase
    * matches every error of the same user within ±30 minutes. Plan shape
    * at 100 TB: an equi-join on user_id carries the range predicate as a
    * post-join filter — one key-hash exchange per side, no range
    * fan-out; on streams the watermark plus the interval bound the
    * retained state on both sides. */
  private val qJoinInterval = Q("q_join_interval",
    """SELECT l.event_id AS event_id, r.event_id AS r_event_id,
      |  CAST(date_diff('second', l.ts, r.ts) AS BIGINT) AS lag_s
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      | AND l.event_type = 'purchase' AND r.event_type = 'error'
      | AND r.ts >= l.ts - INTERVAL 30 MINUTE
      | AND r.ts <= l.ts + INTERVAL 30 MINUTE
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.EventStreams.intervalJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "error"),
      before = "30 minutes", after = "30 minutes")
      .select(col("event_id"), col("r_event_id"),
        (unix_timestamp(col("r_ts")) - unix_timestamp(col("ts"))).as("lag_s"))
      .orderBy("event_id", "r_event_id")
  }

  /** X6+: exact interpolated percentiles per group — Spark `percentile`
    * and DuckDB `quantile_cont` share the definition; quantized input
    * keeps the interpolation float-exact. The order statistics come from
    * [[rankSelect]], so no task buffers, serializes or sorts a group's
    * values: the driver holds [[rankSelect]]'s bound whatever the row
    * count, and the exact form runs at any scale (`q_approx_percentile`
    * stays the mergeable-sketch alternative). */
  private val qPercentile = Q("q_percentile",
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5)/100.0, 6) AS p50,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.95)/100.0, 6) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) => percentiles(Tables.lineitem(s, d), "l_returnflag", cents)
  }

  /** Spark's `percentile` of BIGINT `c` at 0.5 and 0.95 per String `key`,
    * exactly, as `round(p / 100, 6)` columns p50 and p95 in key order. */
  private[graft] def percentiles(df: DataFrame, key: String, c: Column,
      bandBound: Long = DefaultBandBound): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ps = Seq(0.5, 0.95)
    val groups = rankSelect(df, key, c,
      n => ps.flatMap { p =>
        val (_, lower, higher) = position(n, p)
        Seq(lower + 1, higher + 1)
      }, bandBound)
    groups.map(g => (g.key, interpolated(g, ps(0)), interpolated(g, ps(1))))
      .toDF(key, "p50", "p95")
      .select(col(key), round(col("p50") / 100.0, 6).as("p50"),
        round(col("p95") / 100.0, 6).as("p95"))
  }

  /** Where Spark's `percentile` reads fraction p of n values: position
    * (n − 1)·p and its floor and ceiling, 0-based. */
  private def position(n: Long, p: Double): (Double, Long, Long) = {
    val pos = (n - 1) * p
    (pos, pos.floor.toLong, pos.ceil.toLong)
  }

  /** Spark's `percentile` of group `g` at fraction p, bit for bit: the
    * arithmetic of `Percentile.getPercentile` (no interpolation when the
    * position is whole or both neighbours are the same value). */
  private[graft] def interpolated(g: Ranked, p: Double): Option[Double] =
    Option.when(g.n > 0) {
      val (pos, lower, higher) = position(g.n, p)
      val (a, b) = (g.at(lower + 1), g.at(higher + 1))
      if (higher == lower || a == b) a.toDouble
      else (higher - pos) * a.toDouble + (pos - lower) * b.toDouble
    }

  /** One group of [[rankSelect]]: its key, the count n of its non-null
    * values, their min and max (None when n = 0) and the value at each
    * requested rank. */
  private[graft] final case class Ranked(key: String, n: Long,
      min: Option[Long], max: Option[Long], at: Map[Long, Long])

  /** [[rankSelect]]'s default band bound: a target bucket holding more
    * values than this is split before its values are collected. */
  private val DefaultBandBound = 1L << 16

  /** Index of the first cell whose running count `cum` reaches rank r
    * (1-based): with the cells in value order, the cell holding the r-th
    * smallest value. The driver-side select of [[rankSelect]] and of
    * q_event_hist_pct's nearest-rank bins. */
  private[graft] def cellOfRank(cum: Array[Long], r: Long): Int =
    cum.indexWhere(_ >= r)

  /** A value interval [lo, hi] of one group that holds `cnt` of its
    * values, with `below` of them under lo, and the group ranks in it
    * still unknown. */
  private final case class Band(key: String, lo: Long, hi: Long, cnt: Long,
      below: Long, ranks: Seq[Long])

  /** Collected histogram rows (band or key, cell, cnt, lo, hi) as cells
    * (cnt, lo, hi) in value order. */
  private def cellsOf(rows: Array[Row]): Seq[(Long, Long, Long)] =
    rows.sortBy(_.getLong(1))
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

  /** The bands of cells (cnt, lo, hi) in value order that hold ranks
    * `rs`; the cells lie above `below` values of the group. */
  private def bandsOf(key: String, cells: Seq[(Long, Long, Long)],
      below: Long, rs: Seq[Long]): Seq[Band] = {
    val cum = cells.scanLeft(below)(_ + _._1).tail.toArray
    rs.groupBy(cellOfRank(cum, _)).toSeq.map { case (i, r) =>
      val (cnt, lo, hi) = cells(i)
      Band(key, lo, hi, cnt, cum(i) - cnt, r)
    }
  }

  /** Exact order statistics of a BIGINT `value` per String `key`: for
    * each group (including a group whose values are all null, which gets
    * n = 0), n, min, max and the value at each 1-based rank in
    * `ranks(n)` (ranks in [1, n]), in Spark's ascending key order (null
    * first). Samsara's allreduceBlock shape: reduce the data to a small
    * in-core object, then do the math on the driver.
    *
    *  - Pass 1: one aggregate over (key, [[LogBucket]](value)) collected
    *    to the driver — count, min and max per bucket. The bucket is
    *    data-independent, monotone and at most 1/256 of its values wide,
    *    so the driver finds the bucket that holds each rank and the count
    *    below it. A rank at a bucket's first or last place, or in a
    *    bucket whose min equals its max, is read off with no further
    *    pass.
    *  - Refine: while a target bucket holds more than `bandBound` values,
    *    one sub-bucket pass splits every such band on its next 8 bits
    *    ((v − lo) >> shift, ≤ 256 cells), and the cell holding the rank
    *    becomes the band. Each pass narrows a band's span over 128-fold.
    *  - Pass 2: one narrow filter collects the values of the remaining
    *    target bands, and each rank is taken from them after sorting on
    *    the driver.
    *
    * Driver bound: groups × 28,672 bucket rows from pass 1, plus at most
    * `bandBound` values (or 256 cells in a refine pass) per target rank.
    * Each pass reads a band through a literal conditional on (key, value
    * range), one branch per band, not a join. */
  private[graft] def rankSelect(df: DataFrame, key: String, value: Column,
      ranks: Long => Seq[Long],
      bandBound: Long = DefaultBandBound): Seq[Ranked] = {
    val x = df.select(col(key).as("k"), value.as("v"))
    val hist = x.groupBy(col("k"), LogBucket.on(col("v")).as("b"))
      .agg(count("v").as("cnt"), min("v").as("lo"), max("v").as("hi"))
      .collect().groupBy(_.getString(0))
    // Spark's ascending order: null first, then UTF-8 bytes
    val keys = hist.keys.toSeq.sortBy(k => Option(k).map(UTF8String.fromString))
    val at = scala.collection.mutable.Map.empty[(String, Long), Long]
    // read off each rank at a band's edge or in a one-value band; keep
    // the bands with a rank still unknown
    def settle(bands: Seq[Band]): Seq[Band] = bands.flatMap { b =>
      val open = b.ranks.filter { r =>
        val j = r - b.below
        val v = if (b.lo == b.hi || j == 1) Some(b.lo)
          else if (j == b.cnt) Some(b.hi) else None
        v.foreach(at((b.key, r)) = _)
        v.isEmpty
      }
      Option.when(open.nonEmpty)(b.copy(ranks = open))
    }
    // a row's band index, null outside every band
    def bandOf(bands: Seq[Band]): Column =
      bands.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (b, i)) => when(col("k") <=> lit(b.key) &&
          col("v").between(b.lo, b.hi), lit(i)).otherwise(acc)
      }
    def inBands(bands: Seq[Band]): DataFrame =
      x.select(bandOf(bands).as("band"), col("v"))
        .where(col("band").isNotNull)
    val groups = keys.map { k =>
      val cells = cellsOf(hist(k).filterNot(_.isNullAt(1)))
      val n = cells.map(_._1).sum
      (k, n, cells, if (n > 0) ranks(n).distinct else Nil)
    }
    var open = settle(groups.flatMap { case (k, _, cells, rs) =>
      bandsOf(k, cells, 0L, rs)
    })
    while (open.exists(_.cnt > bandBound)) {
      val (heavy, light) = open.partition(_.cnt > bandBound)
      // the shift that leaves 8 bits of the band's span
      val sub = heavy.zipWithIndex.foldLeft(lit(null).cast("long")) {
        case (acc, (b, i)) => when(col("band") === i, shiftright(
          col("v") - b.lo, math.max(0,
            56 - java.lang.Long.numberOfLeadingZeros(b.hi - b.lo))))
          .otherwise(acc)
      }
      val cells = inBands(heavy).groupBy(col("band"), sub.as("s"))
        .agg(count(lit(1)), min("v"), max("v"))
        .collect().groupBy(_.getInt(0))
      open = light ++ settle(heavy.zipWithIndex.flatMap { case (b, i) =>
        bandsOf(b.key, cellsOf(cells(i)), b.below, b.ranks)
      })
    }
    if (open.nonEmpty)
      inBands(open).collect().groupBy(_.getInt(0)).foreach { case (i, rs) =>
        val b = open(i)
        val vs = rs.map(_.getLong(1))
        java.util.Arrays.sort(vs)
        b.ranks.foreach(r => at((b.key, r)) = vs((r - b.below - 1).toInt))
      }
    groups.map { case (k, n, cells, rs) =>
      Ranked(k, n, cells.headOption.map(_._2), cells.lastOption.map(_._3),
        rs.map(r => r -> at((k, r))).toMap)
    }
  }

  /** X5+: tolerance-bounded as-of join — the feature-store freshness
    * contract ("enrich with the latest error, unless it is staler than
    * 24 h"). Same single-shuffle carry as `q_join_asof`; the bound is a
    * post-filter on the carried `r_ts`, so rows whose only match is
    * stale DROP (inner semantics) instead of carrying a zombie feature.
    * DuckDB's WHERE applies after its ASOF JOIN — identical semantics. */
  private val qJoinAsofTol = Q("q_join_asof_tol",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |err AS (SELECT user_id, ts, MAX(event_id) AS err_id FROM events
      |        WHERE event_type = 'error' GROUP BY user_id, ts),
      |j AS MATERIALIZED (
      |      SELECT p.event_id, p.ts AS pts, err.ts AS ets, err.err_id
      |      FROM p ASOF JOIN err
      |        ON p.user_id = err.user_id AND err.ts <= p.ts)
      |SELECT event_id, err_id AS r_err_id,
      |  CAST(date_diff('second', ets, pts) AS BIGINT) AS lag_s
      |FROM j WHERE ets >= pts - INTERVAL 86400 SECOND
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy("user_id", "ts").agg(max("event_id").as("err_id"))
    AsOf.asofJoin(purchases, errors, key = "user_id",
        maxStalenessSeconds = Some(86400L))
      .select(col("event_id"), col("r_err_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("r_ts")))
          .as("lag_s"))
      .orderBy("event_id")
  }

  /** X6/X8 composition, warehouse staple: SCD2 history build — turn a
    * change log into versioned validity intervals. Per user, ordered by
    * (ts, event_id): keep only rows where event_type CHANGES (lag
    * compare), then close each version with the next change's ts
    * (lead; null = current version). Deterministic because event_id
    * breaks ts ties totally. Scale shape: one shuffle on the key, two
    * window passes over the same sort order (single Window sort at
    * runtime — Spark collapses same-spec windows). */
  private val qScd2 = Q("q_scd2",
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |    LAG(event_type) OVER w AS prev
      |  FROM events WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, event_id)),
      |c AS (SELECT user_id, event_type, ts AS valid_from, event_id
      |  FROM o WHERE prev IS NULL OR event_type <> prev)
      |SELECT user_id, event_type, valid_from,
      |  LEAD(valid_from) OVER (PARTITION BY user_id
      |    ORDER BY valid_from, event_id) AS valid_to,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY valid_from, event_id) AS BIGINT) AS version
      |FROM c ORDER BY user_id, version""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = Tables.events(s, d)
      .select("user_id", "event_type", "ts", "event_id")
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("event_id"))
    val w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    changes
      .withColumn("valid_to", lead("valid_from", 1).over(w2))
      .withColumn("version", row_number().over(w2).cast("long"))
      .select("user_id", "event_type", "valid_from", "valid_to", "version")
      .orderBy("user_id", "version")
  }

  /** Funnel analysis — ordered-stage conversion counting, the product-
    * analytics operator OLAP engines grow custom syntax for: how many
    * users did view → click → purchase IN ORDER? Each stage's entry time
    * is the user's earliest qualifying event STRICTLY AFTER the previous
    * stage's entry. Three chained min-after aggregates, each one shuffle
    * on user_id with the previous stage's one-row-per-user frame joined
    * in (AQE broadcasts it) — no per-user event explode, no window over
    * the full event set; every exchange carries per-user scalars. */
  private val qFunnel = Q("q_funnel",
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click_after,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_after""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      // each stage frame is one row per user and has TWO consumers (the
      // next stage's join + its own count) — materialize so the plan
      // scans events once per stage, not once per consumer
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
        .localCheckpoint(true)
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
        .localCheckpoint(true)
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
  }

  /** Cohort retention — the product-analytics companion to `q_funnel`:
    * users cohorted by first-seen day, then the (cohort, day-offset)
    * activity matrix a retention curve reads off. Two aggregates over
    * one (user, day) distinct projection: exchanges carry per-user days
    * and per-cell counts, never events. Day arithmetic on
    * midnight-truncated timestamps is calendar-exact in both engines. */
  private val qCohortRetention = Q("q_cohort_retention",
    """WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      |  FROM events),
      |first AS (SELECT user_id, MIN(day) AS cohort FROM act
      |  GROUP BY user_id)
      |SELECT first.cohort,
      |  CAST(date_diff('day', first.cohort, act.day) AS BIGINT)
      |    AS day_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_active
      |FROM act JOIN first ON act.user_id = first.user_id
      |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin) { (s, d) =>
    val act = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true) // two consumers: cohort agg + the join probe
    val first = act.groupBy("user_id").agg(min("day").as("cohort"))
    act.join(first, "user_id")
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "day_offset")
  }

  /** X11+: edit-distance similarity — levenshtein is a built-in in both
    * engines. The blocking-key pattern in miniature: equi-join on brand,
    * a length-band predicate (|len(a)−len(b)| ≤ k is a levenshtein lower
    * bound, so it's a pure pushdown), and a deterministic sample — the
    * synthetic part names are near-clones, so an unscoped run returns
    * half the pair space. */
  private val qEditDistance = Q("q_edit_distance",
    """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      | AND abs(length(a.p_name) - length(b.p_name)) <= 1
      |WHERE a.p_partkey % 2 = 0 AND b.p_partkey % 2 = 0
      |  AND levenshtein(a.p_name, b.p_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin) { (s, d) =>
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_name")
      .filter(col("p_partkey") % 2 === 0)
    // Deletion-neighborhood blocking (the SymSpell family): any two
    // strings within ONE edit share at least one member of
    // {s} ∪ {s minus one character}, so the equi-join key is
    // (brand, xxhash64(deletion variant)) — a name of length n emits
    // n+1 8-byte keys. Blocking on attributes alone does NOT scale
    // here: brand cardinality is fixed (25) and the synthetic names are
    // same-length near-clones, so (brand) or (brand, length) blocks
    // grow linearly with the table and pairs quadratically (measured
    // 6 s at sf0.1 → 156 s at sf1; deletion blocking cuts the sf1
    // candidate space 24M → 4.4M and the exact levenshtein verify
    // keeps the result oracle-identical — hash collisions can only ADD
    // candidates, never drop a true pair).
    // Pair DISTINCT NAMES, not rows: string distance is a function of
    // the strings, so all key-level work collapses onto the (brand,
    // name) groups first and expands back at the end. On a dup-heavy
    // table (the synthetic names repeat ~f times per brand) this
    // removes the f² blow-up of every row-level formulation — the
    // measured sf1 intermediates drop from 38.6M candidate rows (8.8×
    // the final output, each paying a levenshtein) to levenshtein on
    // ~10⁴ distinct name pairs plus joins that emit exactly the output.
    // With fully unique names it degrades gracefully to the plain
    // variant join. At any scale no stage is quadratic in table size:
    // the only quadratic term is per-(brand, variant) family size,
    // bounded by the name-duplication structure itself.
    val name = col("p_name")
    val variants = transform(sequence(lit(0), length(name)), i =>
      when(i === 0, name).otherwise(
        concat(name.substr(lit(1), i - 1),
          name.substr(i + 1, length(name) - i))))
    val pn = p.select("p_brand", "p_name").distinct()
    val vn = pn.select(col("p_brand"), col("p_name"),
      explode(variants).as("variant"))
      .select(col("p_brand"), col("p_name"),
        xxhash64(col("variant")).as("vh"))
    // distinct name pairs within one edit: bounded levenshtein (O(len·k)
    // banded DP, exact below the threshold, -1 above) verifies the
    // deletion-variant candidates; dist = 0 is impossible here (names
    // differ), so surviving cross pairs all have dist = 1
    val namePairs = vn.as("a").join(vn.as("b"),
      col("a.p_brand") === col("b.p_brand") &&
        col("a.vh") === col("b.vh") &&
        col("a.p_name") < col("b.p_name"))
      .select(col("a.p_brand").as("p_brand"), col("a.p_name").as("na"),
        col("b.p_name").as("nb"))
      .distinct() // a name pair may share several deletion variants
      .filter(levenshtein(col("na"), col("nb"), 2) === 1)
    // expand name pairs back to key pairs (each (ka, kb) combination
    // appears exactly once; orient by key order)
    val cross = namePairs
      .join(p.select(col("p_brand"), col("p_name").as("na"),
        col("p_partkey").as("ka")), Seq("p_brand", "na"))
      .join(p.select(col("p_brand"), col("p_name").as("nb"),
        col("p_partkey").as("kb")), Seq("p_brand", "nb"))
      .select(least(col("ka"), col("kb")).as("a_key"),
        greatest(col("ka"), col("kb")).as("b_key"), lit(1L).as("dist"))
    // identical names: every key pair within the (brand, name) group
    val same = p.as("x").join(p.as("y"),
      col("x.p_brand") === col("y.p_brand") &&
        col("x.p_name") === col("y.p_name") &&
        col("x.p_partkey") < col("y.p_partkey"))
      .select(col("x.p_partkey").as("a_key"), col("y.p_partkey").as("b_key"),
        lit(0L).as("dist"))
    same.unionAll(cross).orderBy("a_key", "b_key")
  }

  /** X15 batch form: gap-based sessionization — the lag-break/cumulative-
    * sum formulation of session windows (30-minute inactivity gap), the
    * batch twin of the streaming `session_window`/`flatMapGroupsWithState`
    * sessionizer (streaming/EventStreams.scala). Both windows share ONE
    * shuffle on user_id (the second window re-sorts within partitions —
    * its order key differs — but never re-exchanges), then a hash
    * aggregate on (user, session). Epoch-second arithmetic keeps the gap
    * predicate engine-portable. */
  private val qSessionize = Q("q_sessionize",
    """WITH d AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |         OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |       THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, brk DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM d)
      |SELECT user_id, CAST(sess AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val brk = when(lag(col("ts"), 1).over(w).isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
          > 1800, 1).otherwise(0)
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("brk").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("brk", brk)
        .withColumn("sess", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("sess").as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"),
          Q.exactSum(col("value"), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
  }

  /** Skew path, oracle-checked: the salted fact-fact join must produce
    * EXACTLY the plain join's result — the salt only respreads rows
    * (each fact row meets each matching build row once, on the
    * (key, salt) composite). Oracle is the unsalted SQL. */
  private val qJoinSalted = Q("q_join_salted",
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  ROUND(SUM(l_quantity),6) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumnRenamed("l_orderkey", "o_orderkey")
      Skew.saltedJoin(li, Tables.orders(s, d), key = "o_orderkey",
        nSalts = 8,
        saltSource = col("o_orderkey") * 8 + col("l_linenumber"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 6).as("sum_qty"))
        .orderBy("o_orderpriority")
  }

  /** Skew path, oracle-checked: two-phase salted aggregation ==
    * direct group-by (sums reassociate over quantized integers, so the
    * equality is bit-exact). */
  private val qSaltedAgg = Q("q_salted_agg",
    """SELECT l_returnflag,
      |  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0, 2) AS total,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      Skew.saltedSum(Tables.lineitem(s, d), key = "l_returnflag",
        valueCol = round(col("l_extendedprice") * 100).cast("long"),
        nSalts = 16,
        saltSource = col("l_orderkey") * 8 + col("l_linenumber"))
        .select(col("l_returnflag"),
          round(col("sum") / 100.0, 2).as("total"), col("n"))
        .orderBy("l_returnflag")
  }

  /** X7: HLL++ approximate distinct — deterministic for a fixed input but
    * not portable to the DuckDB oracle (different sketch), so rows-only
    * here; the ScalaTest suite asserts <5% error vs exact. At 100 TB this
    * replaces a full distinct shuffle with fixed-size mergeable sketches.
    */
  private val qAggApprox = Q.noOracle("q_agg_approx") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02)
        .as("approx_orders"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** X5+: time-grid resampling with fill-forward (LOCF) — each user's
    * irregular event stream aligned to an hourly grid carrying the last
    * observation forward; the standard time-series alignment op, composed
    * from `sequence`+`explode` (grid, bounded per user by range/step) and
    * [[AsOf.asofJoin]] (one key shuffle). Ties at equal ts resolve via
    * `max_by(value, event_id)` — `arg_max` in the DuckDB oracle — so the
    * pre-aggregated right side is unique per (user, ts) as asofJoin
    * requires. Grid points before a user's first observation drop (inner
    * as-of). */
  private val qFillForward = Q("q_fill_forward",
    """WITH o AS (SELECT user_id, ts, arg_max(value, event_id) AS v
      |           FROM events GROUP BY user_id, ts),
      |b AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
      |             date_trunc('hour', MAX(ts)) AS t1
      |      FROM events GROUP BY user_id),
      |g AS (SELECT user_id,
      |        unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts
      |      FROM b)
      |SELECT g.user_id, g.gts, o.v AS value
      |FROM g ASOF JOIN o ON g.user_id = o.user_id AND o.ts <= g.gts
      |ORDER BY g.user_id, g.gts""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val obs = ev.groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val grid = ev.groupBy("user_id")
      .agg(date_trunc("hour", min("ts")).as("t0"),
        date_trunc("hour", max("ts")).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR")))
          .as("gts"))
    AsOf.asofJoin(grid, obs, key = "user_id", leftTs = "gts")
      .select(col("user_id"), col("gts"), col("r_v").as("value"))
      .orderBy("user_id", "gts")
  }

  /** X6+: second-moment statistics (stddev / covariance / correlation)
    * from EXACT integer moments: the float builtins (`corr`, `covar_samp`,
    * `stddev`) are non-reassociative across partitionings and engines, so
    * the declared form accumulates Σx, Σy, Σx², Σy², Σxy as exact BIGINT
    * sums of quantized inputs (partial+final, any order) and applies the
    * closed-form moment formulas once per group — deterministic at any
    * scale/partitioning, same distributed cost as a plain aggregate. */
  private val qMomentsStats = Q("q_moments_stats",
    """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS BIGINT)) AS sx,
      |    SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS sy,
      |    SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS sxx,
      |    SUM(CAST(ROUND(l_discount*100) AS BIGINT)
      |      * CAST(ROUND(l_discount*100) AS BIGINT)) AS syy,
      |    SUM(CAST(l_quantity AS BIGINT)
      |      * CAST(ROUND(l_discount*100) AS BIGINT)) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n)/(n-1)), 6)
      |    AS sd_qty,
      |  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy/n)/(n-1), 6) + 0.0
      |    AS cov_qd,
      |  ROUND((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy) /
      |    SQRT((n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx)
      |       * (n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy)), 6) + 0.0 AS corr_qd
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val x = col("l_quantity").cast("long")
    val y = round(col("l_discount") * 100).cast("long")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("l_returnflag"),
        round(sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx") / col("n")) / (col("n") - 1)),
          6).as("sd_qty"),
        Q.roundz((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy") / col("n")) / (col("n") - 1),
          6).as("cov_qd"),
        Q.roundz((col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy")) /
          sqrt((col("n") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx")) *
            (col("n") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy"))), 6).as("corr_qd"))
      .orderBy("l_returnflag")
  }

  /** X6+: PIVOT — wide crosstab via `groupBy().pivot(col, values)`. With
    * the pivot values listed explicitly the plan is a single partial+final
    * aggregate over conditional inputs (no extra pass to discover values
    * — the discovery scan is exactly what you cannot afford at 100 TB;
    * enumerate or dictionary-lookup the pivot domain instead). Empty
    * cells: sums are NULL, counts 0 — the oracle's no-ELSE CASE matches. */
  private val qPivot = Q("q_pivot",
    """SELECT l_returnflag,
      |  ROUND(SUM(CASE WHEN l_linestatus='F'
      |    THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) END)/100.0, 2) AS F_price,
      |  COUNT(CASE WHEN l_linestatus='F' THEN l_quantity END) AS F_n,
      |  ROUND(SUM(CASE WHEN l_linestatus='O'
      |    THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) END)/100.0, 2) AS O_price,
      |  COUNT(CASE WHEN l_linestatus='O' THEN l_quantity END) AS O_n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0,
          2).as("price"),
          count(col("l_quantity")).as("n"))
        .orderBy("l_returnflag")
  }

  /** X6+: global NTILE without the single-task window —
    * [[Rank.globalNtile]] (distributed sort + per-partition offsets +
    * arithmetic bucket split) against DuckDB's native ntile() as the
    * oracle. The count that sizes the buckets comes from the numbering
    * pass itself — the table is scanned once, its sort shuffle reused by
    * the map pass. */
  private val qNtile = Q("q_ntile",
    """WITH r AS (SELECT o_totalprice,
      |  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n,
      |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0, 2) AS total
      |FROM r GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    Rank.globalNtile(o, 10, "o_totalprice", "o_orderkey")
      .groupBy(col("ntile").as("decile"))
      .agg(count(lit(1)).as("n"), Q.exactSum(col("o_totalprice"), 2).as("total"))
      .orderBy("decile")
  }

  /** Oracle fragment of the event-sketch queries: `ph`, the events with
    * `keys` and the portable 60-bit user hash `h`. */
  private def eventHashSql(keys: String): String =
    s"""ph AS (SELECT $keys,
       |    ${Sketches.hash60Sql.format("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events)""".stripMargin

  /** Oracle fragment: `name`, the HLL register `idx` and ρ of each `ph`
    * row, with its `key`. */
  private def hllRhoSql(name: String, key: String, idx: String): String =
    s"""$name AS (SELECT $key, ${Sketches.bucketSql("h")} AS $idx,
       |    ${Sketches.rhoSql("rem")} AS rho
       |  FROM (SELECT $key, h, h & ${Sketches.RemMask} AS rem FROM ph))""".stripMargin

  /** Oracle fragment: the d = 4 count-min rows (ws, r, `idx`) of each
    * `ph` row, w = 256. */
  private def cmRowsSql(idx: String): String = (0 until 4).map(i =>
      s"SELECT ws, $i AS r, ${Sketches.cmBucketSql("h", i, 256)} AS $idx FROM ph")
    .mkString(" UNION ALL ")

  /** X15+: windowed distinct-cardinality sketch — the batch twin of
    * [[graft.streaming.EventStreams.windowedDistinctSketch]] (the SAME
    * transform run on the static table; stream==batch pinned in
    * StreamingSpec). Per day-window, the 64 HLL registers over hashed
    * user_id — checked at full register granularity against DuckDB via
    * the shared integer ρ ladder ([[graft.functions.Sketches]]). The
    * streaming value: state bounded at |open windows| × 64 cells where
    * exact distinct-per-window holds every key; the batch value: the
    * same sketch rolls up across days/sources by elementwise MAX. */
  private val qEventHll = Q("q_event_hll",
    s"""WITH ${eventHashSql("date_trunc('day', ts) AS ws")},
       |${hllRhoSql("rho", "ws", "bucket")}
       |SELECT ws, bucket, CAST(MAX(rho) AS BIGINT) AS register
       |FROM rho GROUP BY ws, bucket ORDER BY ws, bucket""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .windowedDistinctSketch(Tables.events(s, d), "1 day")
      .orderBy("ws", "bucket")
  }

  /** X15+/X6: sketch ROLLUP — per-event-type HLL registers AND the
    * max-merged overall sketch from ONE grouping-sets aggregate. MAX is
    * distributive, so the ALL row is computed by the same partial-agg
    * machinery as the per-type rows — this is the mergeability of
    * [[graft.functions.Sketches]] registers expressed as a declared
    * query: a register table stored per source/day answers
    * union-cardinality questions later by re-aggregating 64-cell rows,
    * never re-reading raw data. At 100 TB the expand doubles only the
    * narrow (type, bucket, ρ) stream; the exchange stays bounded by
    * (|types|+1) × 64 cells per task. */
  private val qHllRollup = Q("q_hll_rollup",
    s"""WITH ${eventHashSql("event_type")},
       |${hllRhoSql("rho", "event_type", "bucket")}
       |SELECT COALESCE(event_type, 'ALL') AS event_type, bucket,
       |  CAST(MAX(rho) AS BIGINT) AS register
       |FROM rho GROUP BY GROUPING SETS ((event_type, bucket), (bucket))
       |ORDER BY event_type, bucket""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        Sketches.hash60(col("user_id").cast("string")).as("h"))
      .select(col("event_type"), Sketches.bucket(col("h")).as("bucket"),
        Sketches.rho(col("h").bitwiseAND(Sketches.RemMask)).as("rho"))
      .createOrReplaceTempView("graft_ev_hll")
    s.sql("""SELECT COALESCE(event_type, 'ALL') AS event_type, bucket,
            |  CAST(MAX(rho) AS BIGINT) AS register
            |FROM graft_ev_hll
            |GROUP BY GROUPING SETS ((event_type, bucket), (bucket))
            |ORDER BY event_type, bucket""".stripMargin)
  }

  /** X15+: windowed frequency sketch — batch twin of
    * [[graft.streaming.EventStreams.windowedFreqSketch]] (SAME transform,
    * static table; stream==batch in StreamingSpec). Per day-window, the
    * d=4 × w=256 count-min cells over hashed user_id, every cell an
    * order-free COUNT — checked exactly against DuckDB via the shared
    * Carter–Wegman family ([[graft.functions.Sketches]]). The streaming
    * value: hot-key monitoring with |open windows| × d·w bounded state;
    * the batch value: cells SUM across windows/sources (count-min's
    * merge is addition — the dual of HLL's register MAX), so stored
    * cell tables answer later frequency probes without raw data. */
  private val qEventCountMin = Q("q_event_count_min",
    s"""WITH ${eventHashSql("date_trunc('day', ts) AS ws")},
       |cells AS (${cmRowsSql("bkt")})
       |SELECT ws, r, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM cells GROUP BY ws, r, bkt ORDER BY ws, r, bkt""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .windowedFreqSketch(Tables.events(s, d), "1 day")
      .orderBy("ws", "r", "bkt")
  }

  /** X15 × X7: windowed value-histogram sketch — the batch twin of
    * `EventStreams.windowedValueHist` (same transform, stream==batch in
    * StreamingSpec), completing the streaming sketch matrix: HLL counts
    * distincts, count-min counts frequencies, this counts the value
    * DISTRIBUTION, making per-window percentile monitoring a ≤256-cell
    * cumulative readout. Bin width 4.0 is a power of two → `value/4.0`
    * is an exponent shift, exact in both engines; clamp and counts are
    * integer ops, so the sketch cells hash-match the oracle exactly. */
  private val qEventHist = Q("q_event_hist",
    """SELECT date_trunc('day', ts) AS ws,
      |  LEAST(255, GREATEST(0, CAST(FLOOR(value / 4.0) AS BIGINT))) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1, 2 ORDER BY ws, bin""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .windowedValueHist(Tables.events(s, d), "1 day")
      .orderBy("ws", "bin")
  }

  /** The percentile READOUT over `q_event_hist`'s cells — what a latency
    * dashboard actually displays per window: p50/p95 estimates from the
    * ≤256-cell cumulative histogram (bin lower edge × width; the
    * q_hist_percentile nearest-rank discipline, every step
    * integer-exact). The sketch aggregates the event volume; this query
    * touches only |windows| × 256 cells — the separation that lets the
    * readout run on a dashboard tick while the sketch runs on the
    * stream. The cells are collected once and both bins are picked on
    * the driver ([[cellOfRank]]), so the readout runs no window, join or
    * second aggregate. */
  private val qEventHistPct = Q("q_event_hist_pct",
    """WITH h AS (SELECT date_trunc('day', ts) AS ws,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(value / 4.0) AS BIGINT))) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT ws, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY ws),
      |c AS (SELECT h.ws, h.bin, h.cnt, t.n,
      |    SUM(h.cnt) OVER (PARTITION BY h.ws ORDER BY h.bin) AS cum
      |  FROM h JOIN t ON h.ws = t.ws)
      |SELECT ws,
      |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END) * 4.0 AS p50_est,
      |  MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN bin END) * 4.0
      |    AS p95_est,
      |  MAX(n) AS n
      |FROM c GROUP BY ws ORDER BY ws""".stripMargin) { (s, d) =>
    import s.implicits._
    // ≤ 256 cells per window, collected once; the window start travels
    // as epoch micros so the local frame rebuilds the same timestamp, and
    // Options keep the columns as nullable as the aggregate form's
    val cells = graft.streaming.EventStreams
      .windowedValueHist(Tables.events(s, d), "1 day")
      .select(unix_micros(col("ws")), col("bin"), col("cnt"))
      .collect().groupBy(_.getLong(0))
    cells.keys.toSeq.sorted.map { ws =>
      val c = cells(ws).sortBy(_.getLong(1))
      val cum = c.scanLeft(0L)(_ + _.getLong(2)).tail
      val n = cum.last
      def bin(r: Long) = c(cellOfRank(cum, r)).getLong(1)
      (Option(ws), Option(bin((n + 1) / 2)),
        Option(bin((19 * n + 19) / 20)), Option(n))
    }.toDF("ws", "b50", "b95", "n")
      .select(timestamp_micros(col("ws")).as("ws"),
        (col("b50") * 4.0).as("p50_est"), (col("b95") * 4.0).as("p95_est"),
        col("n"))
  }

  /** X15+: single-pass windowed multi-sketch — batch twin of
    * [[graft.streaming.EventStreams.windowedMonitor]] (SAME transform,
    * static table; stream==batch in StreamingSpec). All three sketch
    * families (HLL registers / count-min cells / value histogram) from
    * ONE events scan and ONE (window, family, row, idx) exchange — the
    * production monitor shape, where running the three standalone
    * sketches costs three scans. Oracle = the three standalone oracles
    * composed by UNION ALL, so the fused cells are hash-checked to be
    * bit-identical to the separately-computed ones. */
  private val qEventMonitor = Q("q_event_monitor",
    s"""WITH ${eventHashSql("date_trunc('day', ts) AS ws, value")},
       |${hllRhoSql("hr", "ws", "idx")},
       |hll AS (SELECT ws, 'hll' AS family, 0 AS r, idx,
       |    CAST(MAX(rho) AS BIGINT) AS val FROM hr GROUP BY 1, 2, 3, 4),
       |cmc AS (${cmRowsSql("idx")}),
       |cm AS (SELECT ws, 'cm' AS family, r, idx,
       |    CAST(COUNT(*) AS BIGINT) AS val FROM cmc GROUP BY 1, 2, 3, 4),
       |hist AS (SELECT ws, 'hist' AS family, 0 AS r,
       |    LEAST(255, GREATEST(0, CAST(FLOOR(value / 4.0) AS BIGINT))) AS idx,
       |    CAST(COUNT(*) AS BIGINT) AS val
       |  FROM ph WHERE value IS NOT NULL GROUP BY 1, 2, 3, 4),
       |u AS (SELECT * FROM hll UNION ALL SELECT * FROM cm
       |      UNION ALL SELECT * FROM hist)
       |SELECT ws, family, r, idx, val FROM u
       |ORDER BY ws, family, r, idx""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .windowedMonitor(Tables.events(s, d), "1 day")
      .orderBy("ws", "family", "r", "idx")
  }

  /** X8+: time-RANGE window frame — per-user trailing-1-hour rolling
    * aggregate (`RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
    * ROW`), the frame family the ROWS-based windows (q_window_runsum/nav)
    * cannot express: the frame is bounded by event-time DISTANCE, not row
    * count, so peers at identical timestamps share one frame and sparse
    * streams get short frames. Spark's `rangeBetween` needs a numeric
    * order key — both sides order by epoch MICROseconds (the testdata's
    * native resolution; `unix_micros` vs DuckDB `epoch_us` agree exactly,
    * and a seconds-cast would disagree at sub-second boundaries). The
    * frame sum is the quantized-BIGINT discipline, order-free within any
    * frame. Plan at 100 TB: ONE exchange on user_id + in-partition sort;
    * the running frame is a single pass with a sliding accumulator —
    * no self-join, no per-row re-scan (the naive range self-join is
    * O(rows × frame) and unbounded on hot users). */
  private val qWindowRange = Q("q_window_range",
    """SELECT user_id, event_id, COUNT(*) OVER w AS n_1h,
      |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER w / 100.0, 2)
      |    AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(round(col("value") * 100).cast("long")).over(w) / 100.0, 2)
          .as("sum_1h"))
      .orderBy("user_id", "event_id")
  }

  /** X8+: rolling ORDER-STATISTIC window — per-user nearest-rank median
    * of the trailing 10 events (ROWS frame), the latency/size-monitor
    * percentile that running sums cannot express. Spark has no
    * percentile window function; the portable form is collect_list over
    * the bounded frame → sort_array → element_at at ⌊(n+1)/2⌋ — all
    * codegen'd array expressions, O(frame log frame) per row with the
    * frame capped at 10. The oracle mirrors the construction exactly
    * (list() window + list_sort + element) rather than quantile_disc,
    * so both engines pick the SAME order statistic; the median is a
    * passthrough input value (no arithmetic), hence hash-exact.
    * Ordering ties broken by event_id (unique). Plan at 100 TB: ONE
    * exchange on user_id + in-partition sort, state bounded by the
    * 10-row frame — same shape as q_window_range. */
  private val qWindowMedian = Q("q_window_median",
    """SELECT user_id, event_id,
      |  l[(len(l) + 1) // 2] AS med10
      |FROM (SELECT user_id, event_id,
      |  list_sort(list(value) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS l
      |FROM events)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        sort_array(collect_list(col("value")).over(w)).as("l"))
      .select(col("user_id"), col("event_id"),
        element_at(col("l"),
          ((size(col("l")) + 1) / 2).cast("int")).as("med10"))
      .orderBy("user_id", "event_id")
  }

  /** CDC latest-wins snapshot merge (MERGE INTO / SCD upsert) — the
    * incremental-refresh primitive a training-corpus pipeline needs when
    * re-crawls arrive as deltas against a published snapshot: changed keys
    * take the delta row, new keys append, unchanged base rows survive.
    * The delta here is derived deterministically from the base so the
    * oracle sees the identical changeset (updates: keys ≡3 mod 7 repriced
    * ×1.1; inserts: keys ≡0 mod 13 re-keyed past the base domain).
    *
    * Plan shape: LEFT ANTI join of base against delta keys + UNION — no
    * window, no sort until presentation. The row_number()-over-key
    * alternative pays a per-key sort over the FULL merged table; the
    * anti-join touches base rows once and shuffles only on the merge key
    * (AQE broadcasts small deltas outright — the common nightly-delta
    * case). Multi-version deltas reduce to latest-per-key first (max
    * version, a delta-sized aggregate), preserving this shape. */
  private val qMergeUpsert = Q("q_merge_upsert",
    """WITH delta AS (
      |  SELECT o_orderkey, o_custkey,
      |    ROUND(CAST(ROUND(o_totalprice*110) AS BIGINT)/100.0, 2)
      |      AS o_totalprice,
      |    'U' AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 7 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
      |    o_totalprice, 'N' AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM delta
      |UNION ALL
      |SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus
      |FROM orders b WHERE NOT EXISTS
      |  (SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val updates = base.filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), col("o_custkey"),
        round(round(col("o_totalprice") * 110).cast("long") / 100.0, 2)
          .as("o_totalprice"),
        lit("U").as("o_orderstatus"))
    val inserts = base.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), lit("N").as("o_orderstatus"))
    val delta = updates.union(inserts)
    delta
      .union(base.join(delta.select("o_orderkey"), Seq("o_orderkey"),
        "left_anti"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Q] = Seq(qScan, qFilter, qJoinHash, qJoinBroadcast, qJoinOuter,
    qJoinSemi, qJoinAnti, qJoinRange, qGroupbyAgg, qAggRollup, qAggDistinct,
    qWindowRank, qWindowRunsum, qWindowNav, qTopk, qUnion, qIntersect, qExcept,
    qStringDateFns, qJsonExtract, qEventTumble, qAggApprox, qAggCube, qJoinAsof,
    qPercentile, qEditDistance, qAggGroupingSets, qApproxPercentile,
    qHistPercentile,
    qJoinSalted, qSaltedAgg, qSessionize, qPivot, qNtile, qFillForward,
    qEventSlide, qMomentsStats, qJoinInterval, qWindowRange, qWindowMedian,
    qMergeUpsert,
    qEventHll, qHllRollup, qEventCountMin, qEventHist, qEventHistPct,
    qEventMonitor,
    qJoinAsofTol, qScd2, qFunnel, qCohortRetention)
}
