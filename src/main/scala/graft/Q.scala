package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A declared query: a Spark implementation plus (when SQL-expressible and
  * deterministic) a DuckDB oracle. The driver hash-matches the two at sf0.01
  * (columns sorted by name, values hashed in row order), so every query obeys
  * the determinism discipline of SURVEY.md §2:
  *   - terminate with a total ORDER BY over key columns;
  *   - floating aggregates either exact (integer-valued doubles, quantized
  *     integer sums) or ROUND(x, 6)-wrapped.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracleSql: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracleSql))

  /** Query with no DuckDB oracle (nondeterministic / not SQL-expressible);
    * the driver records a weaker rows-only check. */
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Exact money-style sum: quantize to integer units (e.g. cents), sum as
    * BIGINT (bit-exact in any engine / summation order), convert back with a
    * single division. `decimals` = digits kept (scale = 10^decimals).
    */
  def exactSum(c: Column, decimals: Int): Column = {
    val scale = math.pow(10, decimals)
    round(sum(round(c * scale).cast("long")) / scale, decimals)
  }

  /** Round a SIGNED double for the oracle hash compare, zero-sign
    * normalized: IEEE `-0.0 + 0.0 = +0.0`. DuckDB's ROUND keeps the IEEE
    * sign when a tiny negative rounds to zero; Spark's BigDecimal-based
    * round emits unsigned zero — numerically equal, bitwise different, the
    * driver's value hash flips (q_embed_cov, round 5: 2/2080 rows).
    * Discipline: use this for EVERY rounded possibly-negative double and
    * mirror the oracle SQL with `ROUND(x, d) + 0.0`; tools/signbit_sweep.py
    * audits all oracles for surviving signed zeros. */
  def roundz(c: Column, d: Int): Column = round(c, d) + lit(0.0)
}
