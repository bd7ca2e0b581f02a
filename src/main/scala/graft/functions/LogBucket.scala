package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnOps
import org.apache.spark.sql.types.{DataType, LongType}

/** Log-linear bucket of a BIGINT: its bit length plus the next 8 bits,
  * mirrored for negatives — the histogram key of the exact rank select
  * ([[graft.operators.Relational.rankSelect]]).
  *
  * For u ≥ 0 with s = max(0, bitLength(u) − 9) the bucket is
  * s·256 + (u >> s): the values 0..511 each own a bucket, and every wider
  * bucket holds 2^s values, no more than 1/256 of any value in it. A
  * negative v maps through u = ~v = −1 − v to −1 − bucket(u). The bucket
  * is data-independent and non-decreasing in v, each one is an interval
  * of values, and all of them lie in [−14336, 14335] (28,672 buckets).
  * Pure integer arithmetic (a leading-zero count and shifts): no float
  * log2 and no per-row string, and it stays inside WholeStageCodegen.
  */
case class LogBucket(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_log_bucket"

  override def nullSafeEval(a: Any): Any = LogBucket.of(a.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"${LogBucket.getClass.getName.stripSuffix("$")}.of($v)")

  override protected def withNewChildInternal(newChild: Expression): LogBucket =
    copy(child = newChild)
}

object LogBucket {
  /** The bucket of `v` (the expression's eval and generated code). */
  def of(v: Long): Long = {
    val sign = v >> 63 // 0 for v ≥ 0, −1 (all ones) for v < 0
    val u = v ^ sign
    val s = math.max(0, 55 - java.lang.Long.numberOfLeadingZeros(u))
    ((s.toLong << 8) + (u >> s)) ^ sign
  }

  /** The bucket of a BIGINT column. */
  def on(v: Column): Column =
    ColumnOps.column(LogBucket(ColumnOps.expression(v)))
}
