package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference,
  BinaryExpression, BitwiseAnd, Coalesce, EvalMode, Expression, If, IsNotNull,
  Literal, NumericEvalContext, Or, ShiftRight, ShiftRightUnsigned}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact SUM over DECIMAL(p, s) with 8 < p ≤ 18, on two primitive longs.
  *
  * Spark sums such a column as DECIMAL(p + 10, s), which does not fit in a
  * long, so every row costs a `java.math.BigDecimal` add; its own
  * `DecimalAggregates` rule moves the sum onto one long only for p ≤ 8.
  * [[LongPairSum]] keeps the same result type, nullability, null semantics
  * and exact value, but adds each row's unscaled long (|v| < 10^18) into a
  * 96-bit two's-complement accumulator held as `hi: Long` (the signed
  * upper 64 bits) and `lo: Long` (the unsigned lower 32 bits, always in
  * [0, 2^32)). Only the once-per-group evaluation builds a `Decimal`.
  *
  * Exactness: every partial sum of fewer than 10^10 rows (per group, per
  * partition or merged) stays below 10^10 · 10^18 = 10^28 in magnitude, so
  * it never leaves DECIMAL(p + 10, s) and the kernel equals Spark's sum
  * exactly. Past that, the accumulator still cannot wrap: the `hi` adds run
  * in `EvalMode.TRY`, so a partial sum that reaches 2^95 > 10^28 turns the
  * buffer null, and a final value outside DECIMAL(p + 10, s) evaluates to
  * null, which is what Spark's non-ANSI decimal sum returns on overflow.
  */
object ExactSum {

  private val Legacy = NumericEvalContext(EvalMode.LEGACY)
  private val Try = NumericEvalContext(EvalMode.TRY)
  private val Low32 = Literal(0xFFFFFFFFL)
  private val Bits = Literal(32)

  /** Static twin for generated code: `hi · 2^32 + lo` at `scale`, or null
    * when the value does not fit DECIMAL(precision, scale). A value whose
    * `hi` fits an int fits one long, so it skips the `BigInteger`. */
  final def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == hi.toInt) new Decimal().setOrNull((hi << 32) | lo, precision, scale)
    else {
      val d = Decimal(new JBigDecimal(
        BigInteger.valueOf(hi).shiftLeft(32).add(BigInteger.valueOf(lo)), scale))
      if (d.changePrecision(precision, scale)) d else null
    }

  /** The buffer's value as a decimal of the sum's result type. */
  case class Recombine(left: Expression, right: Expression, dataType: DecimalType)
      extends BinaryExpression {
    override def nullable: Boolean = true

    override protected def nullSafeEval(hi: Any, lo: Any): Any =
      toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long],
        dataType.precision, dataType.scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (hi, lo) =>
        s"""${ev.value} = graft.functions.ExactSum.toDecimal($hi, $lo,
           |  ${dataType.precision}, ${dataType.scale});
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Recombine =
      copy(left = newLeft, right = newRight)
  }

  /** SUM of `child`, the unscaled long of a DECIMAL(p, s) column, as
    * `dataType` = DECIMAL(p + 10, s). Buffer `(hi, lo, nonEmpty)`; a row
    * `v` adds `t = lo + (v & 0xFFFFFFFF)`, keeps `lo = t & 0xFFFFFFFF` and
    * carries `hi += (v >> 32) + (t >>> 32)`; a merge carries the same way.
    * A null row adds nothing, and a group with no non-null row is null. */
  case class LongPairSum(child: Expression, dataType: DecimalType)
      extends DeclarativeAggregate with UnaryLike[Expression] {
    override def nullable: Boolean = true
    override def prettyName: String = "long_pair_sum"

    private lazy val hi = AttributeReference("hi", LongType)()
    private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
    private lazy val nonEmpty =
      AttributeReference("nonEmpty", BooleanType, nullable = false)()

    override lazy val aggBufferAttributes: Seq[AttributeReference] =
      Seq(hi, lo, nonEmpty)

    override lazy val initialValues: Seq[Expression] =
      Seq(Literal(0L), Literal(0L), Literal(false))

    /** The new `(hi, lo)` from `hiSum`, the upper words added, and `t`,
      * the lower words added (< 2^33): `t`'s carry goes into `hi`. */
    private def add96(hiSum: Expression, t: Expression): Seq[Expression] =
      Seq(Add(hiSum, ShiftRightUnsigned(t, Bits), Try), BitwiseAnd(t, Low32))

    // A null row adds 0, with no branch: inside an `If` branch `child` would
    // escape subexpression elimination, and its cast run once per use.
    override lazy val updateExpressions: Seq[Expression] = {
      val v = if (child.nullable) Coalesce(Seq(child, Literal(0L))) else child
      add96(Add(hi, ShiftRight(v, Bits), Try), Add(lo, BitwiseAnd(v, Low32), Legacy)) :+
        (if (child.nullable) Or(nonEmpty, IsNotNull(child)) else Literal(true))
    }

    override lazy val mergeExpressions: Seq[Expression] =
      add96(Add(hi.left, hi.right, Try), Add(lo.left, lo.right, Legacy)) :+
        Or(nonEmpty.left, nonEmpty.right)

    override lazy val evaluateExpression: Expression =
      If(nonEmpty, Recombine(hi, lo, dataType), Literal(null, dataType))

    override protected def withNewChildInternal(newChild: Expression): LongPairSum =
      copy(child = newChild)
  }
}
