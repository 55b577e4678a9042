package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact 128-bit sum of a long column, as a DeclarativeAggregate over a
  * (hi, lo) two-long buffer — the engine's one money-sum path
  * (`SparkEntry.xsum`, r18).
  *
  * Why not `sum(cast(x as decimal(38,0)))` (the form this replaces): a
  * decimal(38,0) aggregation buffer is 16 opaque bytes whose per-row add
  * goes through Decimal/BigDecimal object arithmetic once group sums pass
  * the compact-long range — measured r18 at sf0.1 as a uniform
  * +0.2–0.35 s on every exact-sum query (q74−q16 = +0.34 s on an
  * identical plan). Here the buffer is two primitive longs updated with
  * pure bitwise/add expressions inside whole-stage codegen (carry =
  * `((a&b) | ((a|b) & ~s)) >>> 63`, the standard unsigned carry-out),
  * and only the per-GROUP result materializes a Decimal.
  *
  * Exactness: the buffer is the sum in 128-bit two's complement
  * (value = hi·2⁶⁴ + unsigned(lo)); update sign-extends the input
  * (xHi = x >> 63) so negative terms work; overflow needs |Σ| ≥ 2¹²⁷ ≈
  * 1.7e38 — past decimal(38,0)'s own 1e38 ceiling, so the representable
  * range is not narrowed. Null semantics mirror `sum` exactly: null
  * inputs are skipped, an empty/all-null group evaluates to NULL. Result
  * type decimal(38,0) — byte-identical downstream behavior (cents2/idiv
  * chains, decimal-safe comparisons, HUGEINT oracles) to the decimal sum
  * it replaces; Sum128Spec pins equality against `sum(cast(...))` on
  * random ±2⁶³-range inputs and the null/empty contracts.
  */
case class Sum128(child: Expression)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  // callers must pass a LONG term (xsum casts); AbstractDataType is
  // private[sql], so the contract is checked here instead of via
  // ImplicitCastInputTypes
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sum128 requires a BIGINT child, got ${child.dataType.catalogString}")

  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "sum128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def add128(aHi: Expression, aLo: Expression,
      bHi: Expression, bLo: Expression): (Expression, Expression) = {
    val s = Add(aLo, bLo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(aLo, bLo), BitwiseAnd(BitwiseOr(aLo, bLo), BitwiseNot(s))),
      Literal(63))
    (Add(Add(aHi, bHi), carry), s)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // Null handling via coalesce-to-zero, NOT If(IsNull(x), keep, add):
    // adding 0 is the 128-bit identity, so the value semantics are the
    // same — but the codegen consequences are not. Whole-stage common-
    // subexpression elimination only hoists subtrees in ALWAYS-EVALUATED
    // positions; an If buries the child in conditional branches, so each
    // buffer slot (and each generated map path) re-expanded the child —
    // measured r18 on the real q74 shape as a consistent ~1.5× stage
    // regression whenever the child is an expensive term (the money
    // round() chains), reversing the kernel's own microbench win. With
    // `y` as coalesce's first (unconditional) child, the term codegens
    // once per row and the (hi, lo) updates are pure primitive ops.
    val y = Coalesce(Seq(child, Literal(0L)))
    val (nHi, nLo) = add128(hi, lo, ShiftRight(y, Literal(63)), y)
    Seq(nHi, nLo, And(isEmpty, IsNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nHi, nLo) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nHi, nLo, And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, DecimalType(38, 0)), Decimal128ToDecimal(hi, lo))

  override protected def withNewChildInternal(newChild: Expression): Sum128 =
    copy(child = newChild)
}

/** (hi, lo) two's-complement 128-bit integer → Decimal(38,0). Runs once
  * per GROUP (the aggregate's result projection), so the BigDecimal
  * construction here is off the per-row path by design.
  */
case class Decimal128ToDecimal(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "decimal128_to_decimal"

  override def nullSafeEval(hiV: Any, loV: Any): Any =
    Decimal128ToDecimal.toDecimal(hiV.asInstanceOf[Long], loV.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"${ev.value} = graft.expressions.Decimal128ToDecimal.toDecimal($h, $l);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Decimal128ToDecimal {
  private val Two64 = BigInt(1) << 64

  /** Static helper shared by eval and generated code. */
  def toDecimal(hi: Long, lo: Long): org.apache.spark.sql.types.Decimal = {
    val uLo = BigInt(lo) & (Two64 - 1)
    val v = (BigInt(hi) << 64) + uLo
    org.apache.spark.sql.types.Decimal(BigDecimal(v), 38, 0)
  }
}
