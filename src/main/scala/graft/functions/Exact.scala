package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Exact money arithmetic on unscaled Long lanes (SURVEY.md §5, the
  * exact-cell house rule).
  *
  * The generated money columns are doubles carrying 2-dp values. The
  * oracle-parity form of a money sum is
  * `CAST(sum(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`; written with Spark's
  * decimal `sum`, every row builds a `BigDecimal` from the double's
  * string, and the 22- or 38-digit sum buffer is rewritten as
  * `BigInteger` bytes on every update. This device computes the same
  * value without either:
  *
  *  - [[UnscaledLane]] is the unscaled Long of `cast(x AS decimal(p,s))`:
  *    `rint(x·10^s)` when that provably is the cast's answer, otherwise
  *    the cast itself (so nulls and errors follow the session's ANSI
  *    setting exactly as before).
  *  - [[ExactSum]] adds lanes, or exact products of lanes, into a
  *    two-Long (hi, lo) buffer that never wraps, and returns the sum as
  *    `decimal(38,s)`. Callers cast that decimal to double once, at the
  *    output, which yields the same bits as the decimal `sum`.
  *
  * Both stay inside whole-stage codegen: `ExactSum` is a
  * `DeclarativeAggregate` over built-in Long arithmetic, not a typed
  * `Aggregator` or a UDF.
  *
  * Not for streaming state: `graft.streaming.EventStream` keeps its
  * `sum(decimal)` aggregates because their buffers are checkpointed
  * state, and a buffer layout change would orphan existing checkpoints.
  */
object Exact {

  /** A product of unscaled lanes at a combined scale: the exact value
    * is `Π factors / 10^scale`.
    */
  final case class Term private[functions] (factors: Seq[Expression], scale: Int) {
    def *(o: Term): Term = Term(factors ++ o.factors, scale + o.scale)
    /** `1 - this`, still on the lane (single-factor terms only). */
    def oneMinus: Term = affine(f => Subtract(Literal(ExactLimbs.pow10(scale)), f))
    /** `1 + this`, still on the lane (single-factor terms only). */
    def onePlus: Term = affine(f => Add(Literal(ExactLimbs.pow10(scale)), f))

    private def affine(g: Expression => Expression): Term = {
      require(factors.length == 1, "1 ± x is defined on a single lane")
      Term(Seq(g(factors.head)), scale)
    }
  }

  /** `cast(c AS decimal(precision, scale))` as an unscaled Long lane. */
  private def dec(c: Column, precision: Int, scale: Int): Term = {
    val x = GraftBridge.expression(c)
    val d = GraftBridge.expression(c.cast(DecimalType(precision, scale)))
    Term(Seq(UnscaledLane(x, d)), scale)
  }

  /** A generated money or quantity column: `decimal(12,2)`. */
  def money(c: Column): Term = dec(c, 12, 2)

  /** A generated rate in [0, 1] (discount, tax): `decimal(8,2)`. */
  def rate(c: Column): Term = dec(c, 8, 2)

  /** Exact SUM of a term as `decimal(38, scale)`; null for a group with
    * no non-null term. Also usable as a window function (`.over(w)`).
    */
  def exactSum(t: Term): Column = {
    val (hi, lo) = t.factors match {
      case Seq(f) => (ShiftRight(f, Literal(ExactLimbs.Bits)),
        BitwiseAnd(f, Literal(ExactLimbs.Mask)))
      case fs => (ExactProduct(fs, high = true), ExactProduct(fs, high = false))
    }
    GraftBridge.column(ExactSum(hi, lo, t.scale).toAggregateExpression())
  }
}

/** Limb arithmetic shared by the generated code and the interpreted
  * paths. A value v is the pair (hi, lo) with v = hi·2^62 + lo and
  * 0 <= lo < 2^62, so two lo limbs add without overflow and the carry
  * is the sum's bit 62.
  */
object ExactLimbs {
  final val Bits = 62
  final val Mask: Long = (1L << Bits) - 1

  /** 10^scale; fails for a scale outside a Long. */
  def pow10(scale: Int): Long = BigInteger.TEN.pow(scale).longValueExact()

  /** One limb of a product that overflowed a Long, computed exactly. */
  def wideProduct(fs: Array[Long], high: Boolean): Long = {
    val p = fs.map(BigInteger.valueOf).reduce(_ multiply _)
    if (high) p.shiftRight(Bits).longValueExact() else p.longValue() & Mask
  }

  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal =
    Decimal(new JBigDecimal(
      BigInteger.valueOf(hi).shiftLeft(Bits).add(BigInteger.valueOf(lo)), scale),
      DecimalType.MAX_PRECISION, scale)
}

/** Unscaled Long of `decimal`, which must be `cast(value AS decimal(p,s))`
  * for a double `value`. Fast path, taken when `value` is not NaN,
  * |value| < 10^(p-s) and r = rint(value·10^s) satisfies
  * r / 10^s == value: the answer is r. Within that range (p <= 15)
  * distinct s-dp decimals are distinct doubles whose rounding
  * intervals are far narrower than half a unit of the last place, so
  * the cast (HALF_UP rounding of the double's decimal string) lands on
  * r. Every other row — non-s-dp doubles such as 1.005, NaN, ±Inf,
  * values out of range, nulls — evaluates `decimal` itself.
  */
case class UnscaledLane(value: Expression, decimal: Expression)
    extends BinaryExpression with ConditionalExpression {
  private lazy val dt = decimal.dataType.asInstanceOf[DecimalType]
  private lazy val pow: Double = ExactLimbs.pow10(dt.scale).toDouble
  private lazy val bound: Double = ExactLimbs.pow10(dt.precision - dt.scale).toDouble

  override def left: Expression = value
  override def right: Expression = decimal
  override def dataType: DataType = LongType
  override def nullable: Boolean = decimal.nullable
  override def prettyName: String = "unscaled_lane"
  override def checkInputDataTypes(): TypeCheckResult = decimal.dataType match {
    case d: DecimalType if value.dataType == DoubleType && d.precision <= 15 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unscaled_lane needs a double and its decimal(p<=15,s) cast, got ${value.dataType}, $other")
  }

  // only `value` is always evaluated: the cast runs on the slow path
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(value)
  override def withNewAlwaysEvaluatedInputs(e: Seq[Expression]): UnscaledLane =
    copy(value = e.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    val x = value.eval(input)
    if (x == null) return null
    val v = x.asInstanceOf[Double]
    val r = math.rint(v * pow)
    if (math.abs(v) < bound && r / pow == v) r.toLong
    else {
      val d = decimal.eval(input)
      if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = value.genCode(ctx)
    val d = decimal.genCode(ctx)
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      |${v.code}
      |boolean ${ev.isNull} = ${v.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  double $r = java.lang.Math.rint(${v.value} * ${pow}D);
      |  if (java.lang.Math.abs(${v.value}) < ${bound}D && $r / ${pow}D == ${v.value}) {
      |    ${ev.value} = (long) $r;
      |  } else {
      |    ${d.code}
      |    ${ev.isNull} = ${d.isNull};
      |    if (!${ev.isNull}) ${ev.value} = ${d.value}.toUnscaledLong();
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnscaledLane =
    copy(value = newLeft, decimal = newRight)
}

/** The hi (`high`) or lo limb of the exact product of Long factors;
  * null when any factor is null. The product is a chain of
  * `Math.multiplyExact`; a row that overflows a Long is multiplied in
  * BigInteger instead.
  */
case class ExactProduct(factors: Seq[Expression], high: Boolean) extends Expression {
  override def children: Seq[Expression] = factors
  override def dataType: DataType = LongType
  override def nullable: Boolean = factors.exists(_.nullable)
  override def prettyName: String = if (high) "exact_product_hi" else "exact_product_lo"
  override def checkInputDataTypes(): TypeCheckResult =
    if (factors.length >= 2 && factors.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("exact_product needs two or more Long factors")

  private def limb(p: Long): Long = if (high) p >> ExactLimbs.Bits else p & ExactLimbs.Mask

  override def eval(input: InternalRow): Any = {
    val vs = factors.map(_.eval(input))
    if (vs.contains(null)) return null
    val fs = vs.map(_.asInstanceOf[Long]).toArray
    try limb(fs.reduce(Math.multiplyExact(_, _)))
    catch { case _: ArithmeticException => ExactLimbs.wideProduct(fs, high) }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = factors.map(_.genCode(ctx))
    val p = ctx.freshName("p")
    val limbOf = if (high) s"$p >> ${ExactLimbs.Bits}" else s"$p & ${ExactLimbs.Mask}L"
    val chain = gs.tail.map(g => s"$p = java.lang.Math.multiplyExact($p, ${g.value});")
    ev.copy(code = code"""
      |${gs.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = ${gs.map(_.isNull).mkString(" || ")};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  long $p = ${gs.head.value};
      |  try {
      |    ${chain.mkString("\n")}
      |    ${ev.value} = $limbOf;
      |  } catch (java.lang.ArithmeticException e) {
      |    ${ev.value} = graft.functions.ExactLimbs.wideProduct(
      |      new long[] {${gs.map(_.value).mkString(", ")}}, $high);
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactProduct = copy(factors = newChildren)
}

/** (hi, lo) limbs to `decimal(38, scale)`, exactly. */
case class LimbsToDecimal(hi: Expression, lo: Expression, scale: Int)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def prettyName: String = "limbs_to_decimal"

  override def nullSafeEval(h: Any, l: Any): Any =
    ExactLimbs.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"graft.functions.ExactLimbs.toDecimal($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LimbsToDecimal =
    copy(hi = newLeft, lo = newRight)
}

/** Exact SUM of a term given as its hi and lo limbs (see [[ExactLimbs]];
  * `hi` is null exactly when the row's term is null). The buffer is two
  * Longs, normalised on every update and merge: the lo limbs add
  * without overflow and carry bit 62 into hi. The hi limb grows by at
  * most 2 per Long-lane row, and its additions are `addExact` whatever
  * `spark.sql.ansi.enabled` says, so it fails loudly instead of ever
  * wrapping. Any sum below 2^125 in magnitude is returned exactly as
  * `decimal(38, scale)`.
  */
case class ExactSum(hi: Expression, lo: Expression, scale: Int)
    extends DeclarativeAggregate with BinaryLike[Expression] {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  private lazy val sumHi = AttributeReference("hi", LongType)()
  private lazy val sumLo = AttributeReference("lo", LongType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sumHi, sumLo)

  private def mask(e: Expression) = BitwiseAnd(e, Literal(ExactLimbs.Mask))
  private def carry(e: Expression) = ShiftRightUnsigned(e, Literal(ExactLimbs.Bits))
  /** lo limbs are < 2^62 each: their sum cannot overflow. */
  private def loAdd(a: Expression, b: Expression) =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))
  private def hiAdd(a: Expression, b: Expression) =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))
  private def orZero(e: Expression) = Coalesce(Seq(e, Literal(0L)))

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, LongType), Literal(null, LongType))

  override lazy val updateExpressions: Seq[Expression] = {
    val s = loAdd(orZero(sumLo), lo)
    Seq(
      If(IsNull(hi), sumHi, hiAdd(hiAdd(orZero(sumHi), hi), carry(s))),
      If(IsNull(hi), sumLo, mask(s)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val s = loAdd(orZero(sumLo.left), orZero(sumLo.right))
    Seq(
      If(IsNull(sumHi.right), sumHi.left,
        hiAdd(hiAdd(orZero(sumHi.left), sumHi.right), carry(s))),
      If(IsNull(sumHi.right), sumLo.left, mask(s)))
  }

  override lazy val evaluateExpression: Expression = LimbsToDecimal(sumHi, sumLo, scale)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactSum =
    copy(hi = newLeft, lo = newRight)
}
