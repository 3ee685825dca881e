package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression, BoundReference, Cast, CheckOverflowInSum, EvalMode, Expression, GreaterThan, If, IsNull, LessThan, Literal, NumericEvalContext, Or, SupportQueryContext, UnaryExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, TernaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Fixed-point money kernels: native forms of the two decimal operators
  * every revenue-style metric runs per row, bit-identical to Spark's.
  *
  * A metric like `sum(cast(o_totalprice as decimal(18,2)))` costs Spark
  * a `java.math.BigDecimal` per row twice over: the cast parses
  * `Double.toString(d)`, and SUM keeps its decimal(28,2) buffer as bytes
  * that every update reads back into a BigDecimal. A decimal(p <= 18)
  * fits a long, so both can run as long arithmetic:
  *  - [[DoubleToDecimal]] rounds `d * 10^s` to the same unscaled long
  *    the cast would produce, whenever that rounding is decided by the
  *    double alone, and returns a compact (long-backed) Decimal;
  *  - [[CompactDecimalSum]] accumulates unscaled longs and builds one
  *    decimal at the end.
  * Codegen emits one static call into this object per kernel, in the
  * idiom of [[DedupExprs]]. Anything the fast paths do not decide goes
  * through Spark's own operator, so values, NULLs and ANSI errors are
  * Spark's.
  *
  * [[rewrite]] applies both to an analyzed plan; the generator runs it
  * once per composed plan, on a plan-cache miss. */
object DecimalKernels {

  /** How many operators [[rewrite]] replaced in one plan. */
  final case class Replaced(casts: Int, sums: Int) {
    override def toString: String = s"$casts casts, $sums sums"
  }

  /** `plan` with every double → decimal(p <= 18) cast replaced by
    * [[DoubleToDecimal]] and every non-DISTINCT SUM of a decimal(p, s)
    * with 9 <= p <= 18 inside an Aggregate (`try_sum` excepted) replaced
    * by [[CompactDecimalSum]]; subquery plans included. Spark's own
    * `DecimalAggregates` rule already sums p <= 8 as a long, and window
    * sums are left as they are. A streaming plan comes back untouched:
    * a different aggregate would change its state-store schema. An
    * analyzed input stays marked analyzed. */
  def rewrite(plan: LogicalPlan): (LogicalPlan, Replaced) = {
    if (plan.isStreaming) return (plan, Replaced(0, 0))
    var casts = 0
    var sums = 0
    val out = plan.transformUpWithSubqueries { case p =>
      val summed = p match {
        case a: Aggregate => a.transformExpressionsUp {
          case ae @ AggregateExpression(s: Sum, _, false, _, _)
              if compactSum(s) =>
            sums += 1
            ae.copy(aggregateFunction = CurrentOrigin.withOrigin(s.origin) {
              CompactDecimalSum(s.child, s.dataType.asInstanceOf[DecimalType],
                ansi = s.evalContext.evalMode == EvalMode.ANSI)
            })
        }
        case other => other
      }
      summed.transformExpressionsUp {
        case c @ Cast(child, dt: DecimalType, _, _)
            if child.dataType == DoubleType && fastCast(dt) =>
          casts += 1
          DoubleToDecimal(child, c.withNewChildren(Seq(
            BoundReference(0, DoubleType, child.nullable))).asInstanceOf[Cast])
      }
    }
    if (casts + sums == 0) (plan, Replaced(0, 0))
    else (GraftSqlBridge.keepAnalyzed(plan, out), Replaced(casts, sums))
  }

  private def fastCast(dt: DecimalType): Boolean =
    dt.precision <= MaxLongDigits && dt.scale >= 0

  private def compactSum(s: Sum): Boolean = s.child.dataType match {
    case d: DecimalType => d.precision >= 9 && d.precision <= MaxLongDigits &&
      d.scale >= 0 && s.evalContext.evalMode != EvalMode.TRY
    case _ => false
  }

  private val MaxLongDigits = 18
  private val Pow10D: Array[Double] = Array.iterate(1.0, MaxLongDigits + 1)(_ * 10)
  private val Pow10L: Array[Long] = Array.iterate(1L, MaxLongDigits + 1)(_ * 10)
  private val FastLimit = (1L << 40).toDouble
  private val Pow10_38 = java.math.BigInteger.TEN.pow(38)

  /** `d` cast to decimal(p, s) as `fallback` (the original Cast over
    * input column 0) computes it.
    *
    * Spark rounds `BigDecimal(Double.toString(d))` HALF_UP to scale `s`.
    * That decimal lies within ½ulp(d) of d, so after scaling it lies
    * within 1.5·ulp(y) of y = d·10^s (10^s is exact, and the product is
    * rounded once). When |y| < 2^40 and y is more than 4·ulp(y) from a
    * half-integer, both round to the same integer n, and n is the
    * answer if it has at most p digits. Everything else — near-ties,
    * overflow, NaN and ±Inf — is evaluated by the Cast itself, which
    * returns its value, its NULL or its ANSI error. */
  def castDouble(d: Double, p: Int, s: Int, fallback: Expression): Decimal = {
    val y = d * Pow10D(s)
    val a = math.abs(y)
    if (a < FastLimit) { // false for NaN and ±Inf
      val f = math.floor(a)
      val frac = a - f // exact: f <= a < 2f for a >= 1, f = 0 below
      if (math.abs(frac - 0.5) > 4 * math.ulp(a)) {
        val n = f.toLong + (if (frac > 0.5) 1 else 0)
        if (n < Pow10L(p)) return Decimal.createUnsafe(if (y < 0) -n else n, p, s)
      }
    }
    fallback.eval(InternalRow(d)).asInstanceOf[Decimal]
  }

  private def unscaled(d: Decimal, s: Int): java.math.BigInteger =
    d.toJavaBigDecimal.setScale(s).unscaledValue

  /** Exact `hi + other + lo·10^-s` as a decimal(38, s); a NULL decimal
    * counts as zero. Spilling past 38 digits takes over 10^20 input
    * rows; it raises rather than wrap. */
  def spill(hi: Decimal, other: Decimal, lo: Long, s: Int): Decimal = {
    var u = java.math.BigInteger.valueOf(lo)
    if (hi != null) u = u.add(unscaled(hi, s))
    if (other != null) u = u.add(unscaled(other, s))
    if (u.abs.compareTo(Pow10_38) >= 0)
      throw new ArithmeticException("decimal sum buffer exceeds 38 digits")
    Decimal(new java.math.BigDecimal(u, s), 38, s)
  }

  /** Exact `hi + lo·10^-s` as a decimal(p, s) with p >= 19, or NULL when
    * it has more than p digits: the overflowed state Spark's SUM buffer
    * carries, which `CheckOverflowInSum` turns into NULL or an error. */
  def total(hi: Decimal, lo: Long, p: Int, s: Int): Decimal =
    if (hi == null) Decimal(lo, p, s) // |lo| < 2^63 < 10^19
    else {
      val u = unscaled(hi, s).add(java.math.BigInteger.valueOf(lo))
      if (u.abs.compareTo(java.math.BigInteger.TEN.pow(p)) >= 0) null
      else Decimal(new java.math.BigDecimal(u, s), p, s)
    }

  /** `hi + other + lo` into the spill buffer; see [[spill]]. */
  private[functions] case class Spill(hi: Expression, other: Expression,
      lo: Expression) extends Expression with TernaryLike[Expression] {
    override def first: Expression = hi
    override def second: Expression = other
    override def third: Expression = lo
    override def dataType: DataType = hi.dataType
    override def nullable: Boolean = false
    private def scale = hi.dataType.asInstanceOf[DecimalType].scale

    override def eval(input: InternalRow): Any = spill(
      hi.eval(input).asInstanceOf[Decimal],
      other.eval(input).asInstanceOf[Decimal],
      lo.eval(input).asInstanceOf[Long], scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h = hi.genCode(ctx)
      val o = other.genCode(ctx)
      val l = lo.genCode(ctx)
      ev.copy(code = code"""
        |${h.code}
        |${o.code}
        |${l.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  graft.functions.DecimalKernels.spill(${h.isNull} ? null : ${h.value},
        |    ${o.isNull} ? null : ${o.value}, ${l.value}, $scale);
        |""".stripMargin, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(newFirst: Expression,
        newSecond: Expression, newThird: Expression): Spill =
      copy(hi = newFirst, other = newSecond, lo = newThird)
  }

  /** The final sum in the result type, NULL on overflow; see [[total]]. */
  private[functions] case class Total(hi: Expression, lo: Expression,
      dataType: DecimalType) extends BinaryExpression {
    override def left: Expression = hi
    override def right: Expression = lo
    override def nullable: Boolean = true

    override def eval(input: InternalRow): Any = total(
      hi.eval(input).asInstanceOf[Decimal], lo.eval(input).asInstanceOf[Long],
      dataType.precision, dataType.scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h = hi.genCode(ctx)
      val l = lo.genCode(ctx)
      ev.copy(code = code"""
        |${h.code}
        |${l.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  graft.functions.DecimalKernels.total(${h.isNull} ? null : ${h.value},
        |    ${l.value}, ${dataType.precision}, ${dataType.scale});
        |boolean ${ev.isNull} = ${ev.value} == null;
        |""".stripMargin)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Total = copy(hi = newLeft, lo = newRight)
  }
}

/** `cast(child as decimal(p <= 18, s))` for a double `child`, evaluated
  * by [[DecimalKernels.castDouble]]. `cast` is the replaced Cast with its
  * child bound to input column 0: the fallback for values the fast path
  * does not decide, and the source of the result type, nullability and
  * eval mode. */
case class DoubleToDecimal(child: Expression, cast: Cast) extends UnaryExpression {
  override def dataType: DataType = cast.dataType
  override def nullable: Boolean = cast.nullable
  override def prettyName: String = "graft_double_to_decimal"
  override def toString: String = s"$prettyName($child, ${dataType.simpleString})"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a double, got ${t.sql}")
  }
  private def p = cast.dataType.asInstanceOf[DecimalType].precision
  private def s = cast.dataType.asInstanceOf[DecimalType].scale

  override def nullSafeEval(v: Any): Any =
    DecimalKernels.castDouble(v.asInstanceOf[Double], p, s, cast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fallback = ctx.addReferenceObj("castFallback", cast)
    nullSafeCodeGen(ctx, ev, d =>
      s"${ev.value} = graft.functions.DecimalKernels.castDouble($d, $p, $s, $fallback);" +
        (if (nullable) s"\n${ev.isNull} = ${ev.value} == null;" else ""))
  }

  override protected def withNewChildInternal(newChild: Expression): DoubleToDecimal =
    copy(child = newChild)
}

/** SUM of a decimal(p, s) with p <= 18, returning Spark's `Sum` result
  * type `resultType` = decimal(p + 10, s).
  *
  * Buffers: `lo`, a long of unscaled values; `hi`, a decimal(38, s)
  * spill that stays NULL until used; `empty`, true until a non-NULL
  * input. An update adds the input's unscaled long to `lo` while
  * |lo| < 2^62, and otherwise moves `lo` into `hi` and restarts from the
  * input; inputs are below 10^18 < 2^60, so `lo` never overflows. A
  * merge adds the two `lo`s when both are under 2^62 and spills the
  * right one otherwise. The result is NULL for no non-NULL input, and
  * otherwise the exact `hi + lo` checked by `CheckOverflowInSum` exactly
  * as `Sum` checks its buffer: NULL when it overflows `resultType` in a
  * non-ANSI sum, Sum's overflow error in an ANSI one.
  *
  * One divergence: Spark's buffer is itself a decimal(p + 10, s), so
  * `Sum` also overflows when a RUNNING partial sum leaves that range
  * though the final total fits. That answer depends on row order; this
  * aggregate returns the total. */
case class CompactDecimalSum(child: Expression, resultType: DecimalType,
    ansi: Boolean) extends DeclarativeAggregate with UnaryLike[Expression]
    with SupportQueryContext {
  import DecimalKernels.{Spill, Total}

  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_compact_decimal_sum"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= 18 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a decimal of at most 18 digits, got ${t.sql}")
  }
  override def initQueryContext(): Option[QueryContext] = Some(origin.context)

  private def hiType = DecimalType(38, resultType.scale)
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi", hiType)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi, empty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal.create(null, hiType), Literal(true))

  private val Limit = 1L << 62
  private def small(e: Expression): Expression =
    And(LessThan(e, Literal(Limit)), GreaterThan(e, Literal(-Limit)))
  private def plus(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))
  private def noHi = Literal.create(null, hiType)

  override lazy val updateExpressions: Seq[Expression] = {
    val x = UnscaledValue(child)
    val keep = if (child.nullable) Or(IsNull(child), small(lo)) else small(lo)
    val newLo = If(small(lo), plus(lo, x), x)
    Seq(
      if (child.nullable) If(IsNull(child), lo, newLo) else newLo,
      If(keep, hi, Spill(hi, noHi, lo)),
      if (child.nullable) And(empty, IsNull(child)) else Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val both = And(small(lo.left), small(lo.right))
    Seq(
      If(both, plus(lo.left, lo.right), lo.left),
      If(And(both, IsNull(hi.right)), hi.left,
        Spill(hi.left, hi.right, If(both, Literal(0L), lo.right))),
      And(empty.left, empty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(empty, Literal.create(null, resultType),
      CheckOverflowInSum(Total(hi, lo, resultType), resultType,
        nullOnOverflow = !ansi, getContextOrNull()))

  override protected def withNewChildInternal(newChild: Expression): CompactDecimalSum =
    copy(child = newChild)
}
