package graft.plans

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact money sums in a `long`: the kernel behind `Tables.dsum`, `davg`
  * and `dsumProd`. It returns the same DecimalType and the same exact
  * value as the builtin spelling it replaces,
  * `sum(cast(c AS DECIMAL(18,2)))` (Decimal(28,2)) and
  * `sum(cast(a AS DECIMAL(18,2)) * cast(b AS DECIMAL(18,2)))`
  * (Decimal(38,4)), without the builtin's per-row `java.math.BigDecimal`
  * work (the cast goes through `Double.toString`, the product and the
  * wide sum buffer through BigDecimal). Spark's own `DecimalAggregates`
  * rule sums unscaled longs too, but only up to precision 8.
  *
  * Per row ([[Cents]]): a DOUBLE x with t = 100·x, |t − rint(t)| < 1e-3
  * and |t| < 2^40 has DECIMAL(18,2) value rint(t) cents. The cast takes
  * HALF_UP of `Double.toString(x)` at scale 2, and that string is within
  * half an ulp of x; in this range |100·str − rint(t)| < 1e-3 + 2^-13 +
  * 100·2^-20 < 0.5. Any other row (off-grid, NaN, ±Inf, huge, non-DOUBLE
  * input) evaluates the builtin cast itself, so nulls and ANSI errors
  * are the cast's own. Either way the row's value is its exact unscaled
  * long.
  *
  * Per group ([[CentsSum]]): the unscaled values add in a `long`. An add
  * that would wrap (`((a^s) & (b^s)) < 0`) first moves the running sum
  * into a Decimal(38,0) carry; merge works the same way. A product of
  * two cents values below 2^31 fits a long; a wider one goes to the
  * carry directly. The carry stays null (zero) until needed, so the
  * common group reads and writes no decimal per row. The result,
  * (carry + sum)·10^-scale, is built once per group and checked like the
  * builtin's: null on overflow, or an error under ANSI. */
object CentsSum {
  /** The money type of the determinism contract. */
  val Money: DecimalType = DecimalType(18, 2)
  private[plans] val Carry: DecimalType = DecimalType(38, 0)
  /** |100·x| below this keeps the fast path exact (see above). */
  private[plans] val Guard: Double = 1099511627776.0 // 2^40
  private val Narrow: Long = 1L << 31

  /** `(c.cast(DECIMAL(18,2)) * 100).cast("long")`: exact cents as a
    * nullable long. */
  def cents(c: Column): Column =
    GraftPlanBridge.nativeColumn(c, c.cast(Money)) { e => Cents(e(0), e(1)) }

  /** One term: `sum(cast(c AS DECIMAL(18,2)))`, Decimal(28,2). Two terms:
    * the sum of the exact product of the two casts, Decimal(38,4). */
  def sum(terms: Column*): Column =
    GraftPlanBridge.nativeColumn(terms.map(cents): _*)(
      e => CentsSum(e).toAggregateExpression())
}

/** A double's DECIMAL(18,2) value as exact unscaled cents. `exact` is the
  * builtin cast of `child`; it runs only off the fast path, so it is a
  * branch that subexpression elimination must not hoist. */
case class Cents(child: Expression, exact: Expression)
    extends Expression with ConditionalExpression {
  import CentsSum.Guard

  override def children: Seq[Expression] = Seq(child, exact)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(child)
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): Cents =
    copy(child = in.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def checkInputDataTypes(): TypeCheckResult =
    if (exact.dataType == CentsSum.Money) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cents expects a DECIMAL(18,2) exact value, got ${exact.dataType.sql}")

  private def fast = child.dataType == DoubleType

  override def eval(input: InternalRow): Any =
    if (!fast) exactCents(input)
    else child.eval(input) match {
      case null => null
      case x: Double =>
        val t = x * 100.0
        val r = math.rint(t)
        if (math.abs(t - r) < 1e-3 && math.abs(t) < Guard) r.toLong else exactCents(input)
    }

  private def exactCents(input: InternalRow): Any = exact.eval(input) match {
    case null => null
    case d: Decimal => d.toUnscaledLong
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = exact.genCode(ctx)
    val slow =
      code"""${e.code}
            |${ev.isNull} = ${e.isNull};
            |if (!${ev.isNull}) ${ev.value} = ${e.value}.toUnscaledLong();""".stripMargin
    if (!fast) ev.copy(code =
      code"""boolean ${ev.isNull} = true;
            |long ${ev.value} = 0L;
            |$slow""".stripMargin)
    else {
      val x = child.genCode(ctx)
      val t = ctx.freshName("t")
      val r = ctx.freshName("r")
      ev.copy(code =
        code"""${x.code}
              |boolean ${ev.isNull} = ${x.isNull};
              |long ${ev.value} = 0L;
              |if (!${x.isNull}) {
              |  double $t = ${x.value} * 100.0;
              |  double $r = java.lang.Math.rint($t);
              |  if (java.lang.Math.abs($t - $r) < 1e-3 && java.lang.Math.abs($t) < ${Guard}d) {
              |    ${ev.value} = (long) $r;
              |  } else {
              |    $slow
              |  }
              |}""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Cents =
    copy(child = c(0), exact = c(1))
}

/** `sum(terms…)` of one or two [[Cents]] columns, see [[CentsSum$]]. The
  * buffer is (sum: long, carry: Decimal(38,0) or null for zero, isEmpty,
  * overflow); `evalMode` decides overflow like the builtin sum's. */
case class CentsSum(terms: Seq[Expression],
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate {
  import CentsSum.{Carry, Narrow}
  require(terms.size == 1 || terms.size == 2, "cents_sum takes a value or a product of two")

  override def children: Seq[Expression] = terms
  override def nullable: Boolean = true
  override def dataType: DecimalType =
    if (terms.size == 1) DecimalType(28, 2) else DecimalType(38, 4)
  override def prettyName: String = "cents_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (terms.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("cents_sum expects long cents")

  private lazy val sum = AttributeReference("sum", LongType, nullable = false)()
  private lazy val carry = AttributeReference("carry", Carry)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()
  private lazy val overflow = AttributeReference("overflow", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(sum, carry, isEmpty, overflow)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(null, Carry), Literal(true), Literal(false))

  /** A row's unscaled term: `small` joins the long sum, `big` (a product
    * too wide for a long) goes to the carry; at most one is non-null. */
  private lazy val (small, big): (Expression, Expression) = terms match {
    case Seq(c) => (c, Literal(null, Carry))
    case Seq(a, b) =>
      def narrow(e: Expression) =
        And(GreaterThan(e, Literal(-Narrow)), LessThan(e, Literal(Narrow)))
      val fits = And(narrow(a), narrow(b))
      (If(fits, Multiply(a, b, EvalMode.LEGACY), Literal(null, LongType)),
        If(fits, Literal(null, Carry),
          Multiply(Cast(a, Carry), Cast(b, Carry), EvalMode.LEGACY)))
  }

  /** carry + v; null on overflow unless the mode throws. */
  private def plus(c: Expression, v: Expression): Expression =
    Add(Coalesce(Seq(c, Literal.default(Carry))),
      if (v.dataType == Carry) v else Cast(v, Carry), evalMode)

  /** Adds (small, big) to (s0, c0): the new sum, the new carry, and
    * whether the carry itself overflowed. */
  private def step(s0: Expression, c0: Expression, small: Expression,
      big: Expression): (Expression, Expression, Expression) = {
    val s = Add(s0, small, EvalMode.LEGACY) // wraps; checked next
    val spill = Coalesce(Seq(
      LessThan(BitwiseAnd(BitwiseXor(s0, s), BitwiseXor(small, s)), Literal(0L)),
      Literal(false)))
    val withBig = If(IsNull(big), c0, plus(c0, big))
    val carried = If(spill, plus(withBig, s0), withBig)
    val lost = Or(And(IsNotNull(big), IsNull(withBig)), And(spill, IsNull(carried)))
    (If(spill, small, Coalesce(Seq(s, s0))), carried, lost)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val (s, c, lost) = step(sum, carry, small, big)
    Seq(s, c, And(isEmpty, And(IsNull(small), IsNull(big))), Or(overflow, lost))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (s, c, lost) = step(sum.left, carry.left, sum.right, carry.right)
    Seq(s, c, And(isEmpty.left, isEmpty.right),
      Or(Or(overflow.left, overflow.right), lost))
  }

  override lazy val evaluateExpression: Expression = {
    val total = CentsTotal(sum, carry, dataType.scale)
    If(isEmpty, Literal(null, dataType),
      CheckOverflowInSum(If(overflow, Literal(null, total.dataType), total),
        dataType, evalMode != EvalMode.ANSI, null))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CentsSum =
    copy(terms = c)
}

/** (carry + sum)·10^-scale as a decimal; the caller checks precision. */
case class CentsTotal(sum: Expression, carry: Expression, scale: Int)
    extends BinaryExpression {
  override def left: Expression = sum
  override def right: Expression = carry
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = false

  def total(s: Long, c: Decimal): Decimal = {
    val u = java.math.BigInteger.valueOf(s)
    Decimal(new java.math.BigDecimal(
      if (c == null) u else u.add(c.toJavaBigDecimal.toBigInteger), scale))
  }

  override def eval(input: InternalRow): Any =
    total(sum.eval(input).asInstanceOf[Long], carry.eval(input).asInstanceOf[Decimal])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = sum.genCode(ctx)
    val c = carry.genCode(ctx)
    val self = ctx.addReferenceObj("centsTotal", this)
    ev.copy(isNull = FalseLiteral, code =
      code"""${s.code}
            |${c.code}
            |Decimal ${ev.value} = $self.total(${s.value}, ${c.isNull} ? null : ${c.value});""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentsTotal =
    copy(sum = l, carry = r)
}
