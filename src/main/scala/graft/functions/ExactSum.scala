package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression, Cast, Coalesce, EvalMode, Expression, If, IsNull, Literal, NumericEvalContext, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.{ColumnBridge, ErrorBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, DoubleType, LongType, NumericType}

/** Exact SUM of the 6-dp decimal image of a numeric column, or of the
  * product of two such images, returned as double: the value of
  * `CAST(SUM(CAST(x AS DECIMAL(p,6))) AS DOUBLE)` (one factor) or of
  * `CAST(SUM(CAST(x AS DECIMAL(p,6)) * CAST(y AS DECIMAL(p,6))) AS DOUBLE)`
  * (two factors), bit for bit, without a `BigDecimal` per row.
  *
  * Spark's decimal `sum` keeps its buffer as a JVM `BigDecimal`, so each
  * row pays a `Double.toString`-based cast, a `BigDecimal` add and a byte
  * re-encoding. Here the buffer is a 128-bit two's-complement integer in
  * two long limbs (`hi`, `lo`), counted in units of 10^-scale (scale 6,
  * or 12 for a product), plus Spark's `isEmpty` flag. The buffer is fixed
  * width, so `HashAggregateExec` keeps whole-stage codegen and the
  * partial/final combine.
  *
  * Per row, a double `d` converts to its 6-dp unscaled long
  * ([[ExactSum.image]]). The fast path is `rint(d·10^6)`, taken only when
  * no half-up boundary (k + ½)·10^-6 lies within 2 ulp of `d·10^6`.
  * Spark's cast rounds the string `Double.toString(d)`, which parses
  * back to `d`; it therefore lies within half an ulp of `d`, so it and
  * `d` round the same way, whatever digits the JDK prints. Every other
  * value (near-ties, |d·10^6| ≥ 2^52, NaN, ±∞, out-of-precision) takes
  * Spark's own `Decimal` path. Non-double inputs go through Spark's cast
  * to `decimal(p,6)` first.
  *
  * Edge cases follow Spark's decimal `sum` under both values of
  * `spark.sql.ansi.enabled`, captured when the aggregate is built (as
  * Spark's `Sum` and `Cast` capture it):
  *  - null inputs, and rows whose cast is null (NaN, ±∞, and
  *    out-of-precision values when ANSI is off) are skipped; a group
  *    with no other rows sums to null;
  *  - an out-of-precision input throws Spark's cast error under ANSI;
  *  - a buffer that leaves `decimal(min(38, p'+10), scale)` at any update
  *    or merge (p' the per-row decimal precision) turns null for good,
  *    and the result is null, or Spark's sum-overflow error under ANSI.
  *    Spark checks the same bound whenever it writes a decimal buffer.
  *
  * The final double is the correctly rounded S/10^scale, as Spark's
  * decimal-to-double cast gives: `S.toDouble / 10^scale` when
  * |S| < 2^53 (both operands exact, one rounding), else one
  * `BigDecimal` conversion per group.
  */
case class ExactSum(factors: Seq[Expression], precision: Int,
                    ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate {

  require(factors.size == 1 || (factors.size == 2 && precision <= 18),
    "exact_sum: one factor, or two of precision <= 18 (the product must fit 128 bits)")
  require(precision >= 6 && precision <= 28, s"exact_sum: precision $precision outside [6, 28]")

  private def scale: Int = 6 * factors.size
  // Spark's result type: a product of decimal(p,6)s has precision
  // n·p + n − 1, and sum adds 10 digits, capped at 38
  private def sumPrecision: Int = math.min(38, factors.size * (precision + 1) - 1 + 10)

  override def children: Seq[Expression] = factors
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    factors.map(_.dataType).find(!_.isInstanceOf[NumericType]) match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"exact_sum needs numeric inputs, got ${t.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override def prettyName: String = "exact_sum"
  override def flatArguments: Iterator[Any] = factors.iterator ++ Iterator(precision)

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def wrapAdd(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))

  // No `If` on the row's null test: common-subexpression elimination
  // only shares what every update expression evaluates, so each image
  // and term is computed once per row, and a null term is skipped
  // inside CarryAdd / Coalesce instead.
  override lazy val updateExpressions: Seq[Expression] = {
    val sources = factors.map { f =>
      if (f.dataType == DoubleType) f
      else Cast(f, DecimalType(precision, 6), None,
        if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
    }
    val images = sources.map(DecimalImage(_, precision, ansi))
    val b = if (images.size == 2) images(1) else Literal(1L)
    val termHi = TermLimb(high = true, images.head, b, sources.head, precision, ansi)
    val termLo = TermLimb(high = false, images.head, b, sources.head, precision, ansi)
    Seq(
      CarryAdd(hi, lo, termHi, termLo, sumPrecision, skipNullTerm = true),
      Coalesce(Seq(wrapAdd(lo, termLo), lo)),
      And(IsNull(termLo), isEmpty))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    CarryAdd(hi.left, lo.left, hi.right, lo.right, sumPrecision, skipNullTerm = false),
    wrapAdd(lo.left, lo.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, DoubleType), FixedToDouble(hi, lo, scale, ansi))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactSum = copy(factors = newChildren)
}

object ExactSum {
  /** `CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE)`. */
  def apply(c: Column): Column = column(Seq(c), 28)

  /** Exact sum of the product of `factors` (one or two), each cast to
    * `decimal(precision, 6)`. */
  def column(factors: Seq[Column], precision: Int): Column =
    ColumnBridge.column(
      new ExactSum(factors.map(ColumnBridge.expression), precision).toAggregateExpression())

  /** [[image]] of a value that needs more than 62 bits: the limbs are
    * recomputed from the source ([[wideLimb]]). */
  final val Wide = Long.MaxValue
  /** [[image]] of a row whose cast is null. */
  final val NullImage = Long.MinValue

  private val Exact53 = 1L << 53
  private val Fast = (1L << 52).toDouble
  private val Pow10d = Array.tabulate(39)(i => s"1e$i".toDouble)
  private val Pow10 = Array.tabulate(39)(i => BigInteger.TEN.pow(i))
  private val Pow10Hi = Pow10.map(_.shiftRight(64).longValue)
  private val Pow10Lo = Pow10.map(_.longValue)
  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  private[functions] val obj = getClass.getName.stripSuffix("$") + "$.MODULE$"

  /** The unscaled value of `CAST(d AS DECIMAL(precision, 6))`,
    * [[NullImage]] where the cast is null, [[Wide]] past 62 bits. */
  def image(d: Double, precision: Int, ansi: Boolean): Long = {
    val p = d * 1e6
    if (Math.abs(p) < Fast) {
      val r = Math.rint(p)
      // |Double.toString(d)·10^6 − p| < 1.5 ulp(p): when the nearest
      // rounding boundary is further than that, both round to r
      if (Math.abs(p - r) < 0.5 - 2 * Math.ulp(p) && Math.abs(r) < Pow10d(precision))
        return r.toLong
    }
    val dec = castDouble(d, precision, ansi)
    if (dec == null) NullImage else image(dec)
  }

  /** The unscaled value of a `decimal(_, 6)`, [[Wide]] past 62 bits. */
  def image(dec: Decimal): Long = {
    val u = dec.toJavaBigDecimal.unscaledValue
    if (u.bitLength <= 62) u.longValue else Wide
  }

  /** Spark's `CAST(d AS DECIMAL(precision, 6))`: null for NaN/±∞, null
    * or (ANSI) Spark's out-of-range error past `precision` digits. */
  private def castDouble(d: Double, precision: Int, ansi: Boolean): Decimal = {
    val dec = try Decimal(d) catch { case _: NumberFormatException => return null }
    if (dec.changePrecision(precision, 6)) dec
    else if (ansi) throw ErrorBridge.decimalOutOfRange(dec, precision, 6)
    else null
  }

  /** One limb of a [[Wide]] image, recomputed from its source. */
  def wideLimb(d: Double, precision: Int, ansi: Boolean, high: Boolean): Long =
    wideLimb(castDouble(d, precision, ansi), high)
  def wideLimb(dec: Decimal, high: Boolean): Long = {
    val u = dec.toJavaBigDecimal.unscaledValue
    if (high) u.shiftRight(64).longValue else u.longValue
  }

  /** Whether |hi·2^64 + lo| < 10^precision (lo read as unsigned). */
  def inRange(hi: Long, lo: Long, precision: Int): Boolean = {
    var h = hi
    var l = lo
    if (h < 0) { l = -lo; h = if (lo == 0) -hi else ~hi }
    val bh = Pow10Hi(precision)
    h < bh || (h == bh && java.lang.Long.compareUnsigned(l, Pow10Lo(precision)) < 0)
  }

  /** The high limb of (hi, lo) + (th, tl); the low limb is `lo + tl`. */
  def addHi(hi: Long, lo: Long, th: Long, tl: Long): Long =
    hi + th + (if (java.lang.Long.compareUnsigned(lo + tl, lo) < 0) 1L else 0L)

  /** Whether the sum (nh, nl) of a high limb `hi` and a term `th` wrapped
    * 128 bits or left `decimal(precision, _)`. */
  def overflows(hi: Long, th: Long, nh: Long, nl: Long, precision: Int): Boolean =
    ((hi ^ nh) & (th ^ nh)) < 0 || !inRange(nh, nl, precision)

  /** The correctly rounded double of (hi·2^64 + lo) / 10^scale. */
  def toDouble(hi: Long, lo: Long, scale: Int): Double =
    if (hi == (lo >> 63) && lo > -Exact53 && lo < Exact53) lo.toDouble / Pow10d(scale)
    else new java.math.BigDecimal(
      BigInteger.valueOf(hi).shiftLeft(64).or(BigInteger.valueOf(lo).and(Mask64)), scale)
      .doubleValue
}

/** [[ExactSum.image]] of `child`: a double, or a `decimal(precision, 6)`
  * that Spark's cast already produced. */
case class DecimalImage(child: Expression, precision: Int, ansi: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input match {
      case d: Double => ExactSum.image(d, precision, ansi)
      case dec: Decimal => ExactSum.image(dec)
    }
    if (v == ExactSum.NullImage) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val call =
        if (child.dataType == DoubleType) s"${ExactSum.obj}.image($c, $precision, $ansi)"
        else s"${ExactSum.obj}.image($c)"
      s"""
         |${ev.value} = $call;
         |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DecimalImage =
    copy(child = newChild)
}

/** One 64-bit limb of the 128-bit term a·b, for two [[DecimalImage]]s
  * (or one and the literal 1). A [[ExactSum.Wide]] `a` (one factor only)
  * is recomputed from its source `src`, which is evaluated only then. */
case class TermLimb(high: Boolean, a: Expression, b: Expression, src: Expression,
                    precision: Int, ansi: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(a, b, src)
  override def dataType: DataType = LongType
  override def nullable: Boolean = a.nullable || b.nullable

  override def eval(input: InternalRow): Any = {
    val av = a.eval(input)
    val bv = b.eval(input)
    if (av == null || bv == null) null
    else av.asInstanceOf[Long] match {
      case ExactSum.Wide => src.eval(input) match {
        case d: Double => ExactSum.wideLimb(d, precision, ansi, high)
        case dec: Decimal => ExactSum.wideLimb(dec, high)
      }
      case x =>
        val y = bv.asInstanceOf[Long]
        if (high) Math.multiplyHigh(x, y) else x * y
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = a.genCode(ctx)
    val bg = b.genCode(ctx)
    val sg = src.genCode(ctx)
    val fast = if (high) s"Math.multiplyHigh(${ag.value}, ${bg.value})" else s"${ag.value} * ${bg.value}"
    val wide =
      if (src.dataType == DoubleType) s"wideLimb(${sg.value}, $precision, $ansi, $high)"
      else s"wideLimb(${sg.value}, $high)"
    ev.copy(code = code"""
      ${ag.code}
      ${bg.code}
      boolean ${ev.isNull} = ${ag.isNull} || ${bg.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        if (${ag.value} == java.lang.Long.MAX_VALUE) {
          ${sg.code}
          ${ev.value} = ${ExactSum.obj}.$wide;
        } else {
          ${ev.value} = $fast;
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TermLimb =
    copy(a = newChildren(0), b = newChildren(1), src = newChildren(2))
}

/** The high limb of the 128-bit sum (hi, lo) + (th, tl), null when the
  * sum leaves `decimal(precision, _)` or `hi` is null (an earlier
  * overflow). A null term leaves `hi` as it is when `skipNullTerm` (a
  * row to skip), and is an overflow otherwise (a merged buffer). The
  * low limb is the wrapping `lo + tl`. */
case class CarryAdd(hi: Expression, lo: Expression, th: Expression, tl: Expression,
                    precision: Int, skipNullTerm: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(hi, lo, th, tl)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input)
    val a = th.eval(input)
    val b = tl.eval(input)
    if (h == null) null
    else if (a == null || b == null) { if (skipNullTerm) h else null }
    else {
      val (hv, lv) = (h.asInstanceOf[Long], lo.eval(input).asInstanceOf[Long])
      val (av, bv) = (a.asInstanceOf[Long], b.asInstanceOf[Long])
      val nh = ExactSum.addHi(hv, lv, av, bv)
      if (ExactSum.overflows(hv, av, nh, lv + bv, precision)) null else nh
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(h, l, a, b) = children.map(_.genCode(ctx))
    val f = ExactSum.obj
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${a.code}
      ${b.code}
      boolean ${ev.isNull} = ${h.isNull};
      long ${ev.value} = ${h.value};
      if (!${ev.isNull}) {
        if (${a.isNull} || ${b.isNull}) {
          ${ev.isNull} = ${!skipNullTerm};
        } else {
          ${ev.value} = $f.addHi(${h.value}, ${l.value}, ${a.value}, ${b.value});
          ${ev.isNull} = $f.overflows(
            ${h.value}, ${a.value}, ${ev.value}, ${l.value} + ${b.value}, $precision);
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CarryAdd =
    copy(hi = newChildren(0), lo = newChildren(1), th = newChildren(2), tl = newChildren(3))
}

/** [[ExactSum.toDouble]] of a buffer; a null high limb (overflow) is
  * null, or Spark's sum-overflow error under ANSI. */
case class FixedToDouble(hi: Expression, lo: Expression, scale: Int, ansi: Boolean)
    extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = !ansi

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input)
    if (h != null) ExactSum.toDouble(h.asInstanceOf[Long], lo.eval(input).asInstanceOf[Long], scale)
    else if (ansi) throw ErrorBridge.sumOverflow()
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hg = hi.genCode(ctx)
    val lg = lo.genCode(ctx)
    val overflow =
      if (ansi) "throw org.apache.spark.sql.graftbridge.ErrorBridge.sumOverflow();"
      else s"${ev.isNull} = true;"
    ev.copy(code = code"""
      ${hg.code}
      ${lg.code}
      boolean ${ev.isNull} = false;
      double ${ev.value} = 0.0;
      if (${hg.isNull}) {
        $overflow
      } else {
        ${ev.value} = ${ExactSum.obj}.toDouble(${hg.value}, ${lg.value}, $scale);
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FixedToDouble =
    copy(hi = newLeft, lo = newRight)
}
