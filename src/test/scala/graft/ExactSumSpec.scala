package graft

import graft.functions.ExactSum
import graft.operators.Exact
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EvalMode, Expression, JoinedRow, Multiply, NumericEvalContext, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** [[ExactSum]] (behind [[Exact.dsum]] and `Profile.stats2`) against the
  * decimal SQL it replaces: `sum(cast(x AS decimal(p,6)))` and the sum
  * of products of such casts, compared bit for bit (or error condition
  * for error condition) under both `spark.sql.ansi.enabled` values. */
class ExactSumSpec extends SparkSpec {

  private def check(name: String, prop: Prop, n: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20261018L)).withWorkers(1), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** Runs `body` with `spark.sql.ansi.enabled` = `ansi`. Under ANSI many
    * cases fail their job on purpose, so the task-failure loggers are
    * silenced meanwhile: their stack traces would fill the suite's log. */
  private def withAnsi[A](ansi: Boolean)(body: => A): A =
    QuietLogs("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.storage.DiskBlockObjectWriter") {
      withConfs("spark.sql.ansi.enabled" -> ansi.toString)(body)
    }

  // -- values: the cases a 6-dp half-up cast can get wrong ---------------
  private val sign = Gen.oneOf(1.0, -1.0)
  /** decimal strings ending in 5 at the 7th place: half-up ties for the
    * cast, which rounds the string, not the binary value */
  private val decimalTie = Gen.choose(-100000000L, 100000000L)
    .map(k => BigDecimal(10 * k + 5, 7).toDouble)
  /** binary values exactly on a 7th-place tie (odd multiples of 2^-7) */
  private val binaryTie = Gen.choose(-(1 << 20), 1 << 20).map(m => (2 * m + 1) / 128.0)
  private val money = for {
    u <- Gen.choose(-1000000000000L, 1000000000000L); s <- Gen.choose(0, 9)
  } yield BigDecimal(u, s).toDouble
  private val logUniform = for { s <- sign; e <- Gen.choose(-12.0, 21.99) } yield s * math.pow(10, e)
  private val nearOneE22 = for { s <- sign; f <- Gen.choose(0.9, 1.0) } yield s * f * 1e22
  private val specials = Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, 2.5e-7, 5e-7, -5e-7, 1.5e-6, 0.0078125, 4.5e12, 9.3e12,
    9.999999999999999e21, 1e21, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private val value: Gen[Double] = Gen.frequency(
    4 -> decimalTie, 3 -> binaryTie, 4 -> money, 3 -> logUniform,
    1 -> nearOneE22, 2 -> specials, 2 -> Gen.choose(-1e6, 1e6))
  /** mostly inside decimal(12,6), with some of the specials */
  private val value12: Gen[Double] = Gen.frequency(
    4 -> decimalTie, 3 -> binaryTie, 3 -> money.map(_ / 1e6), 1 -> specials)

  test("image: the fast path equals Spark's Decimal path on single values") {
    def spark6(d: Double, precision: Int): Option[BigInt] = {
      val dec = try Decimal(d) catch { case _: NumberFormatException => return None }
      if (dec.changePrecision(precision, 6)) Some(BigInt(dec.toJavaBigDecimal.unscaledValue))
      else None
    }
    for (precision <- Seq(12, 28))
      check(s"image p=$precision", Prop.forAll(value) { d =>
        val v = ExactSum.image(d, precision, ansi = false)
        val got =
          if (v == ExactSum.NullImage) None
          else if (v == ExactSum.Wide)
            Some(BigInt(ExactSum.wideLimb(d, precision, false, high = true)) * (BigInt(1) << 64) +
              (BigInt(ExactSum.wideLimb(d, precision, false, high = false)) & ((BigInt(1) << 64) - 1)))
          else Some(BigInt(v))
        got == spark6(d, precision)
      }, 200000)
  }

  // -- one query per side; an error compares by its condition ------------
  private def outcome(df: => DataFrame): Either[String, Seq[(Any, Option[Long])]] =
    try Right(df.collect().toSeq.map(r => r.get(0) ->
      Option(r.get(1)).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))
      .sortBy(_.toString))
    catch { case t: Throwable =>
      Left(Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq.lastOption.getOrElse(t.getClass.getName))
    }

  private val rowsGen: Gen[List[(Int, Option[Double], Option[Double])]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, for {
      g <- Gen.choose(0, 3)
      x <- Gen.frequency(6 -> value.map(Some(_)), 1 -> Gen.const(None))
      y <- Gen.frequency(6 -> value12.map(Some(_)), 1 -> Gen.const(None))
    } yield (g, x, y)))

  private def frame(rows: List[(Int, Option[Double], Option[Double])]): DataFrame = {
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("x", DoubleType), StructField("y", DoubleType)))
    // three partitions: every group pays a partial and a final merge
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (g, x, y) => Row(g, x.orNull, y.orNull) }, 3), schema)
  }

  private def agree(rows: List[(Int, Option[Double], Option[Double])],
                    ours: Column, ref: Column): Boolean = {
    val df = frame(rows)
    val a = outcome(df.groupBy("g").agg(ours))
    val b = outcome(df.groupBy("g").agg(ref))
    if (a != b) println(s"exact_sum mismatch on $rows:\n  ours $a\n  ref  $b")
    a == b
  }

  for (ansi <- Seq(false, true))
    test(s"Exact.dsum ≡ sum(cast(x AS decimal(28,6))) as double (ansi=$ansi)") {
      withAnsi(ansi) {
        check("dsum", Prop.forAllNoShrink(rowsGen) { rows =>
          agree(rows, Exact.dsum(col("x")),
            sum(col("x").cast(DecimalType(28, 6))).cast("double"))
        }, 40)
        // the whole-input (no grouping key) aggregate and a running window
        val df = frame(List((0, Some(0.0078125), None), (1, Some(-5e-7), None),
          (2, Some(1e21), None), (3, None, None), (0, Some(4.35), None),
          (0, Some(-2.5e-7), None)))
        val ref = sum(col("x").cast(DecimalType(28, 6)))
        assert(outcome(df.agg(lit(0), Exact.dsum(col("x")))) ===
          outcome(df.agg(lit(0), ref.cast("double"))))
        val w = Window.partitionBy("g").orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        val key = concat_ws(",", col("g"), col("x"))
        assert(outcome(df.select(key, Exact.dsum(col("x")).over(w))) ===
          outcome(df.select(key, ref.over(w).cast("double"))))
      }
    }

  for (ansi <- Seq(false, true))
    test(s"stats2 sums ≡ the decimal(12,6) recipe, products included (ansi=$ansi)") {
      val dec = DecimalType(12, 6)
      withAnsi(ansi) {
        // x takes the wide value mix, so |x − 25| ≥ 10^6 (out of
        // decimal(12,6)) is common enough to exercise the null/throw arm
        check("stats2", Prop.forAllNoShrink(rowsGen) { rows =>
          val (x, y) = (col("x") - 25.0, col("y"))
          def ours(fs: Column*) = ExactSum.column(fs, precision = 12)
          agree(rows, ours(y), sum(y.cast(dec)).cast("double")) &&
            agree(rows, ours(y, y), sum(y.cast(dec) * y.cast(dec)).cast("double")) &&
            agree(rows, ours(x, y), sum(x.cast(dec) * y.cast(dec)).cast("double"))
        }, 20)
      }
    }

  // -- overflow: seed buffers near the bound, drive Spark's own Sum and
  //    ExactSum through the same update/merge/evaluate projections -------
  test("buffers past decimal(38,6) / decimal(35,12) overflow exactly as Spark's sum") {
    val x = AttributeReference("x", DoubleType)()
    val y = AttributeReference("y", DoubleType)()
    def drive(agg: DeclarativeAggregate, start: InternalRow, rows: Seq[(Double, Double)],
              merge: Option[InternalRow]): Either[String, Option[Double]] = try {
      val upd = UnsafeProjection.create(agg.updateExpressions, agg.aggBufferAttributes ++ Seq(x, y))
      var buf: InternalRow = UnsafeProjection.create(agg.aggBufferAttributes,
        agg.aggBufferAttributes)(start).copy()
      rows.foreach { case (a, b) => buf = upd(new JoinedRow(buf, InternalRow(a, b))).copy() }
      merge.foreach { other =>
        val m = UnsafeProjection.create(agg.mergeExpressions,
          agg.aggBufferAttributes ++ agg.inputAggBufferAttributes)
        val o = UnsafeProjection.create(agg.aggBufferAttributes, agg.aggBufferAttributes)(other)
        buf = m(new JoinedRow(buf, o)).copy()
      }
      val ev = UnsafeProjection.create(Seq(Cast(agg.evaluateExpression, DoubleType)),
        agg.aggBufferAttributes)(buf)
      Right(if (ev.isNullAt(0)) None else Some(ev.getDouble(0)))
    } catch { case t: ArithmeticException with SparkThrowable => Left(t.getCondition) }

    def limbs(u: BigInt): (Long, Long) = ((u >> 64).toLong, u.toLong)
    case class Shape(factors: Seq[Expression], precision: Int, refChild: Expression,
                     refScale: Int, bound: BigInt)
    def shapes(mode: EvalMode.Value) = {
      def c(e: Expression, p: Int) = Cast(e, DecimalType(p, 6), None, mode)
      Seq(
        Shape(Seq(x), 28, c(x, 28), 6, BigInt(10).pow(38)),
        Shape(Seq(x, y), 12, Multiply(c(x, 12), c(y, 12), NumericEvalContext(mode)), 12,
          BigInt(10).pow(35)))
    }
    for (ansi <- Seq(false, true); s <- shapes(if (ansi) EvalMode.ANSI else EvalMode.LEGACY)) {
      val ours = ExactSum(s.factors, s.precision, ansi)
      val ref = Sum(s.refChild, NumericEvalContext(if (ansi) EvalMode.ANSI else EvalMode.LEGACY))
      def oursBuf(u: BigInt) = { val (h, l) = limbs(u); InternalRow(h, l, false) }
      def refBuf(u: BigInt) = InternalRow(Decimal(BigDecimal(u, s.refScale)), false)
      val big = if (s.factors.size == 1) (9.99e20, 1.0) else (999999.999999, 999999.999999)
      val unit = if (s.factors.size == 1) BigInt(999) * BigInt(10).pow(24)
        else BigInt("999999999998000000000001")
      val near = s.bound - unit * 4 - 1
      val cases = Seq(
        (near, Seq.fill(4)(big), None),                                   // just fits
        (near + 1, Seq.fill(4)(big), None),                               // lands on the bound
        (-near - 1, Seq.fill(4)((-big._1, big._2)), None),                // ... and its negative
        (near, Seq.fill(5)(big), None),                                   // overflows
        (near, Seq.fill(5)(big) ++ Seq.fill(5)((-big._1, big._2)), None), // stays null
        (-near, Seq.fill(5)((-big._1, big._2)), None),                    // negative side
        (s.bound - 1, Nil, Some(-(s.bound - 1))),                         // merge to 0
        (s.bound / 2, Nil, Some(s.bound / 2)),                            // merge lands on it
        (s.bound / 2 + 1, Nil, Some(s.bound / 2 + 1)),                    // merge overflows
        (s.bound - 1, Nil, Some(s.bound - 1)))                            // 2·bound: wraps 128 bits at p=38
      for ((start, rows, merge) <- cases) {
        val got = drive(ours, oursBuf(start), rows, merge.map(oursBuf))
        val want = drive(ref, refBuf(start), rows, merge.map(refBuf))
        assert(got === want, s"ansi=$ansi p=${s.precision} start=$start rows=${rows.size} merge=$merge")
      }
    }
  }
}
