package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expression for `round(y).cast("long")` on a double,
  * bit-identical to Spark's built-in pair for every input, under ANSI on
  * and off.
  *
  * Spark compiles the built-in `Round` on a double to
  * `BigDecimal.valueOf(y).setScale(0, HALF_UP).doubleValue()` per row: a
  * `Double.toString`, a decimal parse and a scale. For finite
  * `|y| < 2^52` this computes `sign(y) * Math.round(|y|)` instead, which
  * is the same value: every `X.5` below 2^52 is a double, and
  * `Double.toString(y)` parses back to `y`, so its decimal cannot lie on
  * the other side of an `X.5` from `y`, and half-up on the decimal equals
  * half-up on `y` itself. The rounded value is an integer below 2^52, so
  * `Cast`'s overflow check cannot fire. Everything else (`|y| >= 2^52`,
  * NaN, ±Inf) takes the built-in path: the BigDecimal round, then `Cast`'s
  * double→long rule, which raises `CAST_OVERFLOW` under ANSI and
  * saturates (NaN → 0) with ANSI off.
  *
  * `ansiEnabled` is captured from the session when the expression is
  * built, as `Cast` captures its eval mode. Not registered as a SQL
  * function: the Column API reaches it through [[FixedPoint.units]]. */
case class RoundHalfUpLong(child: Expression,
    ansiEnabled: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "round_half_up_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"round_half_up_long requires a double argument, got ${child.dataType}")

  override protected def withNewChildInternal(newChild: Expression): RoundHalfUpLong =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    RoundHalfUpLong.round(input.asInstanceOf[Double], ansiEnabled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, y => {
      val a = ctx.freshName("a")
      s"""
         |double $a = java.lang.Math.abs($y);
         |if ($a < ${RoundHalfUpLong.FastLimit}D) {
         |  ${ev.value} = $y < 0 ? -java.lang.Math.round($a) : java.lang.Math.round($a);
         |} else {
         |  ${ev.value} = graft.functions.RoundHalfUpLong$$.MODULE$$.slow($y, $ansiEnabled);
         |}
       """.stripMargin
    })
}

object RoundHalfUpLong {

  /** 2^52: below it every `X.5` is a double, so the fast path is exact. */
  val FastLimit = 4503599627370496.0

  /** Interpreted twin of the generated code. */
  def round(y: Double, ansiEnabled: Boolean): Long = {
    val a = math.abs(y)
    if (a < FastLimit) { val r = math.round(a); if (y < 0) -r else r }
    else slow(y, ansiEnabled)
  }

  /** The built-in path: `Round`'s BigDecimal half-up (NaN and ±Inf pass
    * through), then `Cast`'s double→long overflow rule. */
  def slow(y: Double, ansiEnabled: Boolean): Long = {
    val r = if (y.isNaN || y.isInfinite) y
      else java.math.BigDecimal.valueOf(y).setScale(0, RoundingMode.HALF_UP).doubleValue()
    if (!ansiEnabled ||
        (math.floor(r) <= Long.MaxValue.toDouble && math.ceil(r) >= Long.MinValue.toDouble)) r.toLong
    else throw GraftColumnBridge.castOverflow(r, DoubleType, LongType)
  }
}

/** Fixed-point units: the engine's convention for exact money and score
  * sums. A double amount becomes a `long` count of `10^-scale` units,
  * rounded half away from zero, and sums run over those longs, which are
  * associative, so any partial-aggregation order gives one result. */
object FixedPoint {

  /** `round(x * 10^scale).cast("long")`: the product is the same double
    * Multiply (the `Long` literal `10^scale` coerced to double) as the
    * built-in form, rounded by [[RoundHalfUpLong]]. `scale` 0 rounds `x`
    * itself. */
  def units(x: Column, scale: Int): Column = {
    val y = if (scale == 0) x else x * math.pow(10, scale).toLong
    GraftColumnBridge.column(RoundHalfUpLong(GraftColumnBridge.expression(y)))
  }
}
