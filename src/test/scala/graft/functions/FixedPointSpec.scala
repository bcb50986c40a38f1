package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec

/** [[RoundHalfUpLong]] against Spark's own `round(y).cast("long")`: the
  * same value, or the same error condition and message, for every input,
  * under ANSI on and off, on the interpreted and the generated path. */
class FixedPointSpec extends SparkSpec {

  private val in = BoundReference(0, DoubleType, nullable = true)

  private def builtin(ansi: Boolean): Expression =
    Cast(Round(in, Literal(0)), LongType, Some("UTC"),
      if (ansi) EvalMode.ANSI else EvalMode.LEGACY)

  /** `Right(value)` or `Left(condition: message)`. */
  private type Outcome = Either[String, Long]

  private def outcome(f: => Any): Outcome =
    try Right(f.asInstanceOf[Long])
    catch { case t: Throwable with SparkThrowable => Left(s"${t.getCondition}: ${t.getMessage}") }

  private def interpreted(e: Expression): Double => Outcome =
    y => outcome(e.eval(InternalRow(y)))

  private def generated(e: Expression): Double => Outcome = {
    val proj = GenerateUnsafeProjection.generate(Seq(e), false)
    y => outcome(proj(InternalRow(y)).getLong(0))
  }

  private val edges: Seq[Double] = {
    val twoP52 = math.pow(2, 52)
    val signed = Seq(0.5, 2.5, 1e15 + 0.5, 0.49999999999999994,
      twoP52 - 0.5, twoP52 + 0.5, twoP52 - 1.5, twoP52 + 1.0,
      math.pow(2, 53), math.pow(2, 63), Long.MaxValue.toDouble,
      java.lang.Math.nextDown(math.pow(2, 63)), java.lang.Math.nextUp(math.pow(2, 63)),
      1.5, 3.5, 1e18, 1e19, Double.MaxValue,
      Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 2,
      java.lang.Double.MIN_NORMAL, Double.PositiveInfinity)
    signed.flatMap(v => Seq(v, -v)) ++ Seq(Double.NaN, 0.0, -0.0)
  }

  /** Seeded doubles across magnitudes 10^0..10^18, with a share placed on
    * or one ulp beside an exact `X.5` tie. */
  private def seeded(n: Int): Seq[Double] = {
    val rng = new scala.util.Random(20261019L)
    Seq.fill(n) {
      val mag = math.pow(10, rng.nextInt(19))
      val base = rng.nextDouble() * mag
      val v = rng.nextInt(4) match {
        case 0 => math.floor(base) + 0.5
        case 1 => java.lang.Math.nextUp(math.floor(base) + 0.5)
        case 2 => java.lang.Math.nextDown(math.floor(base) + 0.5)
        case _ => base
      }
      if (rng.nextBoolean()) -v else v
    }
  }

  test("round_half_up_long == round(y).cast(long): value or error, ANSI on/off, interpreted and codegen") {
    val inputs = edges ++ seeded(220000)
    for (ansi <- Seq(true, false)) {
      val ours = RoundHalfUpLong(in, ansiEnabled = ansi)
      val paths = Seq(
        "interpreted" -> (interpreted(ours), interpreted(builtin(ansi))),
        "codegen" -> (generated(ours), generated(builtin(ansi))))
      for ((path, (got, want)) <- paths) {
        var errors = 0
        inputs.foreach { y =>
          val w = want(y)
          if (w.isLeft) errors += 1
          assert(got(y) == w, s"ansi=$ansi $path y=$y (${java.lang.Double.doubleToRawLongBits(y)})")
        }
        // NaN and ±Inf always fail under ANSI, and ±2^63 / ±1e19 /
        // ±MaxValue overflow; with ANSI off nothing fails.
        if (ansi) assert(errors >= 3, s"$path: expected CAST_OVERFLOW cases")
        else assert(errors == 0)
      }
    }
  }

  test("exact ties round half away from zero") {
    val r = (y: Double) => RoundHalfUpLong.round(y, ansiEnabled = true)
    assert(Seq(0.5, -0.5, 2.5, -2.5, 1e15 + 0.5, -(1e15 + 0.5)).map(r) ==
      Seq(1L, -1L, 3L, -3L, 1000000000000001L, -1000000000000001L))
    assert(r(0.49999999999999994) == 0L && r(-0.49999999999999994) == 0L)
    assert(r(-0.0) == 0L)
  }

  test("units through the Column API: same as the built-in form, ANSI captured when built") {
    val df = spark.range(1).select(
      explode(array(Seq(1.005, 2.675, -0.125, 0.0, 12345.678901, -99.995).map(lit): _*)).as("x"),
      lit(null).cast("double").as("n"))
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      for (ansi <- Seq("true", "false"); scale <- Seq(0, 2, 4, 6)) {
        spark.conf.set(key, ansi)
        val got = df.select(FixedPoint.units(col("x"), scale)).collect().map(_.getLong(0))
        val want = df.select(round(col("x") * math.pow(10, scale).toLong).cast("long"))
          .collect().map(_.getLong(0))
        assert(got.toSeq == want.toSeq, s"ansi=$ansi scale=$scale")
        assert(df.select(FixedPoint.units(col("n"), scale)).head().isNullAt(0))
      }
      spark.conf.set(key, "true")
      val strict = FixedPoint.units(lit(Double.NaN), 0)
      spark.conf.set(key, "false")
      val lenient = FixedPoint.units(lit(Double.NaN), 0)
      // evaluated with ANSI off: the strict column still raises
      val err = intercept[Exception](spark.range(1).select(strict).collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).exists {
        case s: SparkThrowable => s.getCondition == "CAST_OVERFLOW"
        case _ => false
      }, err.toString)
      spark.conf.set(key, "true")
      assert(spark.range(1).select(lenient).head().getLong(0) == 0L)
    } finally spark.conf.set(key, before)
  }
}
