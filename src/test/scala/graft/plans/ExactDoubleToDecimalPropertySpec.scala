package graft.plans

import graft.SparkTestBase
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Differential property: [[ExactDoubleToDecimal]] answers exactly what
  * Spark's `Cast(double AS DECIMAL(p, s))` answers — the same unscaled value
  * at the same scale, the same NULL, or an error of the same condition with
  * the same message — under ANSI and legacy evaluation, interpreted and
  * generated, for random doubles, random `k / 10^s` values and the edge
  * cases of the fast path's checks. */
object ExactDoubleToDecimalPropertySpec extends Properties("ExactDoubleToDecimal") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(500)

  // Spark sizes its JVM-wide codegen cache when code is first generated, from
  // the session conf then active: start the tuned test session before that,
  // or every later suite in this JVM runs with Spark's default cache size
  SparkTestBase.spark

  private val types = Seq(DecimalType(18, 2), DecimalType(28, 4), DecimalType(5, 2),
    DecimalType(38, 10))
  private val modes = Seq(EvalMode.ANSI, EvalMode.LEGACY)

  private def edges(t: DecimalType): Seq[Double] = {
    val (p, s) = (t.precision, t.scale)
    val top = math.pow(10, p - s)     // first value past the precision
    val fast = 1e15 / math.pow(10, s) // first value past the fast path
    val ulp = math.pow(10, -s)
    Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1.005, -1.005, 0.125, -0.125, 0.5 * ulp, 1.5 * ulp, 2.675, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, top, -top, top - ulp, -(top - ulp), top - ulp / 2,
      fast, -fast, fast - ulp, -(fast - ulp), fast + ulp, math.nextDown(fast), math.nextUp(fast))
  }

  private def genValue(t: DecimalType): Gen[Double] = {
    val pow = math.pow(10, t.scale)
    Gen.frequency(
      3 -> Gen.choose(-1e16, 1e16).map(k => math.rint(k) / pow),          // k / 10^s
      2 -> Gen.choose(-100000L, 100000L).map(k => k / pow),               // small money values
      2 -> Gen.choose(-1e6, 1e6),                                         // arbitrary fractions
      1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
      1 -> Gen.oneOf(edges(t)))
  }

  /** The answer of `e` on `v`: the decimal as (unscaled value, scale), NULL,
    * or the error's condition and message. */
  private def interpreted(e: Expression, v: Double): Any =
    outcome(e.eval(InternalRow(v)))

  private def generated(e: Expression, t: DecimalType, v: Double): Any =
    outcome {
      val row = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow(v))
      if (row.isNullAt(0)) null else row.getDecimal(0, t.precision, t.scale)
    }

  private def outcome(f: => Any): Any =
    try f match {
      case null => "NULL"
      case d: org.apache.spark.sql.types.Decimal => (d.toJavaBigDecimal.unscaledValue, d.scale)
      case other => other
    } catch {
      case e: SparkThrowable => ("error", e.getCondition, e.asInstanceOf[Throwable].getMessage)
    }

  for (t <- types; mode <- modes)
    property(s"equals Spark's cast to $t under $mode") = {
      val in = BoundReference(0, DoubleType, nullable = false)
      val (fast, spark) = (ExactDoubleToDecimal(in, t, mode), Cast(in, t, None, mode))
      Prop.forAll(genValue(t)) { v =>
        val want = interpreted(spark, v)
        val got = Seq(interpreted(fast, v), generated(fast, t, v), generated(spark, t, v))
        Prop(got.forall(_ == want)) :| s"v=$v (${java.lang.Double.toString(v)}): want $want, got $got"
      } && Prop.all(edges(t).map { v =>
        Prop(interpreted(fast, v) == interpreted(spark, v) &&
          generated(fast, t, v) == interpreted(spark, v)) :| s"edge v=$v"
      }: _*)
    }
}
