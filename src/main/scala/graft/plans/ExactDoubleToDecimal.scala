package graft.plans

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

/** `CAST(double AS DECIMAL(p, s))` without the per-value string round trip.
  *
  * Spark's cast formats every double with `Double.toString`, parses the text
  * into a `java.math.BigDecimal` and rounds it HALF_UP to `s` places. This
  * expression first tries `k = rint(v · 10^s)`: when `|k| < min(10^p, 10^15)`
  * and `k / 10^s == v`, the answer is the unscaled long `k`. Otherwise it
  * evaluates Spark's own cast on the same value, so the value, the NULL and
  * the ANSI error are Spark's.
  *
  * Why the fast answer is exact: `k / 10^s == v` (one correctly rounded
  * division) means `v` is the double nearest to the real `k·10^-s`.
  * `Double.toString(v)` reads back as `v`, so it too lies within half an ulp
  * of `v`, and the two are less than one ulp apart. Below `10^15·10^-s` an
  * ulp is under `0.23·10^-s`, so rounding the string HALF_UP to `s` places
  * lands on `k`. A tie (1.005 at scale 2, whose double is below 1.005) never
  * passes the check and takes Spark's path. `|k| < 10^p` is exactly the
  * precision check Spark applies before it overflows. `10^s` is an exact
  * double for the scales the rule rewrites (0 to 18).
  *
  * Installed by [[ExactDoubleToDecimalRule]]; it has no SQL name. */
case class ExactDoubleToDecimal(child: Expression, dataType: DecimalType, evalMode: EvalMode.Value)
    extends UnaryExpression {

  private val (precision, scale) = (dataType.precision, dataType.scale)
  private val pow10 = JBigDecimal.TEN.pow(scale).doubleValue
  private val bound = math.min(JBigDecimal.TEN.pow(precision).doubleValue, 1e15)

  /** Spark's cast over one bound double, built under this expression's origin
    * so an ANSI error names the same query fragment the replaced cast did. */
  @transient private lazy val sparkCast: Cast = CurrentOrigin.withOrigin(origin) {
    Cast(BoundReference(0, DoubleType, nullable = false), dataType, None, evalMode)
  }

  override def nullable: Boolean = Cast(child, dataType, None, evalMode).nullable
  override def prettyName: String = "graft_exact_dec"

  /** Spark's answer for `v`: a Decimal, or null, or the cast's ANSI error. */
  def viaSpark(v: Double): Decimal = sparkCast.eval(InternalRow(v)).asInstanceOf[Decimal]

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    val k = Math.rint(v * pow10)
    if (Math.abs(k) < bound && k / pow10 == v) Decimal.createUnsafe(k.toLong, precision, scale)
    else viaSpark(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("exactDec", this)
    nullSafeCodeGen(ctx, ev, v => {
      val k = ctx.freshName("k")
      val nullOnFallback = if (nullable) s"${ev.isNull} = ${ev.value} == null;" else ""
      s"""
         |final double $k = Math.rint($v * ${pow10}D);
         |if (Math.abs($k) < ${bound}D && $k / ${pow10}D == $v) {
         |  ${ev.value} = Decimal.createUnsafe((long) $k, $precision, $scale);
         |} else {
         |  ${ev.value} = $self.viaSpark($v);
         |  $nullOnFallback
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ExactDoubleToDecimal =
    copy(child = newChild)
}

/** Rewrites every resolved, non-constant `Cast` from double to a decimal of
  * scale 0–18 into [[ExactDoubleToDecimal]]. Runs in the optimizer, so
  * analysis, output names and every post-hoc rule still see the plain cast;
  * constant casts are left for constant folding. */
class ExactDoubleToDecimalRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c @ Cast(child, dt: DecimalType, _, mode)
          if c.resolved && child.dataType == DoubleType && !child.foldable &&
            dt.scale >= 0 && dt.scale <= 18 =>
        ExactDoubleToDecimal(child, dt, mode)
    }
}
