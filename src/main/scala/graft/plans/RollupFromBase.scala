package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Rewrites grouping-sets aggregates (ROLLUP / CUBE / GROUPING SETS) over
  * ASSOCIATIVE aggregate functions into a finest-level aggregation followed
  * by re-aggregation of its (small) output. The tpcds q5, q67 and q80
  * bodies state plain `.rollup(...)` aggregates over their detail rows and
  * get this plan from the rule, as user SQL does; r14 measured the same
  * shape written by hand at SF100 (q67 79.1 → 16.3 s, q5 48.3 → 33.0 s).
  *
  * Spark plans GROUP BY ROLLUP(a, b) as
  *
  * {{{  Aggregate([a', b', gid], aggs, Expand(N projections, base))  }}}
  *
  * i.e. every input row is replicated once per grouping set BELOW the
  * partial aggregate — the aggregate hashes N× the input (1.8B rows for
  * q67's 3-set rollup at SF100). When every aggregate re-merges exactly —
  * SUM over decimal/integral (exact, order-free), COUNT (re-sums), MIN/MAX
  * (re-fold) — the identity Σ_set(rows) = Σ_set(Σ_finest(rows)) moves the
  * Expand ABOVE a finest-level aggregate:
  *
  * {{{  Aggregate([a', b', gid], merged, Expand(N, Aggregate([a, b], partials, base)))  }}}
  *
  * One full-width aggregation instead of N; the replication factor now
  * applies to |finest groups| rows instead of |input| rows. Refused (plan
  * left untouched) for: DISTINCT aggregates, AVG (single result-scale
  * rounding inside Average is not re-mergeable — same policy as
  * [[EagerAggregation]]), float/double SUM (re-association perturbs the
  * last ulp), and any non-Sum/Count/Min/Max function. FILTER (WHERE ...)
  * clauses ride the partial and drop from the merge.
  *
  * Cost shape: typical rollups group far below the input cardinality, where
  * this wins ~N×; in the degenerate case |finest| ≈ |input| it costs one
  * extra input-sized exchange — `spark.graft.rollupFromBase=false` opts out.
  * Reference analog: hyrise evaluates each grouping set as its own
  * aggregate over the base (no Expand at all); re-aggregating the finest
  * level is the Spark-shaped improvement on both.
  *
  * Correctness net: the agg_rollup / agg_cube / agg_grouping_sets /
  * tpcds_q5/q67/q80/q14/q36 oracle gates all pass through this rule, and
  * RollupFromBaseSpec pins plan shape (the q5/q67/q80 bodies included),
  * grouping()/grouping_id() outputs, empty-input behavior and each
  * refusal. */
class RollupFromBase(spark: SparkSession) extends Rule[LogicalPlan] {

  private val GroupingIdName = "spark_grouping_id"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (spark.sessionState.conf
          .getConfString("spark.graft.rollupFromBase", "true") != "true") plan
    else plan.transformUp { case a: Aggregate => tryRewrite(a).getOrElse(a) }

  private def associative(ae: AggregateExpression, base: LogicalPlan): Boolean =
    !ae.isDistinct && ae.references.subsetOf(base.outputSet) &&
      (ae.aggregateFunction match {
        case s: Sum => s.child.dataType != DoubleType && s.child.dataType != FloatType
        case _: Count | _: Min | _: Max => true
        case _ => false
      })

  private def tryRewrite(a: Aggregate): Option[LogicalPlan] = a.child match {
    case Expand(projections, output, base)
        if output.nonEmpty && output.last.name == GroupingIdName &&
          projections.size >= 2 =>
      // grouping-analytics layout (ResolveGroupingAnalytics.constructExpand):
      //   base   = Project(origOut ++ groupingAliases)
      //   output = origOut ++ freshGroupingAttrs :+ gid
      // The passthrough length n is the longest exprId-equal prefix; the k
      // grouping source attrs are base.output's tail.
      val nBase = output.zip(base.output)
        .takeWhile { case (o, b) => o.exprId == b.exprId }.size
      val groupCols = output.slice(nBase, output.size - 1)
      val gidAttr = output.last
      val srcAttrs = base.output.drop(nBase)
      // the canonical grouping-analytics shape, nothing else: projections
      // pass the base columns through untouched, substitute each grouping
      // position with its source column or NULL, and end in the set's gid
      val shapeOk =
        output.size == nBase + groupCols.size + 1 &&
          base.output.size == nBase + groupCols.size &&
          projections.forall { p =>
            p.size == output.size &&
              p.take(nBase).zip(base.output).forall {
                case (x: Attribute, o) => x.exprId == o.exprId
                case _ => false
              } &&
              p.slice(nBase, p.size - 1).forall {
                case x: Attribute => srcAttrs.exists(_.exprId == x.exprId)
                case l: Literal => l.value == null
                case _ => false
              } && p.last.isInstanceOf[Literal]
          } &&
          a.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
          AttributeSet(a.groupingExpressions.map(_.asInstanceOf[Attribute])) ==
            AttributeSet(groupCols :+ gidAttr) &&
          a.aggregateExpressions.forall(_.deterministic)
      if (!shapeOk) return None
      val aggFns = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      if (aggFns.isEmpty || !aggFns.forall(associative(_, base))) return None

      // ---- finest level: one aggregation of the base at the full key, one
      // partial per distinct function (the same SUM written twice differs
      // only in its resultId, which canonicalization drops)
      val aggKeys = aggFns.map(_.canonicalized).distinct
      val partialAliases =
        aggKeys.map(k => Alias(aggFns.find(_.canonicalized == k).get, "rfb_partial")())
      val finest = Aggregate(srcAttrs, srcAttrs ++ partialAliases, base)
      val partialAttr: Map[Expression, Attribute] =
        aggKeys.zip(partialAliases.map(_.toAttribute)).toMap

      // ---- the SAME Expand, now over finest rows: per-set grouping values
      // are reused verbatim (source attr or NULL literal, plus the gid)
      val projections2 = projections.map { p =>
        p.slice(nBase, p.size) ++ partialAliases.map(_.toAttribute)
      }
      val output2 = (groupCols :+ gidAttr) ++ partialAliases.map(_.toAttribute)
      val expand2 = Expand(projections2, output2, finest)

      // ---- merge layer: each original function re-aggregates its partial
      def merged(ae: AggregateExpression): Expression = {
        val partial = partialAttr(ae.canonicalized)
        ae.aggregateFunction match {
          case s: Sum =>
            Cast(ae.copy(aggregateFunction = Sum(partial), filter = None), s.dataType)
          case _: Count =>
            Coalesce(Seq(ae.copy(aggregateFunction = Sum(partial), filter = None), Literal(0L)))
          case _: Min => ae.copy(aggregateFunction = Min(partial), filter = None)
          case _: Max => ae.copy(aggregateFunction = Max(partial), filter = None)
          case _ => ae
        }
      }
      val mergedAes = a.aggregateExpressions.map { ne =>
        // guard on map membership: the replacement itself contains a fresh
        // AggregateExpression the traversal must not re-wrap
        ne.transformDown {
          case ae: AggregateExpression if partialAttr.contains(ae.canonicalized) => merged(ae)
        }.asInstanceOf[NamedExpression]
      }
      Some(a.copy(aggregateExpressions = mergedAes, child = expand2))
    case _ => None
  }
}
