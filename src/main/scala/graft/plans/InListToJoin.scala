package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Large IN-list → broadcast semi join against a literal relation — the
  * reference's InExpressionRewriteRule (reference:
  * src/lib/optimizer/strategy/in_expression_rewrite_rule.hpp:18-42: tiny
  * lists become disjunctions, large lists become a join against a temporary
  * literal table).
  *
  * Spark-first rationale: below the threshold Spark's own pipeline is
  * already right — `OptimizeIn` turns the list into an `InSet` hash probe
  * and parquet receives at least a min/max range filter. ABOVE the
  * threshold the list is DATA, not plan: an `InSet` of 10⁵ literals is
  * serialized into every task's plan binary and inlined into codegen, while
  * a `LocalRelation` ships ONCE per executor as a broadcast hash table,
  * AQE sees its size, and the probe reuses the hash-join kernel. The
  * rewrite applies only in FILTER context, where IN's three-valued logic
  * collapses to the semi join's two-valued one (a NULL probe or a NULL
  * list element can only yield NULL = dropped, exactly what the semi join
  * does), and only to literal lists.
  *
  * Guard: an IN over a PARTITION column is left alone — the scan prunes it
  * at the file listing, which the semi join would forfeit. */
object InListToJoin extends Rule[LogicalPlan] with PredicateHelper {
  /** Below this, InSet + parquet range pushdown wins (Spark inlines sets
    * into codegen up to `spark.sql.codegen.inSetSwitchThreshold` = 400 and
    * a set probe is O(1) anyway); above it, plan-size and per-task
    * serialization grow with the list while the broadcast ships once. */
  val Threshold = 1024

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if f.resolved =>
      val conjs = splitConjunctivePredicates(cond)
      val (ins, rest) = conjs.partition(rewritable(_, child))
      if (ins.isEmpty) f
      else {
        val kept = rest.reduceOption(And).map(Filter(_, child)).getOrElse(child)
        ins.foldLeft(kept) { (p, e) =>
          val in = e.asInstanceOf[In]
          // distinct non-null build side: duplicates change nothing in a
          // semi join, and a NULL element can never satisfy a filter.
          // Elements are FOLDABLE (type coercion may have wrapped literals
          // in casts) — eval at rewrite time, as constant folding would.
          val vals = in.list.map(_.eval(null)).filter(_ != null).distinct
          val out = AttributeReference("graft_in_value", in.value.dataType, nullable = false)()
          val rel = LocalRelation(Seq(out), vals.map(v => InternalRow(v)))
          Join(p, rel, LeftSemi, Some(EqualTo(in.value, out)),
            JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
        }
      }
  }

  private def rewritable(e: Expression, child: LogicalPlan): Boolean = e match {
    case In(value, list) =>
      list.length >= Threshold && value.deterministic &&
        list.forall(_.foldable) &&
        !onPartitionColumn(value, child)
    case _ => false
  }

  /** The probe expression touches a partition column of some underlying
    * relation (name-based, conservative): refuse — listing-time pruning
    * beats any join. */
  private def onPartitionColumn(value: Expression, child: LogicalPlan): Boolean = {
    val partCols: Set[String] = child.collect {
      case lr: LogicalRelation =>
        lr.catalogTable.map(_.partitionColumnNames).getOrElse(Nil) ++
          (lr.relation match {
            case fs: HadoopFsRelation => fs.partitionSchema.fieldNames.toSeq
            case _ => Nil
          })
    }.flatten.map(_.toLowerCase).toSet
    value.references.exists(a => partCols.contains(a.name.toLowerCase))
  }
}
