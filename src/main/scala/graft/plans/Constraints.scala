package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, ExprId, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import scala.collection.concurrent.TrieMap

/** Declared key constraints, kept as optimizer metadata (the reference stores
  * them on the table and feeds dependency-based rewrites — reference:
  * src/lib/storage/constraints/table_key_constraint.hpp,
  * optimizer/strategy/dependent_group_by_reduction_rule.cpp). Constraints are
  * TRUSTED, not enforced — same contract as the reference (and as
  * warehouse-grade `RELY` constraints): they exist to license rewrites.
  * Consequence of a FALSE declaration: uniqueness-licensed rewrites can
  * change results — [[RemoveRedundantDistinct]] keeps duplicates, and
  * [[JoinToPredicateRewrite]] surfaces the violation loudly (its scalar
  * subquery throws "more than one row" where the join returned rows). */
final case class KeyConstraint(
    table: String, kind: String, cols: Seq[String],
    refTable: Option[String] = None, refCols: Seq[String] = Nil)

object ConstraintRegistry {
  private val byTable = TrieMap.empty[String, Seq[KeyConstraint]]

  def put(table: String, cs: Seq[KeyConstraint]): Unit =
    if (cs.nonEmpty) byTable.put(table.toLowerCase, cs) else byTable.remove(table.toLowerCase)
  def drop(table: String): Unit = byTable.remove(table.toLowerCase)
  def of(table: String): Seq[KeyConstraint] = byTable.getOrElse(table.toLowerCase, Nil)
  def all: Seq[KeyConstraint] = byTable.values.flatten.toSeq

  /** Unique column sets (PRIMARY KEY and UNIQUE) declared for `table`. */
  def uniqueKeys(table: String): Seq[Set[String]] =
    of(table).filter(c => c.kind == "PRIMARY KEY" || c.kind == "UNIQUE")
      .map(_.cols.map(_.toLowerCase).toSet)
}

/** The one model of declared keys that every key-reading rule shares (the
  * reference's rules all read data_dependencies/unique_column_combination.hpp
  * the same way). Only row-identity-preserving shapes are traced, and only
  * an alias that genuinely names its table ([[owner]]) contributes keys. */
object KeyTracer extends PredicateHelper {

  /** The constrained table `alias` genuinely names: its child is a View or a
    * catalog relation of that very name. An alias that merely SHADOWS a
    * constrained name (`FROM other_table AS t`, or a derived subquery
    * aliased to `t`) wraps the other source's own alias or a derived plan,
    * never this table, so it names none and stays transparent: the real
    * tables beneath still resolve their own constraints. */
  def owner(alias: SubqueryAlias): Option[String] = {
    val name = alias.identifier.name.toLowerCase
    val owns = alias.child match {
      case v: View => v.desc.identifier.table.equalsIgnoreCase(name)
      case lr: LogicalRelation => lr.catalogTable.exists(_.identifier.table.equalsIgnoreCase(name))
      case _ => false
    }
    if (owns && ConstraintRegistry.of(name).nonEmpty) Some(name) else None
  }

  /** `plan` is unique on `keys`: a declared PRIMARY KEY/UNIQUE of an owned
    * table lies within them (uniqueness on a subset implies it on the set).
    * Traced through Filter, View, SubqueryAlias, Project — where `keys`
    * narrows to the exprId pass-throughs — and Inner equi-joins with every
    * key on one side whose other side is unique on its own join keys (a
    * PK–FK join cannot duplicate the preserved side's rows). */
  def unique(plan: LogicalPlan, keys: Seq[Attribute]): Boolean = plan match {
    case a: SubqueryAlias =>
      owner(a).exists { t =>
        val names = keys.filter(a.outputSet.contains).map(_.name.toLowerCase).toSet
        ConstraintRegistry.uniqueKeys(t).exists(_.subsetOf(names))
      } || unique(a.child, keys)
    case Project(ps, child) =>
      val passed = ps.collect { case ar: AttributeReference => ar.exprId }.toSet
      val kept = keys.filter(k => passed.contains(k.exprId))
      kept.nonEmpty && unique(child, kept) // no declared key is empty
    case f: Filter => unique(f.child, keys)
    case v: View => unique(v.child, keys)
    case Join(l, r, Inner, Some(cond), _) =>
      // one side holds every key; the other must be unique on its join keys
      equiPairs(l, r, cond).exists { pairs =>
        if (keys.forall(l.outputSet.contains)) unique(l, keys) && unique(r, pairs.map(_._2))
        else keys.forall(r.outputSet.contains) && unique(r, keys) && unique(l, pairs.map(_._1))
      }
    case _ => false
  }

  /** A table instance that columns trace to; `id` keeps a self-join's two
    * sides apart (a key of one instance says nothing about the other). */
  final case class Instance(id: Int, table: String, viewOwned: Boolean)

  /** exprId → owned table instance, for the columns of `plan` that trace to
    * one through Project pass-throughs, Filter, View and any join. */
  def instances(plan: LogicalPlan): Map[ExprId, Instance] = {
    var nextId = 0
    def walk(p: LogicalPlan): Map[ExprId, Instance] = p match {
      case a: SubqueryAlias => owner(a) match {
        case Some(t) =>
          nextId += 1
          val me = Instance(nextId, t, a.child.isInstanceOf[View])
          a.output.map(_.exprId -> me).toMap
        case None => walk(a.child)
      }
      case Project(ps, child) =>
        val below = walk(child)
        ps.collect {
          case ar: AttributeReference if below.contains(ar.exprId) => ar.exprId -> below(ar.exprId)
        }.toMap
      case f: Filter => walk(f.child)
      case v: View => walk(v.child)
      case j: Join => walk(j.left) ++ walk(j.right)
      case _ => Map.empty
    }
    walk(plan)
  }

  /** Every conjunct of `cond` as a cross-side attribute equality, oriented
    * (left key, right key): Some iff ALL conjuncts are plain `=` between one
    * attribute of each side (`<=>` would match NULL keys, which a standard
    * UNIQUE constraint does not make unique). */
  def equiPairs(l: LogicalPlan, r: LogicalPlan, cond: Expression)
      : Option[Seq[(AttributeReference, AttributeReference)]] = {
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        if (l.outputSet.contains(x) && r.outputSet.contains(y)) Some((x, y))
        else if (l.outputSet.contains(y) && r.outputSet.contains(x)) Some((y, x))
        else None
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.flatten) else None
  }
}

/** Removes DISTINCT when the input is already provably unique via a declared
  * key — the UCC-driven rewrite family of the reference
  * (dependent_group_by_reduction_rule.cpp's spirit: use unique column
  * combinations to drop redundant dedup work). At scale this deletes an
  * entire hash-aggregate shuffle. Injected via [[GraftExtensions]]. */
object RemoveRedundantDistinct extends Rule[LogicalPlan] {
  import KeyTracer.unique

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Distinct(child) if unique(child, child.output) => child
    case Deduplicate(keys, child)
        if keys.map(_.name.toLowerCase).toSet == visibleNames(child)
          && unique(child, child.output) => child
    // ReplaceDistinctWithAggregate has usually run first: a pure-distinct
    // aggregate is Aggregate(out, out, child) with no aggregate functions.
    case a: Aggregate
        if a.aggregateExpressions.forall(_.isInstanceOf[AttributeReference])
          && a.groupingExpressions == a.aggregateExpressions
          && a.aggregateExpressions.map(_.name.toLowerCase).toSet == visibleNames(a.child)
          && unique(a.child, a.child.output) => a.child
  }

  private def visibleNames(plan: LogicalPlan): Set[String] =
    plan.output.map(_.name.toLowerCase).toSet
}

/** Inner joins used only as an EXISTENCE probe — no column of one side is
  * referenced above, and that side's equi-join keys form a declared unique
  * key — become semi joins (the reference's JoinToSemiJoinRule,
  * optimizer/strategy/join_to_semi_join_rule.cpp: "SELECT c_name FROM
  * customer, nation WHERE c_nationkey = n_nationkey AND n_name = 'GERMANY'").
  * Uniqueness is what licenses it: a non-unique probe side could emit a left
  * row more than once, a semi join never does. At scale the win is the hash
  * table: a semi join stores only probe keys and short-circuits on first
  * match. Only plain `=` conjuncts qualify ([[KeyTracer.equiPairs]]). */
object JoinToSemiJoin extends Rule[LogicalPlan] {
  import KeyTracer.{equiPairs, unique}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(_, j @ Join(left, right, Inner, Some(cond), _))
        if p.references.subsetOf(left.outputSet)
          && equiPairs(left, right, cond).exists(ps => unique(right, ps.map(_._2))) =>
      p.copy(child = j.copy(joinType = LeftSemi))
    case p @ Project(_, Join(left, right, Inner, Some(cond), hint))
        if p.references.subsetOf(right.outputSet)
          && equiPairs(left, right, cond).exists(ps => unique(left, ps.map(_._1))) =>
      // mirrored: probe side is the LEFT input; semi join keeps its left, so
      // swap the children (condition attributes are side-agnostic)
      p.copy(child = Join(right, left, LeftSemi, Some(cond), hint))
  }
}

/** Shrinks GROUP BY lists via declared PRIMARY KEYs (the reference's
  * DependentGroupByReductionRule,
  * optimizer/strategy/dependent_group_by_reduction_rule.cpp): when the
  * grouping columns include a full PK of some table instance, every OTHER
  * grouping column from that same instance is functionally dependent — it is
  * removed from the grouping and re-attached as FIRST over the (constant
  * within each group) values, keeping the output schema and exprIds intact.
  * At scale this narrows the shuffle rows of every wide "group by key +
  * describing columns" aggregation (the reference's motivating TPC-H q10
  * shape: GROUP BY c_custkey, c_name, c_acctbal, ...).
  *
  * PRIMARY KEY only — a UNIQUE constraint admits multiple NULL rows, whose
  * distinct dependent values a key-only grouping would incorrectly merge.
  * Outer-join null-extension is safe: an extended row nulls the whole table
  * side, so dependents stay constant within each (possibly NULL) key group.
  * Conservative bails: any non-column grouping expression; any dependent
  * column referenced inside a non-aggregate expression of the select list;
  * renames (a Project alias drops the source mapping); an alias that only
  * shadows a constrained name ([[KeyTracer.owner]]). */
object DependentGroupByReduction extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.NamedExpression
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate if a.groupingExpressions.size > 1 => reduce(a)
  }

  /** References of `e` OUTSIDE aggregate functions (an aggregate's argument
    * may freely read a dropped column — it still sees the group's rows). */
  private def refsOutsideAgg(e: Expression): Set[ExprId] = e match {
    case _: AggregateExpression => Set.empty
    case ar: AttributeReference => Set(ar.exprId)
    case other => other.children.flatMap(refsOutsideAgg).toSet
  }

  private def reduce(a: Aggregate): LogicalPlan = {
    val groupAttrs = a.groupingExpressions.collect { case ar: AttributeReference => ar }
    if (groupAttrs.size != a.groupingExpressions.size) return a // expression keys: bail
    // View-owned only: a non-decomposable FIRST on a catalog relation stops EagerAggregation (q18, q10)
    val sources = KeyTracer.instances(a.child).filter(_._2.viewOwned)
    val depIds: Set[ExprId] = groupAttrs
      .filter(g => sources.contains(g.exprId))
      .groupBy(g => sources(g.exprId))
      .flatMap { case (inst, attrs) =>
        val names = attrs.map(_.name.toLowerCase).toSet
        ConstraintRegistry.of(inst.table)
          .filter(_.kind == "PRIMARY KEY")
          .map(_.cols.map(_.toLowerCase).toSet)
          .find(pk => pk.nonEmpty && pk.subsetOf(names))
          .map(pk => attrs.filterNot(x => pk.contains(x.name.toLowerCase)).map(_.exprId))
          .getOrElse(Nil)
      }.toSet
    if (depIds.isEmpty) return a
    // a dependent column read inside a non-aggregate select expression would
    // dangle once dropped from the grouping — bail unless it is a bare
    // pass-through entry (which becomes FIRST below)
    val safe = a.aggregateExpressions.forall {
      case ar: AttributeReference => true
      case e => refsOutsideAgg(e).intersect(depIds).isEmpty
    }
    val newGroupings = a.groupingExpressions.filter {
      case ar: AttributeReference => !depIds.contains(ar.exprId)
      case _ => true
    }
    if (!safe || newGroupings.isEmpty) return a
    val newAggs: Seq[NamedExpression] = a.aggregateExpressions.map {
      case ar: AttributeReference if depIds.contains(ar.exprId) =>
        // same name AND same exprId: parents keep resolving unchanged
        Alias(First(ar, ignoreNulls = false).toAggregateExpression(), ar.name)(
          exprId = ar.exprId)
      case other => other
    }
    a.copy(groupingExpressions = newGroupings, aggregateExpressions = newAggs)
  }
}

/** Replaces a join whose prunable side is guaranteed AT MOST ONE ROW — an
  * `unique_col = literal` filter over a declared single-column unique key —
  * with a scalar-subquery equality predicate (the reference's
  * JoinToPredicateRewriteRule,
  * optimizer/strategy/join_to_predicate_rewrite_rule.cpp:192): the join
  * disappears entirely; the kept side is filtered by
  * `join_col = (SELECT other_join_col FROM prunable_side WHERE ucc = lit)`.
  *
  * Two shapes, mirroring the reference's inner+semi coverage:
  *  - a LeftSemi join with a single equi-predicate whose build side carries
  *    the singleton-guaranteeing filter internally (the shape
  *    [[JoinToSemiJoin]] produces, and DataFrame-API semi joins);
  *  - the raw SQL shape `Project(Filter(cond, Join(Inner)))` where the
  *    projection uses only the kept side and `cond`'s prunable-side
  *    conjuncts contain the unique equality — pre-pushdown, the WHERE still
  *    sits above the join at post-hoc-resolution time, so the rule splits
  *    the conjunction itself (kept-side conjuncts stay in the rewritten
  *    filter, prunable-side conjuncts move into the subquery).
  *
  * Correctness: the unique equality leaves ≤1 build row, so an inner join
  * cannot duplicate kept rows and semi/inner keep-sets coincide; an empty
  * build side makes the scalar subquery NULL and `col = NULL` keeps nothing,
  * exactly the empty-join result. Uniqueness comes from [[KeyTracer.unique]]
  * — a shadowing alias never licenses the rewrite, and only a singleton
  * declared key column (PRIMARY KEY or UNIQUE of that one column) traced
  * through row-preserving shapes qualifies, so the subquery can never raise
  * a more-than-one-row error.
  *
  * At scale the win is plan shape: no build-side exchange at all — the
  * subquery executes once during preparation and the remaining predicate is
  * a codegen'd literal comparison on the probe side instead of a per-row
  * hash probe. Injected after [[JoinToSemiJoin]] via [[GraftExtensions]]. */
object JoinToPredicateRewrite extends Rule[LogicalPlan] with PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, LeftSemi, Some(cond @ EqualTo(_: AttributeReference, _: AttributeReference)), _)
        if planDeterministic(right) =>
      KeyTracer.equiPairs(left, right, cond).map(_.head).collect {
        case (lk, rk) if singletonGuaranteed(right) =>
          Filter(EqualTo(lk, ScalarSubquery(Project(Seq(rk), right))), left)
      }.getOrElse(j)
    case p @ Project(_, Filter(cond,
        Join(left, right, Inner, Some(on @ EqualTo(_: AttributeReference, _: AttributeReference)), _)))
        if p.references.subsetOf(left.outputSet) && planDeterministic(right) =>
      rewriteInner(p, cond, left, right, on).getOrElse(p)
  }

  /** No node in the subtree evaluates a nondeterministic expression — the
    * rewrite changes how many times the build side's predicates run (once in
    * the scalar subquery vs once per materialized build row), which is only
    * sound when every expression is deterministic. Mirrors the `.deterministic`
    * guard Spark's own pushdown rules apply. */
  private def planDeterministic(p: LogicalPlan): Boolean =
    p.find(n => !n.expressions.forall(_.deterministic)).isEmpty

  private def rewriteInner(p: Project, cond: Expression, left: LogicalPlan,
      right: LogicalPlan, on: Expression): Option[LogicalPlan] = {
    val cs = splitConjunctivePredicates(cond)
    if (!cs.forall(_.deterministic)) return None // a rand()<0.5 conjunct must
    // keep filtering per joined row; moving it into a once-evaluated scalar
    // subquery (or leaving it beside the probe predicate with a different
    // evaluation count) would keep all-or-none of the fact rows instead.
    val (rightCs, restCs) = cs.partition(_.references.subsetOf(right.outputSet))
    for {
      (lk, rk) <- KeyTracer.equiPairs(left, right, on).map(_.head)
      if restCs.forall(_.references.subsetOf(left.outputSet)) // no mixed conjuncts
      filteredRight = rightCs.reduceOption(And).map(Filter(_, right)).getOrElse(right)
      if singletonGuaranteed(filteredRight)
    } yield {
      val probe = EqualTo(lk, ScalarSubquery(Project(Seq(rk), filteredRight)))
      p.copy(child = Filter((restCs :+ (probe: Expression)).reduce(And), left))
    }
  }

  /** Some filter inside `plan` (through row-preserving shapes only — a
    * union in between would invalidate the key, reference
    * join_to_predicate_rewrite_rule.cpp:108-118) pins a column that its
    * input is unique on by a single-column declared key to one literal → at
    * most one row survives. */
  private def singletonGuaranteed(plan: LogicalPlan): Boolean = plan match {
    case f: Filter =>
      splitConjunctivePredicates(f.condition).exists {
        case EqualTo(a: AttributeReference, _: Literal) => KeyTracer.unique(f.child, Seq(a))
        case EqualTo(_: Literal, a: AttributeReference) => KeyTracer.unique(f.child, Seq(a))
        case _ => false
      } || singletonGuaranteed(f.child)
    case Project(_, child) => singletonGuaranteed(child)
    case SubqueryAlias(_, child) => singletonGuaranteed(child)
    case v: View => singletonGuaranteed(v.child)
    case _ => false
  }
}
