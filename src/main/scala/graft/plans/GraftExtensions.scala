package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst extension point for graft's native expressions — the Spark-idiomatic
  * counterpart of the reference registering operators with its LQP translator
  * (reference: src/lib/logical_query_plan/lqp_translator.cpp). Installed via the
  * public `spark.sql.extensions` conf (see [[graft.GraftSession]]), so the
  * functions are available to `spark.sql(...)` text and to
  * `functions.call_function` alike, and participate in whole-stage codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Post-hoc resolution (not optimizer): the rewrite needs SubqueryAlias
    // nodes to map plans back to constrained catalog tables, and the
    // optimizer's Finish-Analysis batch strips those before custom optimizer
    // rules run.
    ext.injectPostHocResolutionRule(_ => RemoveRedundantDistinct)
    ext.injectPostHocResolutionRule(_ => JoinToSemiJoin)
    ext.injectPostHocResolutionRule(_ => DependentGroupByReduction)
    // after JoinToSemiJoin: it canonicalizes the prunable inner join into the
    // LeftSemi shape this rule's first case consumes
    ext.injectPostHocResolutionRule(_ => JoinToPredicateRewrite)
    // after the key-driven rewrites: a shrunk grouping list gives the eager
    // pre-aggregate fewer keys, and the stats gate sees the final shape
    ext.injectPostHocResolutionRule(session => new EagerAggregation(session))
    // grouping-sets Expand elimination over associative aggregates (the
    // packaged q67/q5 rewrite); independent of the join-shaped rules above
    ext.injectPostHocResolutionRule(session => new RollupFromBase(session))
    // last: turns >=1024-element literal IN lists into broadcast semi joins;
    // running after the others keeps their Filter pattern-matches intact
    ext.injectPostHocResolutionRule(_ => InListToJoin)
    // optimizer, not post-hoc: analysis and the rules above keep seeing the
    // plain Cast, only execution gets the exact fast kernel
    ext.injectOptimizerRule(_ => new ExactDoubleToDecimalRule)
    // AQE query-stage preparation: runs after EnsureRequirements has placed
    // the exchanges, on the initial plan and on every re-plan
    ext.injectQueryStagePrepRule(session => new InputSizedShufflePartitions(session))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_vec_dot expects 2 arguments, got ${args.length}")
        FloatVectorDot(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_dotl"),
      new ExpressionInfo(classOf[LongVectorDot].getName, "graft_vec_dotl"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_vec_dotl expects 2 arguments, got ${args.length}")
        LongVectorDot(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_adc_sum"),
      new ExpressionInfo(classOf[AdcLookupSum].getName, "graft_adc_sum"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_adc_sum expects 2 arguments, got ${args.length}")
        AdcLookupSum(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dbits"),
      new ExpressionInfo(classOf[DoubleOrderBits].getName, "graft_dbits"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_dbits expects 1 argument, got ${args.length}")
        DoubleOrderBits(args.head)
      }))
    // MinHash chain kernels (graft.functions.TextFunctions); their scalar
    // parameters arrive as literal arguments
    ext.injectFunction((
      FunctionIdentifier("graft_hash60_array"),
      new ExpressionInfo(classOf[Hash60Array].getName, "graft_hash60_array"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_hash60_array expects 2 arguments, got ${args.length}")
        Hash60Array(args.head, constant[UTF8String](args(1)).toString)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_keys"),
      new ExpressionInfo(classOf[PolyShingleKeys].getName, "graft_shingle_keys"),
      (args: Seq[Expression]) => {
        require(args.length == 7, s"graft_shingle_keys expects 7 arguments, got ${args.length}")
        PolyShingleKeys(args.head, args(1), constant[Int](args(2)), constant[Long](args(3)),
          constant[Long](args(4)), constant[Long](args(5)), constant[UTF8String](args(6)).toString)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length >= 4 && args.length % 2 == 0,
          s"graft_minhash expects (keys, modulus, a0, b0, a1, b1, ...), got ${args.length} arguments")
        val fams = args.drop(2).map(constant[Long]).grouped(2).map(ab => (ab(0), ab(1))).toSeq
        MinHashSignature(args.head, fams, constant[Long](args(1)))
      }))
  }

  /** Value of a constant argument (a literal in every caller). */
  private def constant[T](e: Expression): T = {
    require(e.foldable, s"expected a constant argument, got ${e.sql}")
    e.eval().asInstanceOf[T]
  }
}
