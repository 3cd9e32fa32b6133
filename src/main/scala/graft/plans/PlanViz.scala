package graft.plans

import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Graphviz DOT rendering of query plans — the counterpart of the reference's
  * visualization subsystem (reference: src/lib/visualization/
  * abstract_visualizer.hpp, lqp_visualizer.cpp, pqp_visualizer.cpp — hyrise
  * renders its LQP/PQP trees to graphviz for `hyriseConsole visualize`).
  * Here the Catalyst logical plan IS the LQP and the SparkPlan the PQP; the
  * renderer draws data flow bottom-up (child → parent edges) exactly like
  * the reference's visualizer, one box per operator with its one-line
  * summary. Output is plain DOT text: pipe to `dot -Tsvg` where graphviz
  * exists; the artifact itself is engine-side and dependency-free. */
object PlanViz {

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").take(120)

  /** DOT for any Catalyst plan tree (logical or physical). Adaptive and
    * query-stage wrapper nodes are traversed into (their subtree hangs off
    * `executedPlan`/`plan`, not `children` — same unwrapping as Pipeline's
    * EXPLAIN ANALYZE walk). */
  def dot(root: QueryPlan[_], title: String): String = {
    val sb = new StringBuilder
    sb.append("digraph graft_plan {\n")
    sb.append("  rankdir=BT;\n") // data flows bottom-up, like the reference's PQP render
    sb.append(s"""  labelloc="t"; label="${esc(title)}";\n""")
    sb.append("  node [shape=box, fontname=\"Helvetica\", fontsize=10];\n")
    var next = 0
    def walk(p: QueryPlan[_]): Int = {
      val me = next; next += 1
      sb.append(s"""  n$me [label="${esc(p.nodeName)}\\n${esc(p.simpleString(80).stripPrefix(p.nodeName).trim)}"];\n""")
      val kids: Seq[QueryPlan[_]] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case _ => p.children.toSeq.collect { case q: QueryPlan[_] => q }
      }
      kids.foreach { c =>
        val cid = walk(c)
        sb.append(s"  n$cid -> n$me;\n")
      }
      me
    }
    walk(root)
    sb.append("}\n")
    sb.toString
  }

  /** Node count of the rendered tree (spec hook: nodes == boxes in the DOT). */
  def nodeCount(root: QueryPlan[_]): Int = {
    val kids: Seq[QueryPlan[_]] = root match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case _ => root.children.toSeq.collect { case q: QueryPlan[_] => q }
    }
    1 + kids.map(nodeCount).sum
  }

  /** Convenience: physical-plan DOT straight from a DataFrame. */
  def dotPhysical(df: org.apache.spark.sql.DataFrame, title: String): String =
    dot(df.queryExecution.executedPlan, title)

  /** Convenience: analyzed logical-plan DOT (the LQP view). */
  def dotLogical(df: org.apache.spark.sql.DataFrame, title: String): String =
    dot(df.queryExecution.analyzed, title)
}
