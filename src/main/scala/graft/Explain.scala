package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan inspection entry point: dumps the formatted physical plan for the named
  * queries (default: the bench set) — the `.explain("formatted")` feedback loop
  * for checking PushedFilters / ReadSchema / broadcast choices per SURVEY §7. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchNames
    // sized like BenchLayout: the printed plan shows the partition counts
    // this machine's own session plans
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", shufflePartitions = cores)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
