package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition pruning on the layout [[BenchLayout]] writes: a filter on the
  * partition column prunes files statically, and a join against a filtered
  * dimension on that column prunes them at run time. The zero-shuffle
  * bucketed join is checked on the real path by [[BucketedLayoutSpec]]. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("partition-key filter prunes files statically (PartitionFilters, not data filters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val li = Tables.df(spark, sf, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    BenchLayout.writePartitioned(li, dir, "ship_month")
    val months = spark.read.parquet(dir).select("ship_month").distinct().count()
    val one = spark.read.parquet(dir).filter(col("ship_month") === "1997-06")
    val f = one.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.contains("PartitionFilters") && f.contains("ship_month"),
      s"partition filter must prune at the file level:\n$f")
    // the pruned scan reads one partition's rows, not the whole table
    assert(months > 1 && one.count() < li.count())
    assert(one.count() ==
      li.filter(date_format(col("l_shipdate"), "yyyy-MM") === "1997-06").count())
  }

  test("dynamic partition pruning fires for a join against a filtered dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val li = Tables.df(spark, sf, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    BenchLayout.writePartitioned(li, dir, "ship_month")
    val fact = spark.read.parquet(dir)
    // a dim keyed by the partition column, filtered on a non-key attribute —
    // the pruning value is only known at runtime, so static pruning can't act
    val dim = fact.select("ship_month").distinct()
      .withColumn("is_peak", col("ship_month").endsWith("-12"))
    val q = fact.join(dim.filter(col("is_peak")), Seq("ship_month"))
      .groupBy("ship_month").count()
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in:\n$optimized")
  }
}
