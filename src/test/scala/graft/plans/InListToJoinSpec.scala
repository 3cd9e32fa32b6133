package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[InListToJoin]]: literal IN lists at or above the threshold become
  * broadcast semi joins (the reference's InExpressionRewriteRule, large-list
  * arm); below it Spark's InSet probe is kept; partition columns are never
  * rewritten (listing-time pruning beats any join). */
class InListToJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def semiJoins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }

  test("above threshold: semi join, identical rows to the unrewritten filter") {
    val vals = (1L to 2000L).filter(_ % 3 != 0)
    assert(vals.size >= InListToJoin.Threshold)
    val orders = graft.Tables.df(spark, sf, "orders")
    val rewritten = orders.filter(col("o_custkey").isin(vals: _*))
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    assert(semiJoins(rewritten).nonEmpty, rewritten.queryExecution.optimizedPlan.toString)
    // ground truth via an arithmetic filter equivalent to the list
    val expected = orders
      .filter(col("o_custkey") % 3 =!= 0 && col("o_custkey") <= 2000)
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    assert(rewritten.collect().toSeq === expected.collect().toSeq)
  }

  test("below threshold: InSet kept, no semi join") {
    val vals = 1L to 100L
    assert(vals.size < InListToJoin.Threshold)
    val df = graft.Tables.df(spark, sf, "orders")
      .filter(col("o_custkey").isin(vals: _*))
      .select("o_orderkey")
    assert(semiJoins(df).isEmpty, df.queryExecution.optimizedPlan.toString)
  }

  test("NULL list elements are dropped, filter semantics preserved") {
    val vals: Seq[Any] = (1L to 2000L).filter(_ % 3 != 0) :+ null
    val orders = graft.Tables.df(spark, sf, "orders")
    val rewritten = orders.filter(col("o_custkey").isin(vals: _*))
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    assert(semiJoins(rewritten).nonEmpty)
    // IN (…, NULL) in a filter keeps exactly the matching rows (NULL drops)
    val expected = orders
      .filter(col("o_custkey") % 3 =!= 0 && col("o_custkey") <= 2000)
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    assert(rewritten.collect().toSeq === expected.collect().toSeq)
  }

  test("partition column IN list is refused: listing-time pruning wins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-inpart").toString
    (1L to 4000L).map(i => (i, i % 50)).toDF("v", "k")
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    val vals = (0L to 2000L)
    val df = spark.read.parquet(dir).filter(col("k").isin(vals: _*)).select("v")
    assert(semiJoins(df).isEmpty,
      s"IN over a partition column must stay a pushable filter:\n${df.queryExecution.optimizedPlan}")
    assert(df.count() === 4000L)
  }
}
