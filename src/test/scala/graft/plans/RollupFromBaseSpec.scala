package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
import org.scalatest.funsuite.AnyFunSuite

/** [[RollupFromBase]]: grouping-sets aggregates over associative functions
  * must plan as finest-level aggregate + Expand over its rows (never Expand
  * over the base), answer exactly what the unrewritten plan answers —
  * including grouping()/grouping_id() and empty input — and REFUSE every
  * non-re-mergeable shape. */
class RollupFromBaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def withData[A](f: => A): A = {
    spark.range(1000)
      .selectExpr("id % 7 AS a", "id % 13 AS b",
        "CAST(CAST(id AS DOUBLE) / 100 AS DECIMAL(18,2)) AS dec_v",
        "id AS long_v", "CAST(id AS DOUBLE) AS dbl_v")
      .createOrReplaceTempView("rfb_t")
    f
  }

  /** (plan fired?, rows) — fired = the Expand sits ABOVE an Aggregate. */
  private def run(sql: String): (Boolean, Seq[String]) = withData {
    val df = spark.sql(sql)
    val fired = df.queryExecution.optimizedPlan.collect {
      case Expand(_, _, _: Aggregate) => true
    }.nonEmpty
    (fired, canon(df))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def offOn(sql: String): (Seq[String], Boolean, Seq[String]) = {
    spark.conf.set("spark.graft.rollupFromBase", "false")
    val off = try run(sql)._2 finally spark.conf.set("spark.graft.rollupFromBase", "true")
    val (fired, on) = run(sql)
    (off, fired, on)
  }

  test("ROLLUP over decimal SUM / COUNT / MIN / MAX: fires and matches the unrewritten plan") {
    val (off, fired, on) = offOn(
      """SELECT a, b, SUM(dec_v) AS s, COUNT(*) AS n, MIN(long_v) AS mn, MAX(long_v) AS mx
        |FROM rfb_t GROUP BY ROLLUP(a, b)""".stripMargin)
    assert(fired, "associative rollup must re-aggregate from the finest level")
    assert(on === off)
  }

  test("CUBE and GROUPING SETS fire; grouping()/grouping_id() outputs survive the rewrite") {
    val cube =
      """SELECT a, b, SUM(long_v) AS s, grouping(a) AS ga, grouping_id(a, b) AS g
        |FROM rfb_t GROUP BY CUBE(a, b)""".stripMargin
    val (off, fired, on) = offOn(cube)
    assert(fired && on === off)
    val gs =
      """SELECT a, b, COUNT(long_v) AS n
        |FROM rfb_t GROUP BY GROUPING SETS ((a), (b))""".stripMargin
    val (off2, fired2, on2) = offOn(gs)
    assert(fired2 && on2 === off2, "sets without the full key still re-aggregate from it")
  }

  test("FILTER (WHERE ...) rides the partial and drops from the merge") {
    val (off, fired, on) = offOn(
      """SELECT a, b, SUM(dec_v) FILTER (WHERE long_v % 2 = 0) AS s_even,
        |  COUNT(*) FILTER (WHERE long_v > 500) AS n_hi
        |FROM rfb_t GROUP BY ROLLUP(a, b)""".stripMargin)
    assert(fired && on === off)
  }

  test("empty input: zero rows either way (the finest level must not fabricate a global row)") {
    val (off, fired, on) = offOn(
      """SELECT a, b, SUM(dec_v) AS s FROM rfb_t WHERE long_v < 0 GROUP BY ROLLUP(a, b)""")
    assert(fired)
    assert(on.isEmpty && off.isEmpty)
  }

  test("refusals: AVG, DISTINCT, double SUM, and non-mergeable functions keep the original plan") {
    Seq(
      "SELECT a, b, AVG(dec_v) AS v FROM rfb_t GROUP BY ROLLUP(a, b)",
      "SELECT a, b, COUNT(DISTINCT long_v) AS v FROM rfb_t GROUP BY ROLLUP(a, b)",
      "SELECT a, b, SUM(dbl_v) AS v FROM rfb_t GROUP BY ROLLUP(a, b)",
      "SELECT a, b, collect_list(long_v) AS v FROM rfb_t GROUP BY ROLLUP(a, b)"
    ).foreach { sql =>
      val (fired, _) = run(sql)
      assert(!fired, s"must refuse: $sql")
    }
    // and the refused AVG still answers correctly (plan untouched end-to-end)
    val (off, _, on) = offOn("SELECT a, AVG(dec_v) AS v FROM rfb_t GROUP BY ROLLUP(a)")
    assert(on === off)
  }

  test("registry ROLLUP bodies (tpcds q5, q67, q80) plan every Expand over a finest-level Aggregate") {
    for (name <- Seq("tpcds_q5_rollup_channels", "tpcds_q67_topk_rollup",
        "tpcds_q80_channel_profit_rollup")) {
      val plan = graft.SparkEntry.queries(name)(spark, graft.SparkTestBase.sf)
        .queryExecution.optimizedPlan
      val expands = plan.collect { case e: Expand => e }
      assert(expands.nonEmpty, s"$name has no Expand:\n$plan")
      assert(expands.forall(_.child.isInstanceOf[Aggregate]),
        s"$name expands a join or scan instead of the finest level:\n$plan")
      if (name == "tpcds_q80_channel_profit_rollup") {
        // profit re-uses the sales and refunds SUMs: two distinct partials
        val partials = expands.flatMap(_.child.output).count(_.name == "rfb_partial")
        assert(partials === 2, s"$name keeps a partial per repeated SUM:\n$plan")
      }
    }
  }
}
