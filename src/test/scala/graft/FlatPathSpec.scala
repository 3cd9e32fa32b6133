package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Query bodies whose Spark plan departs from the spec's join shape must
  * still answer the spec SQL on data the DuckDB oracle fixtures never carry:
  * an orphan foreign key (q18's customer join, q80's orders join, both run
  * as left-semi joins) and duplicate (l_orderkey, l_linenumber) keys with
  * mixed return flags (q78's NOT EXISTS). Each test builds a small dataset
  * dir from the fixture with one defect planted and compares the body with
  * the spec SQL run by Spark on the same files. */
class FlatPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** A dataset dir holding `written` as fresh parquet and the fixture's
    * files for `linked`. */
  private def dirWith(written: Map[String, DataFrame], linked: String*): String = {
    val d = Files.createTempDirectory("graft-flat").toString
    linked.foreach { t =>
      Files.createSymbolicLink(Paths.get(s"$d/$t.parquet"),
        Paths.get(s"$sf/$t.parquet").toAbsolutePath)
    }
    written.foreach { case (t, df) => df.coalesce(1).write.parquet(s"$d/$t.parquet") }
    d
  }

  /** Register `tables` of `dir` as temp views named `<prefix>_<table>`. */
  private def views(dir: String, prefix: String, tables: String*): Unit =
    tables.foreach(t => Tables.df(spark, dir, t).createOrReplaceTempView(s"${prefix}_$t"))

  /** `df` with `key`'s value replaced by one no parent row carries on the
    * rows `where` selects (the column keeps its type). */
  private def orphan(df: DataFrame, key: String, where: org.apache.spark.sql.Column): DataFrame =
    df.withColumn(key, when(where, lit(999999999L)).otherwise(col(key))
      .cast(df.schema(key).dataType))

  test("q18 on a dir whose orders.o_custkey has an orphan answers the spec SQL exactly") {
    val q18 = operators.TpchQueries.q18LargeVolume
    // the orphan goes on an order that passes the HAVING filter, so the
    // spec's customer join really drops a result row
    val top = q18.run(spark, sf).head.getAs[Any]("o_orderkey")
    val o = Tables.df(spark, sf, "orders")
    val d = dirWith(Map("orders" -> orphan(o, "o_custkey", col("o_orderkey") === lit(top))),
      "lineitem", "customer")
    val got = q18.run(spark, d)
    views(d, "fk18", "orders", "lineitem", "customer")
    val want = spark.sql(
      """SELECT c_custkey, o_orderkey,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM fk18_orders JOIN fk18_lineitem ON o_orderkey = l_orderkey
        |JOIN fk18_customer ON c_custkey = o_custkey
        |GROUP BY c_custkey, o_orderkey, o_orderdate
        |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin)
    assert(canon(got) === canon(want))
    assert(!got.collect().exists(_.getAs[Any]("o_orderkey") == top),
      s"the orphaned order $top must be dropped")
  }

  test("tpcds q80 on a dir whose lineitem.l_orderkey has an orphan answers the spec SQL exactly") {
    val li = Tables.df(spark, sf, "lineitem")
    val first = li.agg(min(col("l_orderkey"))).head.get(0)
    val d = dirWith(Map("lineitem" -> orphan(li, "l_orderkey", col("l_orderkey") === lit(first))),
      "orders", "part")
    val got = operators.TpcdsQueries.q80ChannelProfitRollup.run(spark, d)
    views(d, "fk80", "lineitem", "orders", "part")
    val net = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    def spec(ordersJoin: String): DataFrame = spark.sql(
      s"""WITH det AS (
         |  SELECT CASE l_linenumber % 3 WHEN 0 THEN 'store' WHEN 1 THEN 'web'
         |              ELSE 'catalog' END AS channel,
         |    p_brand,
         |    CASE WHEN l_returnflag <> 'R' THEN $net
         |         ELSE CAST(0 AS DECIMAL(18,2)) END AS sales,
         |    CASE WHEN l_returnflag = 'R' THEN $net
         |         ELSE CAST(0 AS DECIMAL(18,2)) END AS refunds
         |  FROM fk80_lineitem $ordersJoin
         |  JOIN fk80_part ON l_partkey = p_partkey)
         |SELECT channel, p_brand, CAST(SUM(sales) AS DOUBLE) AS sales,
         |  CAST(SUM(refunds) AS DOUBLE) AS refunds,
         |  CAST(SUM(sales) - SUM(refunds) AS DOUBLE) AS profit
         |FROM det GROUP BY ROLLUP(channel, p_brand)""".stripMargin)
    val want = spec("JOIN fk80_orders ON l_orderkey = o_orderkey")
    assert(canon(got) === canon(want))
    assert(canon(want) !== canon(spec("")),
      "the orphaned lines must change the answer once the orders join is dropped")
  }

  test("tpcds q78_rollup with duplicate line keys of mixed flags equals the literal NOT EXISTS") {
    val li = Tables.df(spark, sf, "lineitem")
    val o = Tables.df(spark, sf, "orders")
    def spec(prefix: String, keep: String): DataFrame = spark.sql(
      s"""WITH keep AS (
         |  SELECT l_orderkey, l_linenumber, l_linestatus,
         |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM ${prefix}_lineitem a WHERE $keep
         |), per_cust AS (
         |  SELECT o_custkey AS cust,
         |    COALESCE(SUM(cents) FILTER (WHERE l_linestatus = 'O'), 0) AS open_cents,
         |    COALESCE(SUM(cents) FILTER (WHERE l_linestatus = 'F'), 0) AS full_cents
         |  FROM keep JOIN ${prefix}_orders ON l_orderkey = o_orderkey
         |  GROUP BY o_custkey)
         |SELECT cust, open_cents, full_cents,
         |  (open_cents * 100) div full_cents AS ratio_pct
         |FROM per_cust WHERE open_cents > 0 AND full_cents > 0
         |ORDER BY ratio_pct DESC, cust LIMIT 25""".stripMargin)
    def notExists(prefix: String): String =
      s"""NOT EXISTS (SELECT 1 FROM ${prefix}_lineitem r WHERE r.l_returnflag = 'R'
         |  AND r.l_orderkey = a.l_orderkey AND r.l_linenumber = a.l_linenumber)""".stripMargin
    // plant an 'R' twin of one open, not-yet-returned line of the top-ranked
    // customer: the NOT EXISTS evicts the original line too, a row-local
    // flag predicate keeps it
    views(sf, "q78f", "lineitem", "orders")
    val topCust = spec("q78f", notExists("q78f")).head.get(0)
    val returned = li.filter(col("l_returnflag") === "R").select("l_orderkey", "l_linenumber")
    val victim = li
      .join(o.filter(col("o_custkey") === lit(topCust)),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(returned, Seq("l_orderkey", "l_linenumber"), "left_anti")
      .filter(col("l_linestatus") === "O")
      .limit(1)
    val d = dirWith(Map("lineitem" ->
      li.unionByName(victim.withColumn("l_returnflag", lit("R")))), "orders")
    val got = operators.TpcdsQueries.q78ChannelRatio.run(spark, d)
    views(d, "q78d", "lineitem", "orders")
    val want = spec("q78d", notExists("q78d"))
    assert(canon(got) === canon(want))
    assert(canon(want) !== canon(spec("q78d", "a.l_returnflag <> 'R'")),
      "the planted twin must make the row-local flag predicate differ from NOT EXISTS")
  }
}
