package graft

import org.scalatest.funsuite.AnyFunSuite

/** Prepared-statement bench mode (reference: tpch_benchmark.cpp:57
  * `--use_prepared_statements`): every headline template PREPAREs, every
  * binding EXECUTEs to the same rows as the literal-inlined SQL on a raw
  * session, and re-execution is served from the GDFS plan cache. The timed
  * runs of this mode are in bench_evidence/BENCH_r7_prepared_sf01.json and
  * BENCH_r12_prepared_sf10.json. */
class BenchPreparedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** (item, template with ?-placeholders, parameter bindings).
    * Shapes mirror the TPC-H headline set on the fixture schema; bindings
    * play the role of the reference runner's per-run random substitutions
    * (tpch_benchmark_item_runner.cpp draws them per execution) with a
    * deterministic set so runs are reproducible. */
  val items: Seq[(String, String, Seq[Seq[String]])] = Seq(
    ("q1_pricing",
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |SUM(l_extendedprice) AS sum_base, AVG(l_discount) AS avg_disc, COUNT(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= date_sub(date '1998-12-01', ?)
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      Seq(Seq("60"), Seq("90"), Seq("120"))),
    ("q3_shipping",
      """SELECT o_orderkey, o_orderdate, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = ? AND o_orderdate < timestamp ? AND l_shipdate > timestamp ?
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      Seq(Seq("'BUILDING'", "'1995-03-15'", "'1995-03-15'"),
        Seq("'AUTOMOBILE'", "'1995-06-01'", "'1995-06-01'"),
        Seq("'MACHINERY'", "'1994-12-01'", "'1994-12-01'"))),
    ("q4_priority",
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 3 MONTH
        |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'"),
        Seq("'1995-07-01'", "'1995-07-01'"),
        Seq("'1996-01-01'", "'1996-01-01'"))),
    ("q5_local_supplier",
      """SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = ? AND o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 1 YEAR
        |GROUP BY n_name ORDER BY revenue DESC""".stripMargin,
      Seq(Seq("'ASIA'", "'1995-01-01'", "'1995-01-01'"),
        Seq("'EUROPE'", "'1996-01-01'", "'1996-01-01'"),
        Seq("'AMERICA'", "'1995-01-01'", "'1995-01-01'"))),
    ("q6_forecast",
      """SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
        |WHERE l_shipdate >= timestamp ? AND l_shipdate < timestamp ? + INTERVAL 1 YEAR
        |AND l_discount BETWEEN ? - 0.01 AND ? + 0.01 AND l_quantity < ?""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'", "0.05", "0.05", "24"),
        Seq("'1996-01-01'", "'1996-01-01'", "0.07", "0.07", "25"),
        Seq("'1995-01-01'", "'1995-01-01'", "0.03", "0.03", "24"))),
    ("q10_returned",
      """SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 3 MONTH
        |AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'"),
        Seq("'1995-10-01'", "'1995-10-01'"),
        Seq("'1996-04-01'", "'1996-04-01'"))),
    ("q14_promo",
      """SELECT 100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |/ SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= timestamp ? AND l_shipdate < timestamp ? + INTERVAL 1 MONTH""".stripMargin,
      Seq(Seq("'1995-09-01'", "'1995-09-01'"),
        Seq("'1995-03-01'", "'1995-03-01'"),
        Seq("'1996-06-01'", "'1996-06-01'"))),
    ("q18_large_volume",
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > ?)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
      Seq(Seq("210"), Seq("220"), Seq("200"))))

  /** Inline a binding into the template the same way Pipeline's EXECUTE does
    * (left-to-right `?` substitution) — used for the direct-mode twin. */
  def bind(template: String, args: Seq[String]): String =
    args.foldLeft(template)((t, a) =>
      t.replaceFirst("\\?", java.util.regex.Matcher.quoteReplacement(a.trim)))

  private def freshPipeline(): Pipeline = {
    val cat = new Catalog(spark)
    Tables.names.foreach(n => cat.register(n, Tables.df(spark, SparkTestBase.sf, n)))
    new Pipeline(cat)
  }

  test("every item prepares and every EXECUTE matches direct SQL") {
    val p = freshPipeline()
    items.foreach { case (name, tpl, bindings) =>
      assert(p.run(s"PREPARE $name AS ${tpl.replaceAll("\\s+", " ")}").head.status == p.Ok)
      bindings.foreach { b =>
        val r = p.run(s"EXECUTE $name (${b.mkString(", ")})").head
        assert(r.status == p.Ok, s"$name $b")
        val prep = r.df.get.collect().map(_.toString).sorted.toSeq
        val direct = spark.sql(bind(tpl, b)).collect().map(_.toString).sorted.toSeq
        assert(prep === direct, s"$name $b")
      }
    }
  }

  test("re-binding the same parameters is a plan-cache hit, new parameters a miss") {
    val p = freshPipeline()
    val (name, tpl, bindings) = items.head
    p.run(s"PREPARE $name AS ${tpl.replaceAll("\\s+", " ")}")
    val exec0 = s"EXECUTE $name (${bindings(0).mkString(", ")})"
    p.run(exec0)
    val (h0, m0) = p.planCacheStats
    assert(h0 == 0 && m0 == 1)
    p.run(exec0) // same binding → same bound text → hit
    val (h1, m1) = p.planCacheStats
    assert(h1 == 1 && m1 == 1)
    p.run(s"EXECUTE $name (${bindings(1).mkString(", ")})") // new binding → miss
    val (h2, m2) = p.planCacheStats
    assert(h2 == 1 && m2 == 2)
  }
}
