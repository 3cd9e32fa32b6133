package graft

import org.apache.spark.sql.DataFrame

/** Prepared-statement benchmark mode — the counterpart of the reference's
  * `--use_prepared_statements` flag (reference: src/benchmark/tpch_benchmark
  * .cpp:57,144-206 and src/benchmarklib/tpch/tpch_benchmark_item_runner.cpp):
  * each headline query is PREPAREd once with `?` placeholders, then every
  * timed run EXECUTEs it with a parameter binding, exercising the
  * [[Pipeline]] plan cache instead of cold SQL strings.
  *
  * Reported alongside the per-item times:
  *  - plan-cache hits / misses / hit rate ([[Pipeline.planCacheStats]] over
  *    the GDFS cache — the reference's SQLPhysicalPlanCache counters)
  *  - `results_match`: for every item, EXECUTE output was collected and
  *    compared row-for-row against the same SQL with literals inlined run on
  *    a raw SparkSession — the "identical results vs direct mode" gate.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_BENCH_RUNS
  * (default 2), SPARK_GRAFT_CPUS (default 32).
  */
object BenchPrepared {

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

  private def fingerprint(df: DataFrame): String =
    df.collect().map(_.toString).sorted.mkString("\n")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = GraftSession.create(s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val cat = new Catalog(spark)
    Tables.names.foreach(n => cat.register(n, Tables.df(spark, sfDir, n)))
    val p = new Pipeline(cat)

    def executeDf(name: String, binding: Seq[String]): DataFrame = {
      val stmt = s"EXECUTE $name (${binding.mkString(", ")})"
      val r = p.run(stmt).head
      require(r.status == p.Ok, s"$stmt → ${r.status}")
      r.df.getOrElse(sys.error(s"$stmt returned no result"))
    }

    items.foreach { case (name, tpl, _) =>
      val r = p.run(s"PREPARE $name AS ${tpl.replaceAll("\\s+", " ")}").head
      require(r.status == p.Ok, s"PREPARE $name → ${r.status}")
    }

    // Identical-results gate: every (item, binding) EXECUTE vs direct SQL on
    // the raw session (literals inlined, no pipeline, no plan cache).
    var matches = 0
    var comparisons = 0
    items.foreach { case (name, tpl, bindings) =>
      bindings.foreach { b =>
        val prep = fingerprint(executeDf(name, b))
        val direct = fingerprint(spark.sql(bind(tpl, b)))
        comparisons += 1
        if (prep == direct) matches += 1
        else System.err.println(s"MISMATCH $name $b")
      }
    }

    // Timed rounds: every binding each round, best-of per item (the
    // correctness pass above doubles as the untimed warmup).
    val times = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(Double.MaxValue)
    (1 to nRuns).foreach { _ =>
      items.foreach { case (name, _, bindings) =>
        bindings.foreach { b =>
          val t0 = System.nanoTime()
          executeDf(name, b).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          if (t < times(name)) times(name) = t
        }
      }
    }

    val (hits, misses) = p.planCacheStats
    val hitRate = if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)
    val qs = items.map { case (n, _, _) => "\"" + n + "\":" + times(n) }.mkString("{", ",", "}")
    val total = items.map { case (n, _, _) => times(n) }.sum
    println(s"""{"metric":"prepared_total","value":$total,"unit":"sec","queries":$qs,"plan_cache_hits":$hits,"plan_cache_misses":$misses,"plan_cache_hit_rate":$hitRate,"results_match":$matches,"comparisons":$comparisons,"runs":$nRuns,"sf":"$sfDir"}""")
    spark.stop()
  }
}
