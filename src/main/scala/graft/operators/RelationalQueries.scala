package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.1–§2.7): one verifiable query
  * per operator/capability row. Spark-first: every query is a declarative
  * DataFrame program so Catalyst handles pushdown, pruning, join selection and
  * partial aggregation; nothing here hand-schedules execution. */
object RelationalQueries {
  import Det._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.df(s, dir, n)

  // ---------------------------------------------------------------- scans

  /** TableScan, ColumnVsValue + ColumnBetween impls
    * (reference: src/lib/operators/table_scan.cpp:312-458). Raw column passthrough:
    * values come straight from parquet, so equality with the oracle is exact. */
  val scanFilterBetween: Q = Q(
    "scan_filter_between",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity BETWEEN 5 AND 10 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(5, 10) && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** ColumnVsColumn scan impl (reference: src/lib/operators/table_scan/column_vs_column_table_scan_impl.cpp). */
  val scanFilterColVsCol: Q = Q(
    "scan_filter_col_vs_col",
    """SELECT l_orderkey, l_linenumber, l_discount, l_tax
      |FROM lineitem WHERE l_discount > l_tax
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_discount") > col("l_tax"))
      .select("l_orderkey", "l_linenumber", "l_discount", "l_tax")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** ColumnLike scan impl, %/_ wildcards + NOT LIKE
    * (reference: src/lib/expression/evaluation/like_matcher.hpp). */
  val scanFilterLike: Q = Q(
    "scan_filter_like",
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_name LIKE '%ol%' AND p_type NOT LIKE 'SMALL%'
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    t(s, dir, "part")
      .filter(col("p_name").like("%ol%") && !col("p_type").like("SMALL%"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")
  }

  /** Case-insensitive LIKE — reference's LikeInsensitive condition
    * (reference: src/lib/types.hpp:174-175). */
  val scanFilterIlike: Q = Q(
    "scan_filter_ilike",
    """SELECT p_partkey, p_name FROM part
      |WHERE p_name ILIKE '%BOLT%' ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    t(s, dir, "part")
      .filter(col("p_name").ilike("%BOLT%"))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  /** IN-list predicate (reference: src/lib/expression/in_expression.hpp; rewrite
    * strategy reference: src/lib/optimizer/strategy/in_expression_rewrite_rule.hpp:18-42). */
  val scanFilterIn: Q = Q(
    "scan_filter_in",
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus <> 'F'
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") && col("o_orderstatus") =!= "F")
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** Large IN-list → broadcast semi join ([[graft.plans.InListToJoin]];
    * reference: src/lib/optimizer/strategy/in_expression_rewrite_rule.hpp:
    * 18-42 — large lists become a join against a literal table). The
    * 1334-element list crosses the 1024 rewrite threshold, so the plan is
    * REQUIRED to carry a LeftSemi join against the literal relation (below
    * the threshold Spark's InSet hash probe is kept — see scan_filter_in);
    * DuckDB evaluates the same list as a plain IN, so the gate proves the
    * rewrite preserves semantics. */
  private val inLargeVals: Seq[Long] = (1L to 2000L).filter(_ % 3 != 0)
  val scanFilterInLarge: Q = Q(
    "scan_filter_in_large",
    s"""SELECT o_orderkey, o_custkey FROM orders
       |WHERE o_custkey IN (${inLargeVals.mkString(",")}) AND o_orderstatus <> 'F'
       |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val df = t(s, dir, "orders")
      .filter(col("o_custkey").isin(inLargeVals: _*) && col("o_orderstatus") =!= "F")
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
    val semis = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    require(semis.nonEmpty,
      s"a ${inLargeVals.size}-element IN list must rewrite to a broadcast semi join")
    df
  }

  /** IS NULL / IS NOT NULL scan impl (reference:
    * src/lib/operators/table_scan/column_is_null_table_scan_impl.cpp). The fixtures
    * are null-free, so nulls are synthesized with NULLIF — same on both sides. */
  val scanFilterIsNull: Q = Q(
    "scan_filter_is_null",
    """SELECT l_orderkey, l_linenumber, NULLIF(l_discount, 0.0) AS disc
      |FROM lineitem WHERE NULLIF(l_discount, 0.0) IS NULL
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val disc = nullif(col("l_discount"), lit(0.0))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), disc.as("disc"))
      .filter(col("disc").isNull)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** OR-disjunction predicates — the reference splits these into unions of position
    * lists (reference: src/lib/operators/union_positions.hpp:7-23); Catalyst
    * evaluates the disjunction in a single vectorized filter instead. */
  val scanFilterOr: Q = Q(
    "scan_filter_or",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem
      |WHERE (l_quantity < 2 AND l_returnflag = 'N') OR l_quantity > 49.5
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter((col("l_quantity") < 2 && col("l_returnflag") === "N") || col("l_quantity") > 49.5)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ------------------------------------------------- projection / expressions

  /** Projection with arithmetic + unary minus
    * (reference: src/lib/operators/projection.cpp, src/lib/expression/arithmetic_expression.hpp:12,
    * unary_minus_expression.hpp). Decimal math keeps the result oracle-exact. */
  val projectArithmetic: Q = Q(
    "project_arithmetic",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net,
      |  CAST(l_quantity AS INT) % 7 AS qty_mod,
      |  CAST(-CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS neg_tax
      |FROM lineitem WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        asDouble(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("net"),
        (col("l_quantity").cast("int") % 7).as("qty_mod"),
        asDouble(-dec(col("l_tax"))).as("neg_tax"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** CASE WHEN (reference: src/lib/expression/case_expression.hpp) and CAST
    * (reference: src/lib/expression/cast_expression.hpp:12). */
  val projectCaseCast: Q = Q(
    "project_case_cast",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 200000 THEN 'big'
      |       WHEN o_totalprice > 50000 THEN 'mid'
      |       ELSE 'small' END AS bucket,
      |  CAST(FLOOR(o_totalprice) AS BIGINT) AS price_long,
      |  CAST(o_orderkey AS VARCHAR) AS key_str
      |FROM orders WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 50000, "mid")
          .otherwise("small").as("bucket"),
        floor(col("o_totalprice")).cast("long").as("price_long"),
        col("o_orderkey").cast("string").as("key_str"))
      .orderBy("o_orderkey")
  }

  /** String functions SUBSTR/CONCAT + ABS — the reference's complete named-function
    * surface (reference: src/lib/expression/function_expression.hpp:14-18). */
  val projectFunctions: Q = Q(
    "project_functions",
    """SELECT c_custkey,
      |  SUBSTR(c_name, 1, 8) AS name8,
      |  c_mktsegment || '#' || c_name AS tagged,
      |  ABS(c_acctbal) AS abs_bal
      |FROM customer WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("name8"),
        concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
        abs(col("c_acctbal")).as("abs_bal"))
      .orderBy("c_custkey")
  }

  /** EXTRACT over dates (reference: src/lib/expression/extract_expression.hpp:19,
    * DatetimeComponent reference: src/lib/types.hpp:237). The reference stores dates
    * as ISO strings; our fixtures are typed timestamps — capability is identical. */
  val projectExtract: Q = Q(
    "project_extract",
    """SELECT o_orderkey,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
      |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
      |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d
      |FROM orders WHERE o_orderkey < 300
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"))
      .orderBy("o_orderkey")
  }

  /** AliasOperator: rename/reorder output columns
    * (reference: src/lib/operators/alias_operator.hpp:16). */
  val aliasRename: Q = Q(
    "alias_rename",
    """SELECT r_regionkey AS rk, r_name AS region_name
      |FROM region ORDER BY rk""".stripMargin) { (s, dir) =>
    t(s, dir, "region").toDF("rk", "region_name").orderBy("rk")
  }

  // ---------------------------------------------------------------- joins

  /** JoinHash inner equi-join (reference: src/lib/operators/join_hash.cpp).
    * nation/region are tiny dims → Catalyst broadcasts them, no shuffle of the
    * probe side; at 100 TB the dim still broadcasts and the fact table never moves. */
  val joinInner: Q = Q(
    "join_inner",
    """SELECT n_name, r_name, COUNT(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name, r_name ORDER BY n_name, r_name""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name", "r_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name", "r_name")
  }

  /** Left outer join (reference: src/lib/operators/abstract_join_operator.hpp, JoinMode::Left
    * reference: src/lib/types.hpp:210). Orders without lineitems keep NULL aggregates. */
  val joinLeft: Q = Q(
    "join_left",
    """SELECT o_orderkey, COUNT(l_orderkey) AS n_lines
      |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey AND l_quantity > 45
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_quantity") > 45, "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_lines"))
      .orderBy("o_orderkey")
  }

  /** Right outer join. */
  val joinRight: Q = Q(
    "join_right",
    """SELECT o_orderkey, o_custkey, c_custkey
      |FROM (SELECT * FROM orders WHERE o_orderkey < 200) o
      |RIGHT JOIN customer ON o.o_custkey = c_custkey
      |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders").filter(col("o_orderkey") < 200)
    val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** Full outer join — the mode JoinHash lacks and JoinSortMerge provides
    * (reference: src/lib/operators/join_sort_merge.cpp:43-47). */
  val joinFullOuter: Q = Q(
    "join_full_outer",
    """SELECT a.k AS ka, b.k AS kb, a.na, b.nb FROM
      |  (SELECT c_nationkey AS k, COUNT(*) AS na FROM customer GROUP BY c_nationkey) a
      |FULL OUTER JOIN
      |  (SELECT s_nationkey AS k, COUNT(*) AS nb FROM supplier GROUP BY s_nationkey) b
      |ON a.k = b.k
      |ORDER BY ka NULLS FIRST, kb NULLS FIRST""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "customer").groupBy(col("c_nationkey").as("k")).agg(count(lit(1)).as("na"))
    val b = t(s, dir, "supplier").groupBy(col("s_nationkey").as("k")).agg(count(lit(1)).as("nb"))
    a.join(b, a("k") === b("k"), "full")
      .select(a("k").as("ka"), b("k").as("kb"), col("na"), col("nb"))
      .orderBy(col("ka").asc_nulls_first, col("kb").asc_nulls_first)
  }

  /** Semi join = EXISTS (reference: JoinMode::Semi, src/lib/types.hpp:210;
    * decorrelation reference: src/lib/optimizer/strategy/subquery_to_join_rule.cpp). */
  val joinSemi: Q = Q(
    "join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Anti join, null-as-false flavor = NOT EXISTS
    * (reference: JoinMode::AntiNullAsFalse, src/lib/types.hpp:205-210). */
  val joinAnti: Q = Q(
    "join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Null-aware anti join = NOT IN over a subquery containing NULLs
    * (reference: JoinMode::AntiNullAsTrue, src/lib/types.hpp:205-210 — when the
    * subquery yields a NULL, NOT IN is never true). Spark plans this as
    * NullAwareAntiJoin. Fixtures are null-free, so the inner side synthesizes
    * NULL keys with NULLIF; the oracle does the same. The main NOT IN list
    * excludes the poisoned key so it stays null-free in VALUE (but nullable
    * in TYPE → still the null-aware plan) and returns rows; the
    * `n_null_poisoned` scalar column re-runs the poisoned variant, whose
    * count must be 0 — NOT IN is never true once the list holds a NULL. A
    * wrong NULL treatment flips that column, a broken anti join the rows. */
  val joinAntiNullAsTrue: Q = Q(
    "join_anti_null_as_true",
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
      |    (SELECT NULLIF(o_custkey, 7) FROM orders WHERE o_totalprice > 100000)) AS n_null_poisoned
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT NULLIF(o_custkey, 7) FROM orders
      |   WHERE o_totalprice > 100000 AND o_custkey <> 7)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT NULLIF(o_custkey, 7) FROM orders WHERE o_totalprice > 100000)) AS n_null_poisoned
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT NULLIF(o_custkey, 7) FROM orders
        |   WHERE o_totalprice > 100000 AND o_custkey <> 7)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Cross join / Product (reference: src/lib/operators/product.hpp:8-11). */
  val joinCross: Q = Q(
    "join_cross",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")
  }

  /** Multi-predicate join: primary equi + secondary non-equi predicate
    * (reference: src/lib/operators/multi_predicate_join/multi_predicate_join_evaluator.cpp). */
  val joinMultiPredicate: Q = Q(
    "join_multi_predicate",
    """SELECT o_orderkey, l_linenumber
      |FROM orders JOIN lineitem
      |  ON o_orderkey = l_orderkey AND o_orderdate < l_shipdate AND l_quantity > 48
      |ORDER BY o_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey")
        && o("o_orderdate") < l("l_shipdate") && l("l_quantity") > 48)
      .select("o_orderkey", "l_linenumber")
      .orderBy("o_orderkey", "l_linenumber")
  }

  /** θ-join (non-equi), the JoinNestedLoop capability
    * (reference: src/lib/operators/join_nested_loop.cpp:87-89). Kept on tiny inputs:
    * Spark plans BroadcastNestedLoopJoin — exactly right for a dimension-sized side. */
  val joinTheta: Q = Q(
    "join_theta",
    """SELECT a.n_nationkey AS k1, b.n_nationkey AS k2
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = 0
      |ORDER BY k1, k2""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "nation").as("a")
    val b = t(s, dir, "nation").as("b")
    a.join(b, col("a.n_nationkey") < col("b.n_nationkey") && col("a.n_regionkey") === 0)
      .select(col("a.n_nationkey").as("k1"), col("b.n_nationkey").as("k2"))
      .orderBy("k1", "k2")
  }

  /** Sort-merge join path (reference: src/lib/operators/join_sort_merge.cpp) —
    * forced via MERGE hint to exercise SortMergeJoinExec on a fact-fact join,
    * the shape that must shuffle-and-sort at 100 TB. */
  val joinSortMerge: Q = Q(
    "join_sort_merge",
    """SELECT l_orderkey, o_totalprice, l_extendedprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_quantity = 50 AND o_orderstatus = 'F'
      |ORDER BY l_orderkey, l_extendedprice""".stripMargin) { (s, dir) =>
    val l = t(s, dir, "lineitem").filter(col("l_quantity") === 50).hint("merge")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select("l_orderkey", "o_totalprice", "l_extendedprice")
      .orderBy("l_orderkey", "l_extendedprice")
  }

  // ------------------------------------------------------------- aggregates

  /** AggregateHash with the full aggregate set over two group columns — TPC-H Q1
    * shape (reference: src/lib/operators/aggregate_hash.cpp; return-type rules
    * reference: src/lib/operators/aggregate/window_function_traits.hpp:17-110).
    * Partial/final aggregation is Catalyst's map-side combine: at scale only one
    * row per (flag,status) per partition reaches the shuffle. */
  val aggPricingSummary: Q = Q(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
      |  CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    // Direct single-pass aggregate (r16: an inline finest-level
    // decomposition added an exchange that cost −26% at sf0.1).
    val price = dec(col("l_extendedprice"))
    val disc = dec(col("l_discount"))
    val tax = dec(col("l_tax"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= "1998-09-02 00:00:00")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        asDouble(sum(price)).as("sum_base_price"),
        asDouble(sum(price * (lit(1) - disc))).as("sum_disc_price"),
        asDouble(sum(price * (lit(1) - disc) * (lit(1) + tax))).as("sum_charge"),
        (asDouble(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
        (asDouble(sum(price)) / count(lit(1))).as("avg_price"),
        asDouble(min(col("l_quantity"))).as("min_qty"),
        asDouble(max(col("l_quantity"))).as("max_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** COUNT(DISTINCT) (reference: WindowFunction::CountDistinct,
    * src/lib/expression/window_function_expression.hpp:19-43). */
  val aggCountDistinct: Q = Q(
    "agg_count_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")
  }

  /** STDDEV_SAMP (reference: WindowFunction::StandardDeviationSample). Computed from
    * exact decimal sums (sum, sum of squares) so both engines produce the identical
    * double — the textbook formula is deterministic where the streaming one is not. */
  val aggStddev: Q = Q(
    "agg_stddev",
    """SELECT l_returnflag,
      |  CAST(SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
      |    - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1)) AS DOUBLE) AS sd_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val q4 = dec4(col("l_quantity"))
    val sumSq = asDouble(sum(q4 * q4))
    val sm = asDouble(sum(dec(col("l_quantity"))))
    val n = count(lit(1))
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sqrt((sumSq - sm * sm / n) / (n - lit(1))).cast("double").as("sd_qty"),
        n.as("n"))
      .orderBy("l_returnflag")
  }

  /** Global aggregate, no GROUP BY — COUNT(*) special form
    * (reference: src/lib/logical_query_plan/lqp_translator.cpp:630-632). */
  val aggGlobal: Q = Q(
    "agg_global",
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
      |  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
      |FROM orders""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"),
        asDouble(min(col("o_totalprice"))).as("min_price"),
        asDouble(max(col("o_totalprice"))).as("max_price"))
  }

  /** SELECT DISTINCT = group-by-all-columns aggregate
    * (reference: src/lib/sql/sql_translator.cpp:1545-1567). */
  val aggDistinct: Q = Q(
    "agg_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** GROUP BY + HAVING (reference: src/lib/sql/sql_translator.cpp:1254-1325). */
  val aggHaving: Q = Q(
    "agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")
  }

  // ------------------------------------------------------- sort / limit

  /** Multi-column stable sort with explicit null ordering — 4 SortModes
    * (reference: src/lib/operators/sort.cpp:423, SortMode reference: src/lib/types.hpp:219).
    * NULLs synthesized via NULLIF; tie-broken to a total order for the oracle. */
  val sortMultiNulls: Q = Q(
    "sort_multi_nulls",
    """SELECT s_suppkey, s_nationkey, NULLIF(s_acctbal, 0.0) AS bal
      |FROM supplier
      |ORDER BY s_nationkey DESC, bal ASC NULLS FIRST, s_suppkey""".stripMargin) { (s, dir) =>
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), nullif(col("s_acctbal"), lit(0.0)).as("bal"))
      .orderBy(col("s_nationkey").desc, col("bal").asc_nulls_first, col("s_suppkey").asc)
  }

  /** ORDER BY + LIMIT → Catalyst TakeOrderedAndProject: the top-k never leaves the
    * executors unsorted, only k rows per partition reach the driver-side merge
    * (reference limit: src/lib/operators/limit.hpp:13). */
  val limitTopK: Q = Q(
    "limit_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)
  }

  // ---------------------------------------------------------- set operations

  /** UnionAll (reference: src/lib/operators/union_all.hpp:14). */
  val setUnionAll: Q = Q(
    "set_union_all",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer WHERE c_custkey <= 50
      |  UNION ALL
      |  SELECT s_nationkey AS k FROM supplier
      |) ORDER BY k""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "customer").filter(col("c_custkey") <= 50).select(col("c_nationkey").as("k"))
    val b = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
    a.unionAll(b).orderBy("k")
  }

  /** UNION (distinct) — rejected by the reference's translator
    * (reference: src/lib/sql/sql_translator.cpp:477) but a declared set-op capability;
    * native in Spark. */
  val setUnionDistinct: Q = Q(
    "set_union_distinct",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  UNION
      |  SELECT s_nationkey AS k FROM supplier
      |) ORDER BY k""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "customer").select(col("c_nationkey").as("k"))
    val b = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
    a.union(b).distinct().orderBy("k")
  }

  /** INTERSECT (reference parses to IntersectNode, src/lib/sql/sql_translator.cpp:1477-1520;
    * physical translation unimplemented there — native here). */
  val setIntersect: Q = Q(
    "set_intersect",
    """SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
      |INTERSECT
      |SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 5000
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "customer").filter(col("c_acctbal") > 9000).select(col("c_nationkey").as("k"))
    val b = t(s, dir, "supplier").filter(col("s_acctbal") > 5000).select(col("s_nationkey").as("k"))
    a.intersect(b).orderBy("k")
  }

  /** EXCEPT / Difference (reference: src/lib/operators/difference.hpp:7-9). */
  val setExcept: Q = Q(
    "set_except",
    """SELECT n_nationkey AS k FROM nation
      |EXCEPT
      |SELECT c_nationkey AS k FROM customer WHERE c_custkey <= 100
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val a = t(s, dir, "nation").select(col("n_nationkey").as("k"))
    val b = t(s, dir, "customer").filter(col("c_custkey") <= 100).select(col("c_nationkey").as("k"))
    a.except(b).orderBy("k")
  }

  val all: Seq[Q] = Seq(
    scanFilterBetween, scanFilterColVsCol, scanFilterLike, scanFilterIlike,
    scanFilterIn, scanFilterInLarge, scanFilterIsNull, scanFilterOr,
    projectArithmetic, projectCaseCast, projectFunctions, projectExtract, aliasRename,
    joinInner, joinLeft, joinRight, joinFullOuter, joinSemi, joinAnti,
    joinAntiNullAsTrue, joinCross, joinMultiPredicate, joinTheta, joinSortMerge,
    aggPricingSummary, aggCountDistinct, aggStddev, aggGlobal, aggDistinct, aggHaving,
    sortMultiNulls, limitTopK,
    setUnionAll, setUnionDistinct, setIntersect, setExcept)
}
