package graft

import org.apache.spark.sql.DataFrame

/** Shared aggregate fragments: named [[MatViews]] definitions that query
  * bodies compute inline through `MatViews.deltaState`/`visible` over the
  * base tables of the dir they read. Nothing here is persisted or read back:
  * every query answers from base data, and the only materialized state in
  * the engine is a user-declared MATERIALIZED VIEW ([[MatViews]] through
  * the [[Catalog]]).
  *
  * Expressing a body's aggregate as a definition lets the `*_rollup`
  * registry entries check the MatViews state math (component columns,
  * re-summation, `visible`) end to end against DuckDB's raw recompute. */
object Rollups {
  import MatViews.{MatViewDef, parse}

  /** Per-part value sums; tpch_q11_rollup. The SUM argument text matches
    * q11's `net` expression, so the decimal type is identical. */
  val LineitemByPartkey = "lineitem_by_partkey"

  /** Per-(customer, linestatus) non-returned cents; tpcds_q78_rollup. The
    * FROM rows are the query's NOT-EXISTS anti-join ([[keepNonReturned]]),
    * not a row-local returnflag predicate: the fixtures carry duplicate
    * (l_orderkey, l_linenumber) keys with mixed flags, where an 'R' row
    * evicts its non-'R' siblings. */
  val CentsByCustStatus = "lineitem_cents_by_cust_status"

  /** Per-customer quantity sums (the best_ss_customer CTE); tpcds_q23_rollup. */
  val QtyByCustkey = "lineitem_qty_by_custkey"

  /** Distinct (part, 1997-date) pairs; tpcds_q23_rollup. COUNT(DISTINCT
    * date) per part is a plain row count over these rows. */
  val Dates1997ByPartkey = "lineitem_1997_dates_by_partkey"

  /** Per-(brand, year) returns-signed quantity and amount sums over the
    * part join; tpcds_q75_rollup. */
  val SignedByBrandYear = "lineitem_signed_by_brand_year"

  /** Per-(brand, channel) sales/refunds decimal sums, channel being the
    * expression key `l_linenumber % 3`; tpcds_q80_channel_profit_rollup's
    * finest level (its body semi-joins orders before this fragment). */
  val ProfitByBrandChannel = "lineitem_profit_by_brand_channel"

  /** TPC-H Q12's late-lines priority counts at result grain: the definition
    * WHERE carries the cross-table lateness predicate. */
  val LateCountsByStatus = "lineitem_late_counts_by_status"

  /** tpcds_q5_rollup_channels' finest lattice level: per-(channel,
    * orderpriority) signed revenue and counts, channel being the
    * returnflag classification. */
  val RevByChannelPriority = "lineitem_rev_by_channel_priority"

  /** TPC-H Q18's per-order quantity sums at the query's grain
    * ((o_orderdate, o_custkey) ride in the key; o_orderkey is unique). */
  val QtyDecByOrder = "lineitem_qtydec_by_order"

  /** TPC-H Q13's per-customer order counts over orders; the left join's
    * zero-count arm re-derives as customer ∖ state. */
  val OrderCountByCust = "orders_count_by_custkey"

  /** TPC-H Q10's returned-revenue sums at the query's grain: (c_name,
    * c_nationkey) are functionally dependent on o_custkey, and the
    * `o_orderdate >= 1997-01-01` cutoff is `year() >= 1997` in the WHERE. */
  val RRevByCust = "lineitem_rrev_by_customer"

  /** TPC-H Q3's per-order unshipped revenue with all three query predicates
    * in the definition WHERE. */
  val RevBuildingUnshipped = "lineitem_rev_building_unshipped"

  /** tpcds_q23's final 1998Q1 pass at (part, customer) grain, the date
    * predicate in the definition WHERE. */
  val Price9801ByPartCust = "lineitem_9801_price_by_part_cust"

  /** TPC-H Q21's per-(order, supplier) lateness profile over F-status
    * orders: supp_late (MAX of the 60-day lateness flag) and late_lines
    * (its SUM). */
  val LateByOrderSupp = "lineitem_late_by_order_supp"

  private val defs: Map[String, MatViewDef] = Map(
    LineitemByPartkey -> parse(
      LineitemByPartkey,
      "SELECT l_partkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec " +
        "FROM lineitem GROUP BY l_partkey"),
    CentsByCustStatus -> parse(
      CentsByCustStatus,
      // the FROM rows are keepNonReturned(lineitem) joined to orders
      "SELECT o_custkey, l_linestatus, " +
        "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_custkey, l_linestatus"),
    QtyByCustkey -> parse(
      QtyByCustkey,
      "SELECT o_custkey, SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qty_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_custkey"),
    Dates1997ByPartkey -> parse(
      Dates1997ByPartkey,
      "SELECT l_partkey, o_orderdate, COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE year(o_orderdate) = 1997 GROUP BY l_partkey, o_orderdate"),
    SignedByBrandYear -> parse(
      SignedByBrandYear,
      "SELECT p_brand, year(o_orderdate) AS yr, " +
        "SUM(CASE WHEN l_returnflag = 'R' THEN -CAST(FLOOR(l_quantity) AS BIGINT) " +
        "ELSE CAST(FLOOR(l_quantity) AS BIGINT) END) AS qty_sum, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN -(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) " +
        "ELSE CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS amt_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, yr"),
    ProfitByBrandChannel -> parse(
      ProfitByBrandChannel,
      "SELECT p_brand, l_linenumber % 3 AS ch, " +
        "SUM(CASE WHEN l_returnflag <> 'R' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS sales_sum, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS refunds_sum " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, ch"),
    LateCountsByStatus -> parse(
      LateCountsByStatus,
      "SELECT l_linestatus, " +
        "COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count, " +
        "COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY " +
        "GROUP BY l_linestatus"),
    RevByChannelPriority -> parse(
      RevByChannelPriority,
      "SELECT CASE WHEN l_returnflag = 'R' THEN 'returns' ELSE 'catalog' END AS channel, " +
        "o_orderpriority, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN -(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) " +
        "ELSE CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS rev, " +
        "COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY channel, o_orderpriority"),
    QtyDecByOrder -> parse(
      QtyDecByOrder,
      "SELECT l_orderkey, o_orderdate, o_custkey, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY l_orderkey, o_orderdate, o_custkey"),
    OrderCountByCust -> parse(
      OrderCountByCust,
      "SELECT o_custkey, COUNT(o_orderkey) AS c_count FROM orders " +
        "WHERE o_orderpriority <> '5-LOW' GROUP BY o_custkey"),
    RRevByCust -> parse(
      RRevByCust,
      "SELECT o_custkey, c_name, c_nationkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE l_returnflag = 'R' AND year(o_orderdate) >= 1997 " +
        "GROUP BY o_custkey, c_name, c_nationkey"),
    RevBuildingUnshipped -> parse(
      RevBuildingUnshipped,
      "SELECT l_orderkey, o_orderdate, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate"),
    Price9801ByPartCust -> parse(
      Price9801ByPartCust,
      "SELECT l_partkey, o_custkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_sum, COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE year(o_orderdate) = 1998 AND month(o_orderdate) <= 3 " +
        "GROUP BY l_partkey, o_custkey"),
    LateByOrderSupp -> parse(
      LateByOrderSupp,
      "SELECT l_orderkey, l_suppkey, " +
        "MAX(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late, " +
        "SUM(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late_lines " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' GROUP BY l_orderkey, l_suppkey"))

  def definition(name: String): MatViewDef = defs(name)

  /** q78's NOT-EXISTS materialized: rows whose (l_orderkey, l_linenumber)
    * group contains no 'R' row. */
  private[graft] def keepNonReturned(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val r = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_ok"), col("l_linenumber").as("r_ln"))
    li.join(r,
      col("l_orderkey") === col("r_ok") && col("l_linenumber") === col("r_ln"),
      "left_anti")
  }
}
