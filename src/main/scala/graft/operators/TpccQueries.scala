package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-C — the reference's OLTP suite (reference: src/benchmark/
  * tpcc_benchmark.cpp, transactions under src/benchmarklib/tpcc/) — its
  * transaction shapes adapted to the fixture schema. The read transactions
  * are plain queries; the Payment WRITE transaction runs on the round-5
  * snapshot-isolated transaction machinery (BEGIN/COMMIT/ROLLBACK with
  * first-committer-wins, formerly a declared non-goal, now implemented):
  *
  *  - Order-Status (tpcc/procedures/order_status): a customer's LATEST order
  *    and its lines → latest-per-key via a max-keyed semi join (no global
  *    window), then the line fetch.
  *  - Stock-Level (tpcc/procedures/stock_level): distinct items of the last
  *    20 orders of a district below a stock threshold → here the districts
  *    are nations and "low stock" is a part-size threshold.
  *
  * Point-lookup shapes: every filter is a key or time bound that data
  * skipping prunes; the per-customer latest-order aggregate is keyed. */
object TpccQueries {
  import Det._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.df(s, dir, n)

  /** Order-Status for a customer slice: the latest order per customer (max
    * orderdate, orderkey tie-break) with its line count and total. */
  val orderStatus: Q = Q(
    "tpcc_order_status",
    """WITH latest AS (
      |  SELECT o_custkey, MAX(epoch_us(o_orderdate) // 1000000 * 10000000 + o_orderkey) AS mk
      |  FROM orders WHERE o_custkey < 50 GROUP BY o_custkey)
      |SELECT o.o_custkey, o.o_orderkey, o.o_orderstatus,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS line_total
      |FROM orders o
      |JOIN latest ON o.o_custkey = latest.o_custkey
      |  AND epoch_us(o.o_orderdate) // 1000000 * 10000000 + o.o_orderkey = latest.mk
      |JOIN lineitem ON l_orderkey = o.o_orderkey
      |GROUP BY o.o_custkey, o.o_orderkey, o.o_orderstatus
      |ORDER BY o.o_custkey""".stripMargin) { (s, dir) =>
    // latest-per-key WITHOUT a window: max over an order-preserving composite
    // key, then an equi join back — two keyed shuffles, no per-partition sort
    val ords = t(s, dir, "orders").filter(col("o_custkey") < 50)
      // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the cast is
      // offset-free and unix_micros equals DuckDB's epoch_us. Seconds
      // granularity keeps (ts·1e7 + orderkey) inside a long.
      .withColumn("ok",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000000 * 10000000") +
          col("o_orderkey"))
    val latest = ords.groupBy(col("o_custkey").as("lc")).agg(max("ok").as("mk"))
    ords.join(latest, col("o_custkey") === col("lc") && col("ok") === col("mk"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "o_orderkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        asDouble(sum(dec(col("l_extendedprice")))).as("line_total"))
      .orderBy("o_custkey")
  }

  /** Stock-Level: for each nation (≈ district), distinct small parts
    * (p_size < 15 ≈ below stock threshold) among its customers' most recent
    * orders (the last month of the data). */
  val stockLevel: Q = Q(
    "tpcc_stock_level",
    """SELECT n_name, COUNT(DISTINCT p_partkey) AS low_stock_items
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00' AND p_size < 15
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderdate") >= "1998-06-01")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "part").filter(col("p_size") < 15)),
        col("l_partkey") === col("p_partkey"))
      .groupBy("n_name")
      .agg(countDistinct("p_partkey").as("low_stock_items"))
      .orderBy("n_name")
  }

  /** Payment (tpcc/procedures/payment): the WRITE transaction — debit a
    * customer's balance and record the payment in a history table, both
    * inside ONE atomic BEGIN/COMMIT (reference: src/benchmarklib/tpcc/
    * procedures/tpcc_payment.cpp). Round 5's snapshot-isolated transactions
    * made the TPC-C write family expressible; this is the two-table atomic
    * commit shape (the conflict/rollback behavior is spec'd in PipelineSpec).
    * DuckDB runs the SAME script under its native transactions — the oracle
    * checks atomicity end-state, not just the final SELECT. */
  val paymentTxn: Q = Q(
    "tpcc_payment_txn",
    """CREATE OR REPLACE TEMP TABLE cust_pay AS
      |  SELECT c_custkey, c_name, c_acctbal FROM customer;
      |CREATE OR REPLACE TEMP TABLE hist_pay AS
      |  SELECT CAST(0 AS BIGINT) AS h_custkey, CAST(0.0 AS DOUBLE) AS h_amount WHERE false;
      |BEGIN;
      |UPDATE cust_pay SET c_acctbal = c_acctbal - 150.0 WHERE c_custkey = 7;
      |INSERT INTO hist_pay VALUES (7, 150.0);
      |COMMIT;
      |BEGIN;
      |UPDATE cust_pay SET c_acctbal = c_acctbal - 999.0 WHERE c_custkey = 8;
      |INSERT INTO hist_pay VALUES (8, 999.0);
      |ROLLBACK;
      |SELECT c.c_custkey, c.c_acctbal,
      |  (SELECT COUNT(*) FROM hist_pay) AS n_hist,
      |  (SELECT CAST(COALESCE(SUM(h_amount), 0.0) AS DOUBLE) FROM hist_pay) AS paid
      |FROM cust_pay c WHERE c.c_custkey <= 10 ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
    val p = LifecycleQueries.pipeline(s, dir, "customer" -> "cust_pay_w")
    val rs = p.run(
      """CREATE TABLE cust_pay AS SELECT c_custkey, c_name, c_acctbal FROM cust_pay_w;
        |CREATE TABLE hist_pay AS SELECT CAST(0 AS BIGINT) AS h_custkey, CAST(0.0 AS DOUBLE) AS h_amount WHERE false;
        |BEGIN;
        |UPDATE cust_pay SET c_acctbal = c_acctbal - 150.0 WHERE c_custkey = 7;
        |INSERT INTO hist_pay VALUES (7, 150.0);
        |COMMIT;
        |BEGIN;
        |UPDATE cust_pay SET c_acctbal = c_acctbal - 999.0 WHERE c_custkey = 8;
        |INSERT INTO hist_pay VALUES (8, 999.0);
        |ROLLBACK;
        |SELECT c.c_custkey, c.c_acctbal,
        |  (SELECT COUNT(*) FROM hist_pay) AS n_hist,
        |  (SELECT CAST(COALESCE(SUM(h_amount), 0.0) AS DOUBLE) FROM hist_pay) AS paid
        |FROM cust_pay c WHERE c.c_custkey <= 10 ORDER BY c.c_custkey""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** NewOrder (tpcc/procedures/new_order): insert an order and its lines in
    * one atomic transaction, with the derived order key READ FROM THE TXN'S
    * OWN STAGED WRITE (the line inserts select MAX(o_orderkey) after the
    * order insert — read-your-writes inside BEGIN, reference:
    * tpcc_new_order.cpp's order-id chaining). */
  val newOrderTxn: Q = Q(
    "tpcc_new_order_txn",
    """CREATE OR REPLACE TEMP TABLE ord_no AS SELECT * FROM orders;
      |CREATE OR REPLACE TEMP TABLE line_no AS SELECT CAST(0 AS BIGINT) AS l_orderkey, CAST(0 AS BIGINT) AS l_linenumber, CAST(0.0 AS DOUBLE) AS l_amount WHERE false;
      |BEGIN;
      |INSERT INTO ord_no SELECT MAX(o_orderkey) + 1, 42, 'N', 123.45, MAX(o_orderdate), 'NEW' FROM ord_no;
      |INSERT INTO line_no SELECT MAX(o_orderkey), 1, 61.0 FROM ord_no;
      |INSERT INTO line_no SELECT MAX(o_orderkey), 2, 62.45 FROM ord_no;
      |COMMIT;
      |SELECT o.o_custkey, o.o_orderstatus, o.o_totalprice, l.l_linenumber, l.l_amount
      |FROM ord_no o JOIN line_no l ON l.l_orderkey = o.o_orderkey
      |ORDER BY l.l_linenumber""".stripMargin) { (s, dir) =>
    val p = LifecycleQueries.pipeline(s, dir, "orders" -> "ord_no_w")
    val rs = p.run(
      """CREATE TABLE ord_no AS SELECT * FROM ord_no_w;
        |CREATE TABLE line_no AS SELECT CAST(0 AS BIGINT) AS l_orderkey, CAST(0 AS BIGINT) AS l_linenumber, CAST(0.0 AS DOUBLE) AS l_amount WHERE false;
        |BEGIN;
        |INSERT INTO ord_no SELECT MAX(o_orderkey) + 1, 42, 'N', 123.45, MAX(o_orderdate), 'NEW' FROM ord_no;
        |INSERT INTO line_no SELECT MAX(o_orderkey), 1, 61.0 FROM ord_no;
        |INSERT INTO line_no SELECT MAX(o_orderkey), 2, 62.45 FROM ord_no;
        |COMMIT;
        |SELECT o.o_custkey, o.o_orderstatus, o.o_totalprice, l.l_linenumber, l.l_amount
        |FROM ord_no o JOIN line_no l ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_linenumber""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** Delivery (tpcc/procedures/tpcc_delivery.cpp:30-120): the batch WRITE
    * transaction — for each of 10 districts, find the OLDEST undelivered
    * order, mark it delivered with a carrier id, and credit the line total to
    * its customer's balance (+1 delivery count), all in ONE atomic commit.
    *
    * Faithful to the reference's shape: a driver-side loop of point reads and
    * point updates (SELECT MIN → UPDATE order → SELECT customer → SELECT
    * line-amount → UPDATE customer), where every read after the first write
    * must see the transaction's OWN staged state — the read-then-batch-update
    * pattern that stresses the staged-overlay machinery hardest. Districts
    * here are `o_custkey % 10` (the fixture has no warehouse/district axis);
    * "undelivered" is o_orderstatus = 'O'; the NEW_ORDER delete and the ORDER
    * carrier update collapse into one status+carrier update because the
    * fixture folds both tables into `orders`.
    *
    * The DuckDB oracle runs the SAME end state as batch SQL inside a native
    * transaction — valid because the 10 districts are disjoint (one order per
    * district, each customer in exactly one district), so sequential-per-
    * district and all-at-once commute. */
  val deliveryTxn: Q = Q(
    "tpcc_delivery_txn",
    """CREATE OR REPLACE TEMP TABLE ord_dlv AS
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(0 AS BIGINT) AS o_carrier_id
      |  FROM orders WHERE o_custkey < 300;
      |CREATE OR REPLACE TEMP TABLE cust_dlv AS
      |  SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS c_delivery_cnt
      |  FROM customer WHERE c_custkey < 300;
      |BEGIN;
      |UPDATE ord_dlv SET o_orderstatus = 'F', o_carrier_id = 7
      |WHERE o_orderkey IN (
      |  SELECT MIN(o_orderkey) FROM ord_dlv WHERE o_orderstatus = 'O' GROUP BY o_custkey % 10);
      |UPDATE cust_dlv SET c_acctbal = c_acctbal + amt.a, c_delivery_cnt = c_delivery_cnt + 1
      |FROM (SELECT o.o_custkey AS ck,
      |        CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS a
      |      FROM ord_dlv o LEFT JOIN lineitem ON l_orderkey = o.o_orderkey
      |      WHERE o.o_carrier_id = 7 GROUP BY o.o_custkey) amt
      |WHERE c_custkey = amt.ck;
      |COMMIT;
      |SELECT c.c_custkey, CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, c.c_delivery_cnt,
      |  o.o_orderkey, o.o_carrier_id
      |FROM cust_dlv c JOIN ord_dlv o ON o.o_custkey = c.c_custkey
      |WHERE o.o_carrier_id = 7 ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
    val p = LifecycleQueries.pipeline(s, dir,
      "orders" -> "ord_dlv_w", "customer" -> "cust_dlv_w", "lineitem" -> "line_dlv")
    def ok(sql: String): DataFrame = p.sql(sql) // throws on Failed status
    ok("""CREATE TABLE ord_dlv AS SELECT o_orderkey, o_custkey, o_orderstatus, CAST(0 AS BIGINT) AS o_carrier_id FROM ord_dlv_w WHERE o_custkey < 300""")
    ok("""CREATE TABLE cust_dlv AS SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS c_delivery_cnt FROM cust_dlv_w WHERE c_custkey < 300""")
    ok("BEGIN")
    for (d <- 0 until 10) {
      // oldest undelivered order of this district — reads STAGED state (prior
      // districts' updates are already visible inside the open transaction)
      val m = ok(s"SELECT MIN(o_orderkey) AS m FROM ord_dlv WHERE o_orderstatus = 'O' AND o_custkey % 10 = $d").collect()(0)
      if (!m.isNullAt(0)) { // reference: `if (!min_no_o_id) continue;`
        val oid = m.getLong(0)
        ok(s"UPDATE ord_dlv SET o_orderstatus = 'F', o_carrier_id = 7 WHERE o_orderkey = $oid")
        val ck = ok(s"SELECT o_custkey FROM ord_dlv WHERE o_orderkey = $oid").collect()(0).getLong(0)
        // line total as an exact decimal string, so the literal re-parses to
        // the identical double on both engines
        val amt = ok(s"SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS STRING) AS a FROM line_dlv WHERE l_orderkey = $oid").collect()(0).getString(0)
        ok(s"UPDATE cust_dlv SET c_acctbal = c_acctbal + CAST('$amt' AS DOUBLE), c_delivery_cnt = c_delivery_cnt + 1 WHERE c_custkey = $ck")
      }
    }
    ok("COMMIT")
    ok("""SELECT c.c_custkey, CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, c.c_delivery_cnt,
         |  o.o_orderkey, o.o_carrier_id
         |FROM cust_dlv c JOIN ord_dlv o ON o.o_custkey = c.c_custkey
         |WHERE o.o_carrier_id = 7 ORDER BY c.c_custkey""".stripMargin)
  }

  val all: Seq[Q] = Seq(orderStatus, stockLevel, paymentTxn, newOrderTxn, deliveryTxn)
}
