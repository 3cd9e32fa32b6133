package perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.{Catalog, Pipeline, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `oltp_mix`: a TPC-C-style transaction mix through `Pipeline`, one
  * closed-loop client.
  *
  * One warehouse is cut from the dataset: customers 0..2999 (district =
  * custkey % 10) with their orders, ten `district` rows and an empty `hist`.
  * `new_order` takes its order id from its district's `d_next_o_id`, as the
  * TPC-C specification does. Every committed write swaps a `Catalog`
  * binding, so table lineage grows with each transaction and nothing
  * compacts it; a round of 25 transactions therefore
  * starts from freshly registered tables and has the same amount of work
  * whatever the speed. An operation is one transaction. After each round
  * (outside the timed window) the balances, order and history counts are
  * checked against the committed transactions.
  *
  * The untimed warm-up runs as many warehouses as there are cores at once,
  * each in its own session, so the JVM reaches its steady speed in a
  * fraction of the time one client would take. */
final class Oltp(spark: SparkSession, dir: String, seed: Long) extends Workload {
  private val Customers = 3000
  private val WarmupRounds = 2
  private val sc = spark.sparkContext
  private val op = new AtomicLong()

  // 25 transactions at the 45/43/4/4/4 weights of the TPC-C mix, in one
  // fixed order: lineage grows through a round, so where the scanning
  // transactions fall in it changes their cost, and that must not depend
  // on the seed
  private val block: Seq[String] = {
    val rare = Map(8 -> "order_status", 16 -> "delivery", 24 -> "stock_level")
    (0 until 25).filterNot(rare.contains).zipWithIndex
      .map { case (i, k) => i -> (if (k % 2 == 0) "new_order" else "payment") }
      .toMap.++(rare).toSeq.sortBy(_._1).map(_._2)
  }

  /** Client-side model of what the committed transactions must have done. */
  private final case class Expected(orders: Long, hist: Long, balance: BigDecimal, ytd: BigDecimal,
      nextIds: Long, delivered: Long)

  /** One warehouse's tables, in a catalog over `session`, and its client's
    * pipeline and model. */
  private final class Warehouse(session: SparkSession, seed: Long) {
    private val catalog = new Catalog(session)
    val p = new Pipeline(catalog)
    private val rng = new scala.util.Random(seed)
    private val tables = Seq("ord", "cust", "district", "hist")
    private var initial: Map[String, DataFrame] = Map.empty
    private var base: Expected = _
    private var exp: Expected = _
    var conflicts = 0L

    /** TPC-C's non-uniform customer choice, NURand(1023, 0, 2999). */
    private def customer(): Int =
      ((rng.nextInt(1024) | rng.nextInt(Customers)) + 259) % Customers
    private def amount(): BigDecimal = BigDecimal(100 + rng.nextInt(500000)) / 100

    private def sql(kind: String, s: String): DataFrame =
      Trace.span(sc, kind)(Trace.span(sc, "pipeline")(p.sql(s)))
    private def read(s: String): Array[Row] =
      Trace.span(sc, "read") {
        val df = Trace.span(sc, "pipeline")(p.sql(s))
        Trace.span(sc, "exec")(df.collect())
      }
    private def commit(): Boolean = {
      val ok = try { Trace.span(sc, "commit")(Trace.span(sc, "pipeline")(p.sql("COMMIT"))); true }
      catch { case e: IllegalArgumentException if e.getMessage.contains("conflict") => false }
      if (!ok) conflicts += 1
      ok
    }

    def setup(): Unit = {
      catalog.register("src_orders", Tables.df(session, dir, "orders"))
      catalog.register("src_customer", Tables.df(session, dir, "customer"))
      initial = Map(
        "ord" -> session.sql(
          s"""SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_custkey % 10 AS INT) AS o_d_id,
             |  CAST(o_totalprice AS DECIMAL(18,2)) AS o_amount
             |FROM src_orders WHERE o_custkey < $Customers""".stripMargin),
        "cust" -> session.sql(
          s"""SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS c_balance
             |FROM src_customer WHERE c_custkey < $Customers""".stripMargin),
        "district" -> session.sql(
          """SELECT CAST(id AS INT) AS d_id, CAST(3001 AS BIGINT) AS d_next_o_id,
            |  CAST(0 AS DECIMAL(18,2)) AS d_ytd FROM range(10)""".stripMargin),
        "hist" -> session.sql(
          "SELECT CAST(0 AS BIGINT) AS h_custkey, CAST(0 AS DECIMAL(18,2)) AS h_amount WHERE false"))
      reset()
      base = observed()
      exp = base
    }

    def reset(): Unit = {
      tables.foreach(n => catalog.register(n, initial(n)))
      exp = base
    }

    private def observed(): Expected = {
      val Array(o) = p.sql(
        s"SELECT COUNT(*), SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) FROM ord").collect()
      val Array(b) = p.sql(s"SELECT SUM(c_balance) FROM cust").collect()
      val Array(d) = p.sql(s"SELECT SUM(d_ytd), SUM(d_next_o_id) FROM district").collect()
      val Array(h) = p.sql(s"SELECT COUNT(*) FROM hist").collect()
      Expected(o.getLong(0), h.getLong(0), BigDecimal(b.getDecimal(0)), BigDecimal(d.getDecimal(0)),
        d.getLong(1), o.getLong(1))
    }

    /** True when the tables hold what the committed transactions imply. */
    def consistent(): Boolean = {
      val got = observed()
      if (got != exp) Main.warn(s"invariant broken: expected $exp, observed $got")
      got == exp
    }

    def planNodes: Long =
      tables.map(n => catalog.table(n).queryExecution.logical.collect { case x => x }.size.toLong).sum

    /** Runs one transaction; one that throws is rolled back so the next
      * transaction starts clean. */
    def txn(kind: String): Boolean =
      try body(kind)
      catch { case e: Throwable => if (p.inTransaction) p.sql("ROLLBACK"); throw e }

    private def body(kind: String): Boolean = kind match {
      case "new_order" =>
        val cu = customer(); val d = cu % 10; val amt = amount()
        sql("dml", "BEGIN")
        val Array(r) = read(s"SELECT d_next_o_id FROM district WHERE d_id = $d")
        val oid = (d + 1) * 10000000L + r.getLong(0)
        sql("dml", s"UPDATE district SET d_next_o_id = d_next_o_id + 1 WHERE d_id = $d")
        sql("dml", s"INSERT INTO ord VALUES (CAST($oid AS BIGINT), CAST($cu AS BIGINT), 'O', $d, " +
          s"CAST($amt AS DECIMAL(18,2)))")
        commit() && { exp = exp.copy(orders = exp.orders + 1, nextIds = exp.nextIds + 1); true }
      case "payment" =>
        val cu = customer(); val amt = amount()
        sql("dml", "BEGIN")
        sql("dml", s"UPDATE cust SET c_balance = c_balance - CAST($amt AS DECIMAL(18,2)) WHERE c_custkey = $cu")
        sql("dml", s"UPDATE district SET d_ytd = d_ytd + CAST($amt AS DECIMAL(18,2)) WHERE d_id = ${cu % 10}")
        sql("dml", s"INSERT INTO hist VALUES (CAST($cu AS BIGINT), CAST($amt AS DECIMAL(18,2)))")
        commit() && {
          exp = exp.copy(hist = exp.hist + 1, balance = exp.balance - amt, ytd = exp.ytd + amt); true
        }
      case "order_status" =>
        val cu = customer()
        read(s"SELECT c_balance FROM cust WHERE c_custkey = $cu").length == 1 && {
          read(s"SELECT o_orderkey, o_orderstatus FROM ord WHERE o_custkey = $cu " +
            "ORDER BY o_orderkey DESC LIMIT 1")
          true
        }
      case "delivery" =>
        // three districts of the ten, chosen by the seed
        val ds = rng.shuffle((0 until 10).toList).take(3)
        sql("dml", "BEGIN")
        var credited = BigDecimal(0)
        var n = 0L
        ds.foreach { d =>
          val Array(m) = read(s"SELECT MIN(o_orderkey) FROM ord WHERE o_orderstatus = 'O' AND o_d_id = $d")
          if (!m.isNullAt(0)) {
            val oid = m.getLong(0)
            val Array(o) = read(s"SELECT o_custkey, o_amount FROM ord WHERE o_orderkey = $oid")
            sql("dml", s"UPDATE ord SET o_orderstatus = 'F' WHERE o_orderkey = $oid")
            val amt = BigDecimal(o.getDecimal(1))
            sql("dml", s"UPDATE cust SET c_balance = c_balance + CAST($amt AS DECIMAL(18,2)) " +
              s"WHERE c_custkey = ${o.getLong(0)}")
            credited += amt
            n += 1
          }
        }
        commit() && { exp = exp.copy(balance = exp.balance + credited, delivered = exp.delivered + n); true }
      case "stock_level" =>
        val d = rng.nextInt(10)
        read(s"SELECT COUNT(DISTINCT o_custkey) FROM ord WHERE o_d_id = $d AND o_orderstatus = 'O'").length == 1
    }
  }

  private val wh = new Warehouse(spark, seed)
  private var conflicts0 = 0L
  private var lastPlanNodes = 0L

  /** Tables resolve here, once per warehouse. The measured warehouse and
    * cores - 1 others then each run [[WarmupRounds]] untimed rounds, all at
    * the same time. */
  def setup(): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val all = wh +: (1 until cores).map(c => new Warehouse(spark.newSession(), seed * 1009 + c))
    val threads = all.map { x =>
      val t = new Thread(() => {
        x.setup()
        (1 to WarmupRounds).foreach(_ => round(x, new Window, block))
      }, "perfbench-warmup")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** One round of `x`: fresh tables, the given timed transactions, then the
    * invariant check, which marks every transaction of a round that broke
    * an invariant as failed. Returns the timed nanoseconds. */
  private def round(x: Warehouse, w: Window, kinds: Seq[String]): Long = {
    x.reset()
    val t0 = System.nanoTime()
    kinds.foreach { k => val id = op.incrementAndGet(); w.time(k)(Trace.op(sc, id)(x.txn(k))) }
    val dt = System.nanoTime() - t0
    Main.warn(f"round ${dt / 1e6}%.0f ms")
    if (x eq wh) lastPlanNodes = x.planNodes
    if (!x.consistent()) w.failed = w.attempted min (w.failed + kinds.size)
    dt
  }

  def run(seconds: Int): Window = {
    val w = new Window
    var rounds = 0
    while (rounds < 2 || w.wallNs < seconds * 1000000000L) { w.wallNs += round(wh, w, block); rounds += 1 }
    w
  }

  override def beginTrace(): Unit = conflicts0 = wh.conflicts
  override def layerCounts: Map[String, Double] =
    Map("conflicts" -> (wh.conflicts - conflicts0).toDouble, "plan_nodes" -> lastPlanNodes.toDouble)

  /** The invariants were checked after each round. */
  def check(w: Window): Unit = ()
}
