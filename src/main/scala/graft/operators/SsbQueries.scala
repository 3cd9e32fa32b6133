package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star Schema Benchmark (SSB) — the reference's second OLAP suite
  * (reference: src/benchmark/star_schema_benchmark.cpp) — adapted to the
  * driver's TPC-H-ish fixture schema. SSB's denormalized `lineorder` is
  * lineitem ⋈ orders here; the date dimension is derived from o_orderdate;
  * city-level attributes (absent in the fixture) fall back to nation level;
  * `ps_supplycost` (no partsupp table) is substituted by 0.6 × p_retailprice,
  * documented per query. All four flights are covered (Q1.1–Q4.3):
  *
  *  - Flight 1: date-sliced discount-band scans — revenue = Σ extprice·discount
  *  - Flight 2: part-category × supplier-region drill-down by (year, brand)
  *  - Flight 3: customer⋈supplier geography over year ranges
  *  - Flight 4: profit = Σ (extprice·(1−discount) − 0.6·retailprice·quantity)
  *
  * Scale notes: every flight joins the two facts once on orderkey; dimension
  * joins broadcast (region/nation/part/supplier are fixed-size or slow-growing
  * — the same hint policy as TpchQueries); all money arithmetic runs in exact
  * DECIMAL inside codegen (Det) so partial aggregation order cannot perturb
  * the oracle hash. */
object SsbQueries {
  import Det._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.df(s, dir, n)

  /** lineitem ⋈ orders — SSB's lineorder. One fact-fact shuffle on orderkey. */
  private def lineorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").join(t(s, dir, "orders"),
      col("l_orderkey") === col("o_orderkey"))

  private def supNation(s: SparkSession, dir: String): DataFrame =
    broadcast(t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name").as("s_nation"), col("r_name").as("s_region")))

  private def custNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name").as("c_nation"), col("r_name").as("c_region"))

  private val custNationSql =
    """SELECT c_custkey, n_name AS c_nation, r_name AS c_region
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin
  private val supNationSql =
    """SELECT s_suppkey, n_name AS s_nation, r_name AS s_region
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin

  private def discRevenue: Column =
    asDouble(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
  private val discRevenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  private def netRevenue: Column =
    asDouble(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
  private val netRevenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  private def profit: Column =
    asDouble(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
      - lit("0.6").cast("decimal(2,1)") * dec(col("p_retailprice")) * dec(col("l_quantity"))))
  private val profitSql =
    """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      | - CAST(0.6 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)""".stripMargin.replace("\n", "")

  // ------------------------------------------------------------- flight 1

  private def flight1(name: String, yearLo: String, yearHi: String,
      discLo: Double, discHi: Double, qtyCond: String, qtyCol: Column => Column): Q = Q(
    name,
    s"""SELECT $discRevenueSql AS revenue, COUNT(*) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderdate >= TIMESTAMP '$yearLo' AND o_orderdate < TIMESTAMP '$yearHi'
       |  AND l_discount BETWEEN $discLo AND $discHi AND $qtyCond""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .filter(col("o_orderdate") >= yearLo && col("o_orderdate") < yearHi)
      .filter(col("l_discount").between(discLo, discHi))
      .filter(qtyCol(col("l_quantity")))
      .agg(discRevenue.as("revenue"), count(lit(1)).as("n"))
  }

  val q1_1: Q = flight1("ssb_q1_1", "1997-01-01 00:00:00", "1998-01-01 00:00:00",
    0.01, 0.03, "l_quantity < 25", _ < 25)
  val q1_2: Q = flight1("ssb_q1_2", "1997-06-01 00:00:00", "1997-07-01 00:00:00",
    0.04, 0.06, "l_quantity BETWEEN 26 AND 35", c => c.between(26, 35))
  val q1_3: Q = flight1("ssb_q1_3", "1998-01-01 00:00:00", "1998-02-01 00:00:00",
    0.05, 0.07, "l_quantity BETWEEN 36 AND 40", c => c.between(36, 40))

  // ------------------------------------------------------------- flight 2

  private def flight2(name: String, partCond: String, partCol: DataFrame => DataFrame,
      region: String): Q = Q(
    name,
    s"""SELECT year(o_orderdate) AS d_year, p_brand, $netRevenueSql AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN ($supNationSql) s ON l_suppkey = s_suppkey
       |WHERE $partCond AND s_region = '$region'
       |GROUP BY d_year, p_brand ORDER BY d_year, p_brand""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .join(broadcast(partCol(t(s, dir, "part"))), col("l_partkey") === col("p_partkey"))
      .join(supNation(s, dir).filter(col("s_region") === region),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("d_year"), col("p_brand"))
      .agg(netRevenue.as("revenue"))
      .orderBy("d_year", "p_brand")
  }

  val q2_1: Q = flight2("ssb_q2_1", "p_type = 'ECONOMY'", _.filter(col("p_type") === "ECONOMY"), "AMERICA")
  val q2_2: Q = flight2("ssb_q2_2", "p_brand BETWEEN 'Brand#3' AND 'Brand#5'",
    _.filter(col("p_brand").between("Brand#3", "Brand#5")), "ASIA")
  val q2_3: Q = flight2("ssb_q2_3", "p_brand = 'Brand#7'", _.filter(col("p_brand") === "Brand#7"), "EUROPE")

  // ------------------------------------------------------------- flight 3

  private def flight3(name: String, geoCondSql: String,
      custF: DataFrame => DataFrame, supF: DataFrame => DataFrame,
      dateCondSql: String, dateF: Column): Q = Q(
    name,
    s"""SELECT c_nation, s_nation, year(o_orderdate) AS d_year, $netRevenueSql AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN ($custNationSql) c ON o_custkey = c_custkey
       |JOIN ($supNationSql) s ON l_suppkey = s_suppkey
       |WHERE $geoCondSql AND $dateCondSql
       |GROUP BY c_nation, s_nation, d_year
       |ORDER BY d_year, revenue DESC, c_nation, s_nation""".stripMargin) { (s, dir) =>
    // Deliberately NOT eager-aggregated (unlike q4_1): a pre-agg keyed on
    // (custkey, s_nation, d_year) barely collapses — a customer's handful of
    // orders spread across nation×year cells leave ~1-2 lines per group, so
    // the extra ~70M-group hash agg is pure overhead. Measured at SF100
    // (same layout/data, solo best-of-2): join-first 45.1 s vs eager-agg
    // variant 100.9 s. Eager aggregation pays only when the group count is
    // far below the input row count (see q4_1, where it wins 3.4×).
    lineorder(s, dir).filter(dateF)
      .join(custF(custNation(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(supF(supNation(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nation"), col("s_nation"), year(col("o_orderdate")).as("d_year"))
      .agg(netRevenue.as("revenue"))
      .orderBy(col("d_year"), col("revenue").desc, col("c_nation"), col("s_nation"))
  }

  private val years9699 =
    ("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'",
      col("o_orderdate") >= "1996-01-01 00:00:00" && col("o_orderdate") < "2000-01-01 00:00:00")

  val q3_1: Q = flight3("ssb_q3_1",
    "c_region = 'ASIA' AND s_region = 'ASIA'",
    _.filter(col("c_region") === "ASIA"), _.filter(col("s_region") === "ASIA"),
    years9699._1, years9699._2)
  val q3_2: Q = flight3("ssb_q3_2",
    "c_region = 'AMERICA' AND s_region = 'AMERICA'",
    _.filter(col("c_region") === "AMERICA"), _.filter(col("s_region") === "AMERICA"),
    years9699._1, years9699._2)
  val q3_3: Q = flight3("ssb_q3_3",
    "c_nation IN ('NATION_5','NATION_7') AND s_nation IN ('NATION_5','NATION_7')",
    _.filter(col("c_nation").isin("NATION_5", "NATION_7")),
    _.filter(col("s_nation").isin("NATION_5", "NATION_7")),
    years9699._1, years9699._2)
  val q3_4: Q = flight3("ssb_q3_4",
    "c_nation IN ('NATION_5','NATION_7') AND s_nation IN ('NATION_5','NATION_7')",
    _.filter(col("c_nation").isin("NATION_5", "NATION_7")),
    _.filter(col("s_nation").isin("NATION_5", "NATION_7")),
    "o_orderdate >= TIMESTAMP '1997-12-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'",
    col("o_orderdate") >= "1997-12-01 00:00:00" && col("o_orderdate") < "1998-01-01 00:00:00")

  // ------------------------------------------------------------- flight 4

  val q4_1: Q = Q(
    "ssb_q4_1",
    s"""SELECT year(o_orderdate) AS d_year, c_nation, $profitSql AS profit
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN ($custNationSql) c ON o_custkey = c_custkey
       |JOIN ($supNationSql) s ON l_suppkey = s_suppkey
       |WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
       |  AND p_type IN ('ECONOMY','STANDARD')
       |GROUP BY d_year, c_nation ORDER BY d_year, c_nation""".stripMargin) { (s, dir) =>
    // Same eager-aggregation shape as flight 3: both broadcast dims resolve
    // per-line profit terms first, profit is pre-summed per (custkey, year)
    // after the orderkey join, and only then does the SF-proportional
    // customer dim join — on a collapsed narrow stream instead of every
    // joined lineitem row. Exact-decimal re-summation, bit-identical double.
    val lines = t(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity")
      .join(broadcast(t(s, dir, "part").filter(col("p_type").isin("ECONOMY", "STANDARD"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(supNation(s, dir).filter(col("s_region") === "AMERICA"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          - lit("0.6").cast("decimal(2,1)") * dec(col("p_retailprice")) * dec(col("l_quantity")))
          .as("profit_term"))
    // r13 ADVICE follow-up, measured and kept: semi-reducing orders by the
    // AMERICA custkeys BEFORE the pre-agg (q4_2's trick) prunes the ~4/5 of
    // pre-agg groups the customer join would discard anyway — sound because
    // that join is inner on c_custkey, so early semi ≡ late inner for the
    // kept rows. SF100 same-session solo best-of-2 (bucketed layout):
    // 16.14 → 14.34 s (1.13×).
    val americaOrders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(custNation(s, dir).filter(col("c_region") === "AMERICA").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
    val perCust = lines
      .join(americaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("d_year"))
      .agg(sum(col("profit_term")).as("profit_dec"))
    perCust.join(custNation(s, dir).filter(col("c_region") === "AMERICA"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("d_year"), col("c_nation"))
      .agg(asDouble(sum(col("profit_dec"))).as("profit"))
      .orderBy("d_year", "c_nation")
  }

  val q4_2: Q = Q(
    "ssb_q4_2",
    s"""SELECT year(o_orderdate) AS d_year, s_nation, p_type, $profitSql AS profit
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN ($custNationSql) c ON o_custkey = c_custkey
       |JOIN ($supNationSql) s ON l_suppkey = s_suppkey
       |WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY d_year, s_nation, p_type ORDER BY d_year, s_nation, p_type""".stripMargin) { (s, dir) =>
    // No customer COLUMN reaches the output — the customer join is a pure
    // region filter, and c_custkey's uniqueness means inner ≡ semi. Semi-
    // reducing ORDERS (the narrow 2-column side) by the AMERICA custkeys
    // replaces the old plan's custkey exchange of every joined lineitem row;
    // the fact join then runs once on the pre-filtered orders.
    val americaOrders = t(s, dir, "orders")
      .filter(col("o_orderdate") >= "1997-01-01 00:00:00" && col("o_orderdate") < "1999-01-01 00:00:00")
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(custNation(s, dir).filter(col("c_region") === "AMERICA").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
    t(s, dir, "lineitem")
      .join(americaOrders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(supNation(s, dir).filter(col("s_region") === "AMERICA"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("d_year"), col("s_nation"), col("p_type"))
      .agg(profit.as("profit"))
      .orderBy("d_year", "s_nation", "p_type")
  }

  val q4_3: Q = Q(
    "ssb_q4_3",
    s"""SELECT year(o_orderdate) AS d_year, p_brand, $profitSql AS profit
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN ($supNationSql) s ON l_suppkey = s_suppkey
       |WHERE s_nation = 'NATION_3'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY d_year, p_brand ORDER BY d_year, p_brand""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .filter(col("o_orderdate") >= "1997-01-01 00:00:00" && col("o_orderdate") < "1999-01-01 00:00:00")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(supNation(s, dir).filter(col("s_nation") === "NATION_3"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("d_year"), col("p_brand"))
      .agg(profit.as("profit"))
      .orderBy("d_year", "p_brand")
  }

  /** Bench-floor probe (r15 SSB audit): the flights' shared substrate — the
    * full fact scan plus the orderkey fact⋈fact join — with a bare COUNT on
    * top. On a bucketed layout this is scan + zero-exchange in-bucket merge
    * + count: the cheapest possible program touching both facts. The SF100
    * gap between this and a flight's time IS the flight's own work (dim
    * probes + aggregation); a flight within ~2× of the floor is
    * fact-volume-bound and has no rewrite headroom short of a precomputed
    * state (see BASELINE.md SSB audit). */
  val floorProbe: Q = Q(
    "ssb_floor_lineorder_count",
    "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey") { (s, dir) =>
    lineorder(s, dir).agg(count(lit(1)).as("n"))
  }

  val all: Seq[Q] = Seq(
    q1_1, q1_2, q1_3, q2_1, q2_2, q2_3, q3_1, q3_2, q3_3, q3_4, q4_1, q4_2, q4_3,
    floorProbe)
}
