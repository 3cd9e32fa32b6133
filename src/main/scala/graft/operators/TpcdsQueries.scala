package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-DS — the reference's third OLAP suite (reference:
  * src/benchmark/tpcds_benchmark.cpp, queries under
  * resources/benchmark/tpcds/) — its distinctive query *shapes* adapted to the
  * driver's fixture schema, the same treatment SsbQueries gives SSB. TPC-DS
  * differs from TPC-H less in its schema than in its operator shapes, so each
  * query here reproduces one shape the TPC-H/SSB sets don't cover:
  *
  *  - Q1:  CTE aggregate filtered against 1.2× its group average
  *  - Q2:  year-over-year self-join of a periodic aggregate (+ the
  *         week-over-week UNION variant, `q2WowUnion`)
  *  - Q5:  channel UNION ALL rolled up with ROLLUP
  *  - Q38: INTERSECT of per-period customer sets
  *  - Q47: windowed deviation from a yearly average with lag/lead context
  *  - Q67: top-k per group over a ROLLUP lattice
  *  - Q10: conjunction of EXISTS / NOT EXISTS membership probes
  *  - Q88: many band-restricted counts of one fact table in a single statement
  *  - …and 41 further shapes across seven waves (49 total — see `all`,
  *    matching the count of the reference's ~49 runnable queries): CTE
  *    cascades, 3-channel deltas/rollups, OR'd demographic bands, fact
  *    chains, correlated per-group and global averages (division-free),
  *    lattice ranks over GROUPING levels, class shares in integer ppm,
  *    latency histograms — the reference executes ~49 of the 103 official
  *    queries (resources/benchmark/tpcds/query_excludelist.cfg); every
  *    distinctive runnable family is represented here
  *
  * Determinism: every threshold that TPC-DS writes as `x > 1.2 * AVG(...)` is
  * algebraically cleared of division (`total * n > 1.2 * group_sum` with exact
  * DECIMAL sums) so the filter boundary cannot flip on a last-ulp divide —
  * both engines then compare identical decimals.
  *
  * Scale notes: facts join once on their natural key and every aggregate is
  * keyed (map-side partial agg); windows partition by group keys (no global
  * window); Q88 deliberately rewrites TPC-DS's eight self-scans as ONE scan
  * with eight FILTERed aggregates — on 100 TB that is the difference between
  * one pass and eight. */
object TpcdsQueries {
  import Det._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.df(s, dir, n)

  private def lineorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").join(t(s, dir, "orders"),
      col("l_orderkey") === col("o_orderkey"))

  private def netRev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
  private val netRevSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** Q78's NOT EXISTS as a literal anti-join on (l_orderkey, l_linenumber):
    * rows whose key group holds no 'R' row. The fixtures carry duplicate
    * keys with mixed flags, so no row-local returnflag predicate is
    * equivalent. */
  private def keepNonReturned(li: DataFrame): DataFrame = {
    val r = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_ok"), col("l_linenumber").as("r_ln"))
    li.join(r,
      col("l_orderkey") === col("r_ok") && col("l_linenumber") === col("r_ln"),
      "left_anti")
  }

  // ---------------------------------------------------------------- Q1 shape
  // (tpcds query1: customers whose return total exceeds 1.2× the average
  //  return total of their state). Returns here = 'R'-flagged lineitems;
  // state → nation. Division-free: total * n_cust > 1.2 * nation_total.
  val q1ReturnsAboveAvg: Q = Q(
    "tpcds_q1_returns_above_avg",
    s"""WITH ctr AS (
       |  SELECT o_custkey AS cust, n_name,
       |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_returnflag = 'R'
       |  GROUP BY o_custkey, n_name)
       |SELECT cust, n_name, CAST(total AS DOUBLE) AS total
       |FROM (SELECT cust, n_name, total,
       |        SUM(total) OVER (PARTITION BY n_name) AS nat_sum,
       |        COUNT(*) OVER (PARTITION BY n_name) AS nat_n
       |      FROM ctr)
       |WHERE total * nat_n > CAST('1.2' AS DECIMAL(2,1)) * nat_sum
       |ORDER BY cust""".stripMargin) { (s, dir) =>
    val ctr = lineorder(s, dir)
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_custkey").as("cust"), col("n_name"))
      .agg(sum(dec(col("l_quantity"))).as("total"))
    val w = Window.partitionBy("n_name")
    ctr
      .withColumn("nat_sum", sum("total").over(w))
      .withColumn("nat_n", count(lit(1)).over(w))
      .filter(col("total") * col("nat_n") >
        lit("1.2").cast("decimal(2,1)") * col("nat_sum"))
      .select(col("cust"), col("n_name"), asDouble(col("total")).as("total"))
      .orderBy("cust")
  }

  // ---------------------------------------------------------------- Q2 shape
  // (tpcds query2: week-over-week share across two consecutive years, joined
  //  on the period index). Period = month; years 1997 vs 1998.
  val q2YoyMonthly: Q = Q(
    "tpcds_q2_yoy_monthly",
    s"""SELECT a.m AS m, a.rev AS rev_1997, b.rev AS rev_1998
       |FROM (SELECT month(o_orderdate) AS m, CAST(SUM($netRevSql) AS DOUBLE) AS rev
       |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |      WHERE year(o_orderdate) = 1997 GROUP BY 1) a
       |JOIN (SELECT month(o_orderdate) AS m, CAST(SUM($netRevSql) AS DOUBLE) AS rev
       |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |      WHERE year(o_orderdate) = 1998 GROUP BY 1) b
       |ON a.m = b.m
       |ORDER BY m""".stripMargin) { (s, dir) =>
    def yearRev(y: Int): DataFrame = lineorder(s, dir)
      .filter(year(col("o_orderdate")) === y)
      .groupBy(month(col("o_orderdate")).as("m"))
      .agg(asDouble(sum(netRev)).as("rev"))
    val a = yearRev(1997).withColumnRenamed("rev", "rev_1997")
    val b = yearRev(1998).withColumnRenamed("rev", "rev_1998")
    a.join(b, "m").select("m", "rev_1997", "rev_1998").orderBy("m")
  }

  // ---------------------------------------------------------------- Q5 shape
  // (tpcds query5: per-channel sales+returns unioned then ROLLUPed). Channels
  // here: shipped rows vs returned rows of the fact, second level l_shipmode
  // substitute = o_orderpriority.
  val q5RollupChannels: Q = Q(
    "tpcds_q5_rollup_channels",
    s"""SELECT channel, o_orderpriority,
       |  CAST(SUM(rev) AS DOUBLE) AS revenue, COUNT(*) AS n
       |FROM (
       |  SELECT 'catalog' AS channel, o_orderpriority, $netRevSql AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag <> 'R'
       |  UNION ALL
       |  SELECT 'returns' AS channel, o_orderpriority, -($netRevSql) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R')
       |GROUP BY ROLLUP(channel, o_orderpriority)
       |ORDER BY channel NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    // TPC-DS unions per-channel SCANS because its channels are distinct
    // tables; here both channels derive from one fact, so the Spark-first
    // plan reads and joins it ONCE and derives the channel column — half the
    // scan and shuffle cost for identical rows (the oracle keeps the
    // spec-shaped UNION ALL and hash-matches).
    // Deliberately NOT eager-aggregated: a per-(orderkey, channel) pre-agg
    // makes ~250M groups from 600M rows (≈2.4× collapse) — the giant hash
    // agg costs more than it saves when the join-first plan aggregates the
    // narrow joined stream straight down to ~12 rollup cells. Measured at
    // SF100 (same layout/data, solo best-of-2): join-first 87.8 s vs
    // eager-agg variant 130.5 s. Contrast ssb_q4_1, where selective
    // broadcast dims shrink the fact BEFORE a low-cardinality pre-agg and
    // eager aggregation wins 3.4×.
    // The channel is projected as a plain column so [[graft.plans.RollupFromBase]]
    // re-aggregates the coarser levels from the finest (channel, priority)
    // level instead of expanding every joined row three times.
    val returned = col("l_returnflag") === "R"
    lineorder(s, dir)
      .select(when(returned, "returns").otherwise("catalog").as("channel"),
        col("o_orderpriority"), when(returned, -netRev).otherwise(netRev).as("rev"))
      .rollup(col("channel"), col("o_orderpriority"))
      .agg(asDouble(sum(col("rev"))).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("channel").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  // --------------------------------------------------------------- Q38 shape
  // (tpcds query38: COUNT(*) of customers present in all three channels via
  //  INTERSECT). Channels → three consecutive months of 1997.
  val q38IntersectCustomers: Q = Q(
    "tpcds_q38_intersect_customers",
    """SELECT COUNT(*) AS n_loyal FROM (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 1
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 2
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 3)""".stripMargin) { (s, dir) =>
    def custIn(m: Int): DataFrame = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1997 && month(col("o_orderdate")) === m)
      .select("o_custkey").distinct()
    custIn(1).intersect(custIn(2)).intersect(custIn(3))
      .agg(count(lit(1)).as("n_loyal"))
  }

  // --------------------------------------------------------------- Q47 shape
  // (tpcds query47: monthly sales whose deviation from the yearly average
  //  exceeds 10%, reported with the neighboring months). Division-free:
  //  |12·rev − ysum| · 10 > ysum  ⇔  |rev − ysum/12| / (ysum/12) > 0.1.
  val q47MavgOutliers: Q = Q(
    "tpcds_q47_mavg_outliers",
    s"""WITH monthly AS (
       |  SELECT p_brand, year(o_orderdate) AS y, month(o_orderdate) AS m,
       |    SUM($netRevSql) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2, 3)
       |SELECT p_brand, y, m, CAST(rev AS DOUBLE) AS rev,
       |  CAST(lag(rev) OVER w AS DOUBLE) AS prev_rev,
       |  CAST(lead(rev) OVER w AS DOUBLE) AS next_rev
       |FROM (
       |  SELECT p_brand, y, m, rev,
       |    SUM(rev) OVER (PARTITION BY p_brand, y) AS ysum,
       |    COUNT(*) OVER (PARTITION BY p_brand, y) AS yn
       |  FROM monthly)
       |WHERE abs(rev * yn - ysum) * 10 > ysum * 1
       |WINDOW w AS (PARTITION BY p_brand ORDER BY y, m)
       |ORDER BY p_brand, y, m""".stripMargin) { (s, dir) =>
    val monthly = lineorder(s, dir)
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(sum(netRev).as("rev"))
    val wy = Window.partitionBy("p_brand", "y")
    val wseq = Window.partitionBy("p_brand").orderBy("y", "m")
    monthly
      .withColumn("ysum", sum("rev").over(wy))
      .withColumn("yn", count(lit(1)).over(wy))
      // filter BEFORE lag/lead: SQL evaluates WHERE before window functions,
      // so the neighbors are the neighboring *outlier* months — match that
      .filter(abs(col("rev") * col("yn") - col("ysum")) * 10 > col("ysum") * 1)
      .withColumn("prev_rev", asDouble(lag("rev", 1).over(wseq)))
      .withColumn("next_rev", asDouble(lead("rev", 1).over(wseq)))
      .select(col("p_brand"), col("y"), col("m"), asDouble(col("rev")).as("rev"),
        col("prev_rev"), col("next_rev"))
      .orderBy("p_brand", "y", "m")
  }

  // --------------------------------------------------------------- Q67 shape
  // (tpcds query67: rank items inside each category over a ROLLUP lattice,
  //  keep the top k). Category = p_type, item = p_brand, k = 3. The rank is
  // computed on the exact DECIMAL sum (cast to double only on output) so tie
  // order cannot diverge between engines.
  val q67TopkRollup: Q = Q(
    "tpcds_q67_topk_rollup",
    s"""SELECT p_type, p_brand, CAST(rev AS DOUBLE) AS revenue, rk FROM (
       |  SELECT p_type, p_brand, rev,
       |    rank() OVER (PARTITION BY p_type ORDER BY rev DESC, p_brand ASC NULLS FIRST) AS rk
       |  FROM (
       |    SELECT p_type, p_brand, SUM($netRevSql) AS rev
       |    FROM lineitem JOIN part ON l_partkey = p_partkey
       |    GROUP BY ROLLUP(p_type, p_brand)))
       |WHERE rk <= 3
       |ORDER BY p_type NULLS FIRST, rk, p_brand NULLS FIRST""".stripMargin) { (s, dir) =>
    // Spark plans ROLLUP as Expand×3 BELOW the partial aggregate, hashing
    // the 600M-row join output three times at SF100;
    // [[graft.plans.RollupFromBase]] aggregates the finest (type, brand)
    // level once and re-aggregates the coarser levels from its rows.
    val lattice = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .rollup(col("p_type"), col("p_brand"))
      .agg(sum(netRev).as("rev"))
    val w = Window.partitionBy("p_type")
      .orderBy(col("rev").desc, col("p_brand").asc_nulls_first)
    lattice
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= 3)
      .select(col("p_type"), col("p_brand"), asDouble(col("rev")).as("revenue"), col("rk"))
      .orderBy(col("p_type").asc_nulls_first, col("rk"), col("p_brand").asc_nulls_first)
  }

  // --------------------------------------------------------------- Q10 shape
  // (tpcds query10: customers qualified by EXISTS in one channel AND EXISTS
  //  in another AND NOT EXISTS in a third, counted by demographics). Channels
  // → urgent orders / AIR-priority lineitems / returns; demographics →
  // (n_name, c_mktsegment). Plans as two semi joins + one anti join.
  val q10ExistsConjunction: Q = Q(
    "tpcds_q10_exists_conjunction",
    """SELECT n_name, c_mktsegment, COUNT(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderpriority = '1-URGENT')
      |  AND EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |              WHERE o_custkey = c_custkey AND l_quantity >= 45)
      |  AND NOT EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |                  WHERE o_custkey = c_custkey AND l_returnflag = 'R')
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k1"))
    val bigLine = t(s, dir, "orders")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 45),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("k2"))
    val returned = t(s, dir, "orders")
      .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("k3"))
    cust
      .join(urgent, col("c_custkey") === col("k1"), "left_semi")
      .join(bigLine, col("c_custkey") === col("k2"), "left_semi")
      .join(returned, col("c_custkey") === col("k3"), "left_anti")
      .groupBy("n_name", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("n_name", "c_mktsegment")
  }

  // --------------------------------------------------------------- Q88 shape
  // (tpcds query88: eight time-band counts cross-joined into one row). TPC-DS
  // writes this as eight separate scans; the Spark-first plan is ONE scan of
  // `events` with eight FILTERed aggregates — identical result, 8× less I/O,
  // and still one row out. Bands: 3-hour slots of the day for 'click' events.
  // Hour-of-day is pure integer epoch arithmetic (EventsQueries' timestamp
  // convention), so no session-timezone dependence in either engine.
  val q88TimeBands: Q = {
    val bands = (0 until 8).map(i => (i * 3, i * 3 + 3))
    val selSql = bands.map { case (lo, hi) =>
      s"COUNT(*) FILTER (WHERE h >= $lo AND h < $hi) AS h${lo}_$hi"
    }.mkString(",\n  ")
    Q(
      "tpcds_q88_time_bands",
      s"""SELECT
         |  $selSql
         |FROM (SELECT (epoch_us(ts) // 3600000000) % 24 AS h FROM events
         |      WHERE event_type = 'click')""".stripMargin) { (s, dir) =>
      // events.ts reads as nanosecond-epoch long (see Tables.df); DIV to
      // microseconds then epoch-hours exactly like the oracle's epoch_us.
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "click")
        .select((expr("(ts DIV 1000) DIV 3600000000") % 24).as("h"))
      ev.agg(
        bands.head match { case (lo, hi) =>
          count(when(col("h") >= lo && col("h") < hi, 1)).as(s"h${lo}_$hi") },
        bands.tail.map { case (lo, hi) =>
          count(when(col("h") >= lo && col("h") < hi, 1)).as(s"h${lo}_$hi") }: _*)
    }
  }

  // --------------------------------------------------------------- Q51 shape
  // (tpcds query51: running totals of two channels FULL OUTER joined on the
  //  series key, selecting points where one channel's cumulative overtakes
  //  the other). Channels: returned vs kept revenue, series = month of 1997.
  val q51CumulativeCompare: Q = Q(
    "tpcds_q51_cumulative_compare",
    s"""WITH ret AS (
       |  SELECT month(o_orderdate) AS m, SUM($netRevSql) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) = 1997 AND l_returnflag = 'R' GROUP BY 1),
       |kept AS (
       |  SELECT month(o_orderdate) AS m, SUM($netRevSql) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) = 1997 AND l_returnflag <> 'R' GROUP BY 1)
       |SELECT m, CAST(cum_ret AS DOUBLE) AS cum_ret, CAST(cum_kept AS DOUBLE) AS cum_kept
       |FROM (
       |  SELECT COALESCE(ret.m, kept.m) AS m,
       |    SUM(COALESCE(ret.rev, 0)) OVER (ORDER BY COALESCE(ret.m, kept.m)
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ret,
       |    SUM(COALESCE(kept.rev, 0)) OVER (ORDER BY COALESCE(ret.m, kept.m)
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_kept
       |  FROM ret FULL OUTER JOIN kept ON ret.m = kept.m)
       |WHERE cum_ret * 3 > cum_kept
       |ORDER BY m""".stripMargin) { (s, dir) =>
    def channel(cond: org.apache.spark.sql.Column) = lineorder(s, dir)
      .filter(year(col("o_orderdate")) === 1997 && cond)
      .groupBy(month(col("o_orderdate")).as("m"))
      .agg(sum(netRev).as("rev"))
    val ret = channel(col("l_returnflag") === "R")
      .select(col("m").as("rm"), col("rev").as("ret_rev"))
    val kept = channel(col("l_returnflag") =!= "R")
      .select(col("m").as("km"), col("rev").as("kept_rev"))
    // a 12-row series: the FULL OUTER join and the global cumulative window
    // operate on per-month aggregates, not on facts — constant-size state
    val w = Window.orderBy(coalesce(col("rm"), col("km")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ret.join(kept, col("rm") === col("km"), "full_outer")
      .select(
        coalesce(col("rm"), col("km")).as("m"),
        sum(coalesce(col("ret_rev"), lit(0))).over(w).as("cum_ret"),
        sum(coalesce(col("kept_rev"), lit(0))).over(w).as("cum_kept"))
      .filter(col("cum_ret") * 3 > col("cum_kept"))
      .select(col("m"), asDouble(col("cum_ret")).as("cum_ret"),
        asDouble(col("cum_kept")).as("cum_kept"))
      .orderBy("m")
  }

  // --------------------------------------------------------------- Q97 shape
  // (tpcds query97: FULL OUTER membership counting — customers in both /
  //  only-left / only-right across two periods).
  val q97OverlapCounts: Q = Q(
    "tpcds_q97_overlap_counts",
    """SELECT
      |  COUNT(*) FILTER (WHERE a IS NOT NULL AND b IS NOT NULL) AS both_years,
      |  COUNT(*) FILTER (WHERE a IS NOT NULL AND b IS NULL) AS only_1997,
      |  COUNT(*) FILTER (WHERE a IS NULL AND b IS NOT NULL) AS only_1998
      |FROM (SELECT DISTINCT o_custkey AS a FROM orders WHERE year(o_orderdate) = 1997) x
      |FULL OUTER JOIN
      |  (SELECT DISTINCT o_custkey AS b FROM orders WHERE year(o_orderdate) = 1998) y
      |ON a = b""".stripMargin) { (s, dir) =>
    def custs(yr: Int, as: String) = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey").as(as)).distinct()
    custs(1997, "a").join(custs(1998, "b"), col("a") === col("b"), "full_outer")
      .agg(
        count(when(col("a").isNotNull && col("b").isNotNull, 1)).as("both_years"),
        count(when(col("a").isNotNull && col("b").isNull, 1)).as("only_1997"),
        count(when(col("a").isNull && col("b").isNotNull, 1)).as("only_1998"))
  }

  // --------------------------------------------------------------- Q14 shape
  // (tpcds query14: cross_items = items sold in ALL channels via INTERSECT,
  //  then per-channel ROLLUP sales gated by an average-sales threshold).
  // Channels → the three l_returnflag populations; threshold division-free:
  //  group_sum · n_rows > total · 950  ⇔  group_sum > 950 · (total / n).
  // Integer quantities (FLOOR → BIGINT, exact in both engines) keep every
  // comparison overflow- and ulp-free.
  val q14CrossChannel: Q = Q(
    "tpcds_q14_cross_channel",
    """WITH li AS (
      |  SELECT l_returnflag AS channel, l_partkey,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem),
      |ci AS (
      |  SELECT l_partkey FROM li WHERE channel = 'A'
      |  INTERSECT SELECT l_partkey FROM li WHERE channel = 'N'
      |  INTERSECT SELECT l_partkey FROM li WHERE channel = 'R'),
      |tot AS (SELECT SUM(qty) AS t, COUNT(*) AS n FROM li)
      |SELECT channel, p_brand, CAST(SUM(qty) AS BIGINT) AS volume,
      |  COUNT(*) AS n_rows
      |FROM li JOIN part ON l_partkey = p_partkey
      |WHERE l_partkey IN (SELECT l_partkey FROM ci)
      |GROUP BY ROLLUP(channel, p_brand)
      |HAVING SUM(qty) * (SELECT n FROM tot) > (SELECT t FROM tot) * 950
      |ORDER BY channel NULLS FIRST, p_brand NULLS FIRST""".stripMargin) { (s, dir) =>
    // Finest-level shape: one (part, channel, brand) aggregation over
    // the fact⋈part join; all three consumers (channel-membership semi set,
    // 1-row totals, ROLLUP re-aggregate) sit on the SAME aggregate subtree
    // so the physical plan reuses one Exchange (ReuseExchange) — a single
    // fact pass and NO driver-side action (r16: the r15 flat path ran the
    // full aggregation twice, once inside a `.head` domain guard and once
    // for the query; guide §5 "no driver loops in query paths").
    val det3 = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_returnflag").as("channel"), col("p_brand"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_sum"),
        count(lit(1)).as("n"))
    val cross = det3.filter(col("channel").isin("A", "N", "R"))
      .groupBy("l_partkey").agg(count(lit(1)).as("nch"))
      .filter(col("nch") === 3).select("l_partkey")
    val tot = det3.agg(sum(col("qty_sum")).as("t"), sum(col("n")).as("n"))
    det3.join(cross, Seq("l_partkey"), "left_semi")
      .rollup(col("channel"), col("p_brand"))
      .agg(sum(col("qty_sum")).as("volume"), sum(col("n")).as("n_rows"))
      .toDF("channel", "p_brand", "volume", "n_rows")
      .crossJoin(broadcast(tot)) // 1-row totals, never a real cartesian
      .filter(col("volume") * col("n") > col("t") * 950)
      .select("channel", "p_brand", "volume", "n_rows")
      .orderBy(col("channel").asc_nulls_first, col("p_brand").asc_nulls_first)
  }

  // --------------------------------------------------------------- Q23 shape
  // (tpcds query23: frequent_ss_items × best_ss_customer CTE cascade — items
  //  sold on many distinct dates AND customers near the max spend, both
  //  semi-join filters on the final fact scan). Thresholds are SF-invariant:
  //  lines-per-part and the cq/max ratio don't move with scale factor.
  //  Division-free best-customer gate: 2·cq > max  ⇔  cq > max/2.
  val q23FrequentBest: Q = Q(
    "tpcds_q23_frequent_best",
    """WITH lo AS (
      |  SELECT l_partkey, o_custkey, o_orderdate,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |freq AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, COUNT(DISTINCT o_orderdate) AS d FROM lo
      |    WHERE year(o_orderdate) = 1997 GROUP BY l_partkey)
      |  WHERE d >= 4),
      |cust AS (SELECT o_custkey, SUM(qty) AS cq FROM lo GROUP BY o_custkey),
      |best AS (
      |  SELECT o_custkey FROM cust WHERE 2 * cq > (SELECT MAX(cq) FROM cust))
      |SELECT CAST(SUM(price) AS DOUBLE) AS revenue, COUNT(*) AS n_sales
      |FROM lo
      |WHERE year(o_orderdate) = 1998 AND month(o_orderdate) <= 3
      |  AND l_partkey IN (SELECT l_partkey FROM freq)
      |  AND o_custkey IN (SELECT o_custkey FROM best)""".stripMargin) { (s, dir) =>
    val lo = lineorder(s, dir).select(
      col("l_partkey"), col("o_custkey"), col("o_orderdate"),
      floor(col("l_quantity")).cast("long").as("qty"),
      dec(col("l_extendedprice")).as("price"))
    val freq = lo.filter(year(col("o_orderdate")) === 1997)
      .groupBy("l_partkey").agg(countDistinct(col("o_orderdate")).as("d"))
      .filter(col("d") >= 4).select("l_partkey")
    val cust = lo.groupBy("o_custkey").agg(sum(col("qty")).as("cq"))
    val best = cust
      .crossJoin(broadcast(cust.agg(max(col("cq")).as("m"))))
      .filter(col("cq") * 2 > col("m")).select("o_custkey")
    // r16 semi-join order (guide §3): `best` is the near-max-spend set —
    // SF-invariant small (the 2·cq > max gate admits a handful of
    // customers per 150k, ~thousands at SF100) — so it broadcasts and
    // prunes the 1998Q1 slice FIRST; the freq semi join then sees a tiny
    // left side, and its right side reuses the partitioning the d>=4
    // aggregation already established.
    lo.filter(year(col("o_orderdate")) === 1998 && month(col("o_orderdate")) <= 3)
      .join(broadcast(best), Seq("o_custkey"), "left_semi")
      .join(freq, Seq("l_partkey"), "left_semi")
      .agg(asDouble(sum(col("price"))).as("revenue"), count(lit(1)).as("n_sales"))
  }

  // --------------------------------------------------------------- Q72 shape
  // (tpcds query72: the 3-fact inventory join — catalog_sales ⋈ inventory on
  //  (item, following week) with an inventory-shortfall residual, dims
  //  broadcast). Facts here: lineitem ⋈ orders on orderkey (shuffle 1), the
  //  events-derived inventory keyed by (surrogate part, day bucket)
  //  (events shuffle once to aggregate, the joined fact shuffles once on the
  //  composite key), part broadcast for the brand rollout. Day buckets are
  //  calendar-free on the events side (epoch-day % 30) because the fixture's
  //  nanosecond timestamps are read as raw longs; the orders side uses
  //  day-of-month — both engines compute both deterministically.
  val q72InventoryLag: Q = Q(
    "tpcds_q72_inventory_lag",
    """WITH inv AS (
      |  SELECT user_id AS i_key,
      |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) % 30 + 1 AS i_day,
      |    COUNT(*) AS inv_qty
      |  FROM events GROUP BY 1, 2)
      |SELECT p_brand, day(o_orderdate) % 30 + 1 AS sale_day, COUNT(*) AS n_short
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN inv ON i_key = l_partkey % 150 AND i_day = day(o_orderdate) % 30 + 1
      |JOIN part ON p_partkey = l_partkey
      |WHERE inv_qty * 8 < CAST(FLOOR(l_quantity) AS BIGINT)
      |GROUP BY p_brand, sale_day
      |ORDER BY p_brand, sale_day""".stripMargin) { (s, dir) =>
    val inv = t(s, dir, "events")
      .groupBy(col("user_id").as("i_key"),
        (expr("(ts DIV 1000) DIV 86400000000") % 30 + 1).as("i_day"))
      .agg(count(lit(1)).as("inv_qty"))
    lineorder(s, dir)
      .withColumn("sale_day", dayofmonth(col("o_orderdate")) % 30 + 1)
      .join(inv, col("i_key") === col("l_partkey") % 150 &&
        col("i_day") === col("sale_day"))
      .filter(col("inv_qty") * 8 < floor(col("l_quantity")).cast("long"))
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand", "sale_day")
      .agg(count(lit(1)).as("n_short"))
      .orderBy("p_brand", "sale_day")
  }

  // --------------------------------------------------------------- Q34 shape
  // (tpcds query34: ticket-size band — orders whose per-ticket item count
  //  falls in a narrow band, re-joined to the customer dimension). The
  //  dependent-aggregate band filter runs BEFORE the dim joins, so only the
  //  banded slice of orders ever reaches the join — the iceberg-then-enrich
  //  pattern.
  val q34TicketBand: Q = Q(
    "tpcds_q34_ticket_band",
    """SELECT c_custkey, c_name, o_orderkey, cnt
      |FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
      |      GROUP BY l_orderkey HAVING COUNT(*) BETWEEN 6 AND 7) t
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val banded = t(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").between(6, 7))
    banded
      .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "cnt")
      .orderBy("c_custkey", "o_orderkey")
  }

  // --------------------------------------------------------------- Q64 shape
  // (tpcds query64: the same item observed across two consecutive years with
  //  a margin condition between the periods — per-(item, year) aggregate
  //  self-joined on the item with a year-lag equi condition and a
  //  division-free cross-period comparison 2·rev2 > 3·rev1.)
  val q64ResaleMargin: Q = Q(
    "tpcds_q64_resale_margin",
    s"""WITH iy AS (
       |  SELECT l_partkey, year(o_orderdate) AS y,
       |    SUM($netRevSql) AS rev, COUNT(*) AS n
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY l_partkey, year(o_orderdate))
       |SELECT a.l_partkey AS partkey, a.y AS y1,
       |  CAST(a.rev AS DOUBLE) AS rev1, CAST(b.rev AS DOUBLE) AS rev2,
       |  a.n AS n1, b.n AS n2
       |FROM iy a JOIN iy b ON a.l_partkey = b.l_partkey AND b.y = a.y + 1
       |WHERE 2 * b.rev > 3 * a.rev
       |ORDER BY partkey, y1""".stripMargin) { (s, dir) =>
    val iy = lineorder(s, dir)
      .groupBy(col("l_partkey"), year(col("o_orderdate")).as("y"))
      .agg(sum(netRev).as("rev"), count(lit(1)).as("n"))
    val a = iy.select(col("l_partkey").as("partkey"), col("y").as("y1"),
      col("rev").as("rev_a"), col("n").as("n1"))
    val b = iy.select(col("l_partkey").as("pk_b"), col("y").as("y2"),
      col("rev").as("rev_b"), col("n").as("n2"))
    a.join(b, col("pk_b") === col("partkey") && col("y2") === col("y1") + 1)
      .filter(col("rev_b") * 2 > col("rev_a") * 3)
      .select(col("partkey"), col("y1"),
        asDouble(col("rev_a")).as("rev1"), asDouble(col("rev_b")).as("rev2"),
        col("n1"), col("n2"))
      .orderBy("partkey", "y1")
  }

  // --------------------------------------------------------------- Q95 shape
  // (tpcds query95: correlated EXISTS against the SAME fact — web orders
  //  shipped from more than one warehouse and never returned. Here: orders
  //  with lines from ≥2 distinct suppliers and no 'R' line.) Both membership
  //  probes are keyed joins on l_orderkey (semi + anti); no per-row subquery
  //  execution survives the plan.
  val q95MultiSupplier: Q = Q(
    "tpcds_q95_multi_supplier",
    """SELECT COUNT(*) AS n_orders FROM (
      |  SELECT DISTINCT a.l_orderkey
      |  FROM lineitem a
      |  WHERE EXISTS (SELECT 1 FROM lineitem b
      |                WHERE b.l_orderkey = a.l_orderkey
      |                  AND b.l_suppkey <> a.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM lineitem r
      |                    WHERE r.l_orderkey = a.l_orderkey
      |                      AND r.l_returnflag = 'R'))""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    val a = li.select(col("l_orderkey").as("ka"), col("l_suppkey").as("sa"))
    val b = li.select(col("l_orderkey").as("kb"), col("l_suppkey").as("sb"))
    val returns = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("kr"))
    a.join(b, col("kb") === col("ka") && col("sb") =!= col("sa"), "left_semi")
      .join(returns, col("kr") === col("ka"), "left_anti")
      .select(col("ka")).distinct()
      .agg(count(lit(1)).as("n_orders"))
  }

  // --------------------------------------------------------------- Q11 shape
  // (tpcds query11: customers whose year-over-year growth in one channel
  //  outpaces their growth in another — the year_total CTE self-joined FOUR
  //  times on customer). Channels → the 'N'/'A' returnflag populations, years
  //  1997→1998. TPC-DS's four self-scans collapse to ONE fact pass with four
  //  FILTERed aggregates (the Q88 treatment — at 100 TB one scan, not four),
  //  and the growth comparison w98/w97 > s98/s97 is cleared of division by
  //  cross-multiplying exact DECIMAL sums (positive-denominator guards keep
  //  the inequality direction): w98·s97 > s98·w97.
  val q11YoyGrowth: Q = Q(
    "tpcds_q11_yoy_growth",
    s"""SELECT cust, c_name,
       |  CAST(s97 AS DOUBLE) AS s97, CAST(s98 AS DOUBLE) AS s98,
       |  CAST(w97 AS DOUBLE) AS w97, CAST(w98 AS DOUBLE) AS w98
       |FROM (
       |  SELECT o_custkey AS cust, c_name,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'N' AND year(o_orderdate) = 1997), 0) AS s97,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'N' AND year(o_orderdate) = 1998), 0) AS s98,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'A' AND year(o_orderdate) = 1997), 0) AS w97,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'A' AND year(o_orderdate) = 1998), 0) AS w98
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE year(o_orderdate) IN (1997, 1998)
       |  GROUP BY o_custkey, c_name)
       |WHERE s97 > 0 AND w97 > 0 AND w98 * s97 > s98 * w97
       |ORDER BY cust""".stripMargin) { (s, dir) =>
    def chanYear(flag: String, y: Int): org.apache.spark.sql.Column =
      coalesce(sum(when(col("l_returnflag") === flag &&
        year(col("o_orderdate")) === y, netRev)), lit(0).cast("decimal(18,2)"))
    lineorder(s, dir)
      .filter(year(col("o_orderdate")).isin(1997, 1998))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey").as("cust"), col("c_name"))
      .agg(chanYear("N", 1997).as("s97"), chanYear("N", 1998).as("s98"),
        chanYear("A", 1997).as("w97"), chanYear("A", 1998).as("w98"))
      .filter(col("s97") > 0 && col("w97") > 0 &&
        col("w98") * col("s97") > col("s98") * col("w97"))
      .select(col("cust"), col("c_name"), asDouble(col("s97")).as("s97"),
        asDouble(col("s98")).as("s98"), asDouble(col("w97")).as("w97"),
        asDouble(col("w98")).as("w98"))
      .orderBy("cust")
  }

  // --------------------------------------------------------------- Q49 shape
  // (tpcds query49: per-channel "worst return ratio" items, DUAL-ranked by
  //  quantity ratio and currency ratio, keeping items in the top tier of
  //  EITHER ranking, channels unioned). Channels → the 'O'/'F' linestatus
  //  populations; returns → 'R'-flagged rows inside each channel. The ratio
  //  is one IEEE divide of two exact BIGINTs (deterministic in both engines);
  //  ranks are ROW_NUMBERs with item tie-breaks so the top-10 cut is total.
  //  Scale: one fact pass, FILTERed aggs per (channel, item); the rank
  //  windows run on the ITEM table (≪ fact), partitioned by channel.
  val q49ReturnRatios: Q = Q(
    "tpcds_q49_return_ratios",
    s"""WITH per_item AS (
       |  SELECT l_linestatus AS channel, l_partkey AS item,
       |    COALESCE(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) FILTER (WHERE l_returnflag = 'R'), 0) AS ret_qty,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS sold_qty,
       |    COALESCE(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) FILTER (WHERE l_returnflag = 'R'), 0) AS ret_cents,
       |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sold_cents
       |  FROM lineitem GROUP BY 1, 2
       |), ranked AS (
       |  SELECT channel, item, ret_qty, sold_qty,
       |    ROW_NUMBER() OVER (PARTITION BY channel
       |      ORDER BY CAST(ret_qty AS DOUBLE) / sold_qty DESC, item) AS qty_rank,
       |    ROW_NUMBER() OVER (PARTITION BY channel
       |      ORDER BY CAST(ret_cents AS DOUBLE) / sold_cents DESC, item) AS amt_rank
       |  FROM per_item WHERE ret_qty > 0
       |)
       |SELECT channel, item, ret_qty, sold_qty, qty_rank, amt_rank
       |FROM ranked WHERE qty_rank <= 10 OR amt_rank <= 10
       |ORDER BY channel, qty_rank, item""".stripMargin) { (s, dir) =>
    val qty = floor(col("l_quantity")).cast("long")
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val perItem = t(s, dir, "lineitem")
      .groupBy(col("l_linestatus").as("channel"), col("l_partkey").as("item"))
      .agg(coalesce(sum(when(col("l_returnflag") === "R", qty)), lit(0L)).as("ret_qty"),
        sum(qty).as("sold_qty"),
        coalesce(sum(when(col("l_returnflag") === "R", cents)), lit(0L)).as("ret_cents"),
        sum(cents).as("sold_cents"))
      .filter(col("ret_qty") > 0)
    val wQty = Window.partitionBy("channel")
      .orderBy((col("ret_qty").cast("double") / col("sold_qty")).desc, col("item"))
    val wAmt = Window.partitionBy("channel")
      .orderBy((col("ret_cents").cast("double") / col("sold_cents")).desc, col("item"))
    perItem
      .withColumn("qty_rank", row_number().over(wQty).cast("long"))
      .withColumn("amt_rank", row_number().over(wAmt).cast("long"))
      .filter(col("qty_rank") <= 10 || col("amt_rank") <= 10)
      .select("channel", "item", "ret_qty", "sold_qty", "qty_rank", "amt_rank")
      .orderBy("channel", "qty_rank", "item")
  }

  // --------------------------------------------------------------- Q93 shape
  // (tpcds query93: actual sales net of returns — the fact LEFT JOINed to the
  //  returns side, un-matched rows keeping their full amount, matched rows
  //  refunding the returned share; top customers by adjusted total). Returns
  //  side → the 'R'-flagged lineitems refunding HALF their amount (cents // 2
  //  keeps the odd cent with the seller). All arithmetic in integer cents
  //  (the 1e-2 grid version of the similarity path's 1e-6 quantization), so
  //  sums are order-independent and hash-exact.
  //  Scale: the returns side derives from the same scan (filter, no second
  //  read); the LEFT self-join keys on (orderkey, linenumber) — the fact's
  //  natural key, one shuffle — and the customer agg reuses the orders join.
  val q93ReturnsAdjusted: Q = Q(
    "tpcds_q93_returns_adjusted",
    s"""WITH sale AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem
       |), ret AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) // 2 AS refund_cents
       |  FROM lineitem WHERE l_returnflag = 'R'
       |), adjusted AS (
       |  SELECT s.l_orderkey, s.cents - COALESCE(r.refund_cents, 0) AS act_cents
       |  FROM sale s LEFT JOIN ret r
       |    ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
       |)
       |SELECT cust, act_cents, rk FROM (
       |  SELECT cust, act_cents,
       |    ROW_NUMBER() OVER (ORDER BY act_cents DESC, cust) AS rk
       |  FROM (
       |    SELECT o_custkey AS cust, SUM(a.act_cents) AS act_cents
       |    FROM adjusted a JOIN orders ON a.l_orderkey = o_orderkey
       |    GROUP BY o_custkey))
       |WHERE rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val li = t(s, dir, "lineitem")
    val sale = li.select(col("l_orderkey"), col("l_linenumber"), cents.as("cents"))
    val ret = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_orderkey"), col("l_linenumber").as("r_linenumber"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint) div 2").as("refund_cents"))
    val wTop = Window.orderBy(col("act_cents").desc, col("cust"))
    sale.join(ret, col("l_orderkey") === col("r_orderkey") &&
        col("l_linenumber") === col("r_linenumber"), "left")
      .select(col("l_orderkey"),
        (col("cents") - coalesce(col("refund_cents"), lit(0L))).as("act_cents"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum("act_cents").as("act_cents"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 20)
      .select("cust", "act_cents", "rk")
      .orderBy("rk")
  }

  // --------------------------------------------------------------- Q31 shape
  // (tpcds query31: counties whose WEB sales share grows faster than their
  //  STORE share across consecutive quarters — two channels × two periods
  //  per geography, the growth-ratio comparison done on the GEOGRAPHY axis
  //  rather than Q11's customer axis). Geography → nation; channels → the
  //  'N'/'A' returnflag populations; periods → 1997 H1/H2. Same one-pass
  //  FILTERed-agg collapse and division-free cross-multiply as Q11:
  //  w2·w1⁻¹ > s2·s1⁻¹  ⇔  w2·s1 > s2·w1 (all four sums positive-guarded).
  val q31ShareShift: Q = Q(
    "tpcds_q31_share_shift",
    s"""SELECT n_name,
       |  CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
       |  CAST(w1 AS DOUBLE) AS w1, CAST(w2 AS DOUBLE) AS w2
       |FROM (
       |  SELECT n_name,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'N' AND month(o_orderdate) <= 6), 0) AS s1,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'N' AND month(o_orderdate) > 6), 0) AS s2,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'A' AND month(o_orderdate) <= 6), 0) AS w1,
       |    COALESCE(SUM($netRevSql) FILTER (WHERE l_returnflag = 'A' AND month(o_orderdate) > 6), 0) AS w2
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE year(o_orderdate) = 1997
       |  GROUP BY n_name)
       |WHERE s1 > 0 AND w1 > 0 AND w2 * s1 > s2 * w1
       |ORDER BY n_name""".stripMargin) { (s, dir) =>
    def half(flag: String, firstHalf: Boolean): org.apache.spark.sql.Column = {
      val m = if (firstHalf) month(col("o_orderdate")) <= 6 else month(col("o_orderdate")) > 6
      coalesce(sum(when(col("l_returnflag") === flag && m, netRev)),
        lit(0).cast("decimal(18,2)"))
    }
    lineorder(s, dir)
      .filter(year(col("o_orderdate")) === 1997)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(half("N", firstHalf = true).as("s1"), half("N", firstHalf = false).as("s2"),
        half("A", firstHalf = true).as("w1"), half("A", firstHalf = false).as("w2"))
      .filter(col("s1") > 0 && col("w1") > 0 &&
        col("w2") * col("s1") > col("s2") * col("w1"))
      .select(col("n_name"), asDouble(col("s1")).as("s1"), asDouble(col("s2")).as("s2"),
        asDouble(col("w1")).as("w1"), asDouble(col("w2")).as("w2"))
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q54 shape
  // (tpcds query54: build a COHORT of customers who bought a target category
  //  in a target month, then histogram their revenue in the FOLLOWING window
  //  into fixed-width bands — cohort semi join + banded segmentation).
  // Cohort → customers with a PROMO-part purchase in 1997-01; window → the
  //  next three months; band → 5000-cent-wide integer buckets (integer cents
  //  make the band edge exact in both engines).
  // Scale: cohort is a semi join (never a row-multiplying join); the window
  //  pass is one fact scan + keyed agg; the histogram aggregates per-customer
  //  rows (≪ fact).
  val q54CohortSegments: Q = Q(
    "tpcds_q54_cohort_segments",
    s"""WITH cohort AS (
       |  SELECT DISTINCT o_custkey FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE p_type = 'PROMO' AND year(o_orderdate) = 1997 AND month(o_orderdate) = 1
       |), spend AS (
       |  SELECT o_custkey AS cust,
       |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) BETWEEN 2 AND 4
       |    AND o_custkey IN (SELECT o_custkey FROM cohort)
       |  GROUP BY o_custkey)
       |SELECT cents // 500000 AS segment, COUNT(*) AS n_cust
       |FROM spend GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val coh = lineorder(s, dir)
      .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .filter(year(col("o_orderdate")) === 1997 && month(col("o_orderdate")) === 1)
      .select(col("o_custkey")).distinct()
    lineorder(s, dir)
      .filter(year(col("o_orderdate")) === 1997 &&
        month(col("o_orderdate")).between(2, 4))
      .join(coh, Seq("o_custkey"), "left_semi")
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum(cents).as("cents"))
      .select(expr("cents div 500000").as("segment"))
      .groupBy("segment").agg(count(lit(1)).as("n_cust"))
      .orderBy("segment")
  }

  // --------------------------------------------------------------- Q78 shape
  // (tpcds query78: per-customer-year channel sales with RETURNED line items
  //  EXCLUDED via the left-join-null idiom on the returns side, then the
  //  cross-channel ratio for customers active in both — Q11's growth compare
  //  but with an ANTI join feeding the aggregates). Returned rows → the 'R'
  //  population anti-joined on the fact's natural key; channels → 'O'/'F'
  //  linestatus. The ratio ships as exact integer cents ×100 // (integer
  //  division), so the output needs no float discipline at all.
  val q78ChannelRatio: Q = Q(
    "tpcds_q78_channel_ratio",
    s"""WITH keep AS (
       |  SELECT l_orderkey, l_linenumber, l_linestatus,
       |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem a WHERE NOT EXISTS (
       |    SELECT 1 FROM lineitem r WHERE r.l_returnflag = 'R'
       |      AND r.l_orderkey = a.l_orderkey AND r.l_linenumber = a.l_linenumber)
       |), per_cust AS (
       |  SELECT o_custkey AS cust,
       |    COALESCE(SUM(cents) FILTER (WHERE l_linestatus = 'O'), 0) AS open_cents,
       |    COALESCE(SUM(cents) FILTER (WHERE l_linestatus = 'F'), 0) AS full_cents
       |  FROM keep JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey)
       |SELECT cust, open_cents, full_cents,
       |  (open_cents * 100) // full_cents AS ratio_pct
       |FROM per_cust WHERE open_cents > 0 AND full_cents > 0
       |ORDER BY ratio_pct DESC, cust LIMIT 25""".stripMargin) { (s, dir) =>
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val keep = keepNonReturned(t(s, dir, "lineitem"))
      .select(col("l_orderkey"), col("l_linestatus"), cents.as("cents"))
    val perCust = keep.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"))
      .agg(coalesce(sum(when(col("l_linestatus") === "O", col("cents"))), lit(0L)).as("open_cents"),
        coalesce(sum(when(col("l_linestatus") === "F", col("cents"))), lit(0L)).as("full_cents"))
    perCust
      .filter(col("open_cents") > 0 && col("full_cents") > 0)
      .select(col("cust"), col("open_cents"), col("full_cents"),
        expr("(open_cents * 100) div full_cents").as("ratio_pct"))
      .orderBy(col("ratio_pct").desc, col("cust"))
      .limit(25)
  }

  // --------------------------------------------------------------- Q39 shape
  // (tpcds query39: inventory items whose demand is VOLATILE — coefficient of
  //  variation stdev/mean > 1 — in two CONSECUTIVE months, self-joined on the
  //  month+1 edge). Inventory → per-(part, month-of-1997) lineitem
  //  quantities. The CoV test is cleared of both the division and the sqrt:
  //    stdev/mean > 1  ⇔  var > mean²  ⇔  n·(n·Σx² − S²) > (n−1)·S²
  //  (sample variance, n ≥ 2, all terms non-negative integers — FLOOR'd
  //  quantities keep every product an exact i64).
  val q39InventoryCov: Q = Q(
    "tpcds_q39_inventory_cov",
    s"""WITH inv AS (
       |  SELECT l_partkey AS part, month(o_orderdate) AS m, COUNT(*) AS n,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS s,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT) * CAST(FLOOR(l_quantity) AS BIGINT)) AS s2
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) = 1997 GROUP BY 1, 2
       |), vol AS (
       |  SELECT part, m, n, s FROM inv
       |  WHERE n >= 2 AND s > 0 AND n * (n * s2 - s * s) > (n - 1) * s * s
       |)
       |SELECT a.part AS part, a.m AS m1, a.n AS n1, b.n AS n2
       |FROM vol a JOIN vol b ON a.part = b.part AND b.m = a.m + 1
       |ORDER BY part, m1""".stripMargin) { (s, dir) =>
    val q = floor(col("l_quantity")).cast("long")
    val inv = lineorder(s, dir)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("l_partkey").as("part"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), sum(q).as("s"), sum(q * q).as("s2"))
    val vol = inv.filter(col("n") >= 2 && col("s") > 0 &&
        col("n") * (col("n") * col("s2") - col("s") * col("s")) >
          (col("n") - 1) * col("s") * col("s"))
      .select("part", "m", "n")
    val b = vol.select(col("part").as("b_part"), col("m").as("b_m"), col("n").as("n2"))
    vol.join(b, col("part") === col("b_part") && col("b_m") === col("m") + 1)
      .select(col("part"), col("m").as("m1"), col("n").as("n1"), col("n2"))
      .orderBy("part", "m1")
  }

  // --------------------------------------------------------------- Q17 shape
  // (tpcds query17: per-item quantity statistics gate which fact rows count —
  //  rows within k·σ of their group mean, the robust-trim join: aggregate the
  //  group stats, join them BACK to the fact, filter per row). The σ-bound is
  //  division- and sqrt-free:
  //    (x − μ)² ≤ 9σ²  ⇔  (x·n − S)²·(n−1) ≤ 9·n·(n·Σx² − S²).
  //  Scale: one keyed agg over the fact + one broadcast-size join back on the
  //  same key (stats table ≪ fact) + a map-only row filter — no window, no
  //  second shuffle of the fact.
  val q17QuantityBounds: Q = Q(
    "tpcds_q17_quantity_bounds",
    s"""WITH stats AS (
       |  SELECT l_partkey AS part, COUNT(*) AS n,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS s,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT) * CAST(FLOOR(l_quantity) AS BIGINT)) AS s2
       |  FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 5
       |)
       |SELECT st.part, st.n AS n_total,
       |  COUNT(*) FILTER (WHERE
       |    (CAST(FLOOR(l_quantity) AS BIGINT) * st.n - st.s)
       |      * (CAST(FLOOR(l_quantity) AS BIGINT) * st.n - st.s) * (st.n - 1)
       |    <= 9 * st.n * (st.n * st.s2 - st.s * st.s)) AS n_kept
       |FROM lineitem l JOIN stats st ON l.l_partkey = st.part
       |GROUP BY st.part, st.n
       |ORDER BY st.part""".stripMargin) { (s, dir) =>
    val q = floor(col("l_quantity")).cast("long")
    val li = t(s, dir, "lineitem")
    val stats = li.groupBy(col("l_partkey").as("part"))
      .agg(count(lit(1)).as("n"), sum(q).as("s"), sum(q * q).as("s2"))
      .filter(col("n") >= 5)
    val dev = q * col("n") - col("s")
    val kept = dev * dev * (col("n") - 1) <=
      lit(9L) * col("n") * (col("n") * col("s2") - col("s") * col("s"))
    li.join(stats, col("l_partkey") === col("part"))
      .groupBy(col("part"), col("n").as("n_total"))
      .agg(count(when(kept, 1)).as("n_kept"))
      .orderBy("part")
  }

  // ------------------------------------------------------------ Q2 shape (wow)
  // (tpcds query2: UNION ALL of web+catalog sales, aggregated per week, then
  //  the weekly aggregate self-joined year vs year+1 for week-over-week
  //  ratios). Channels here: even/odd l_linenumber slices. The oracle keeps
  //  the spec's two-scan UNION ALL; the Spark plan reads the fact ONCE (the
  //  channels share a source here) — one scan + one shuffle, then a tiny
  //  self-join of 53 weekly rows per year. Ratio division happens on the
  //  final decimal-exact doubles — identical operands ⇒ identical quotient.
  val q2WowUnion: Q = Q(
    "tpcds_q2_wow_union",
    s"""WITH uni AS (
       |  SELECT o_orderdate, $netRevSql AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_linenumber % 2 = 0
       |  UNION ALL
       |  SELECT o_orderdate, $netRevSql AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_linenumber % 2 = 1),
       |wk AS (
       |  SELECT year(o_orderdate) AS yr,
       |    CAST(FLOOR((dayofyear(o_orderdate) - 1) / 7) AS INT) AS wk,
       |    SUM(rev) AS rev
       |  FROM uni GROUP BY 1, 2)
       |SELECT a.wk AS wk, CAST(a.rev AS DOUBLE) AS rev_1996,
       |  CAST(b.rev AS DOUBLE) AS rev_1997,
       |  CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE) AS wow_ratio
       |FROM wk a JOIN wk b ON a.wk = b.wk
       |WHERE a.yr = 1996 AND b.yr = 1997
       |ORDER BY wk""".stripMargin) { (s, dir) =>
    val weekly = lineorder(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"),
        floor((dayofyear(col("o_orderdate")) - 1) / lit(7)).cast("int").as("wk"))
      .agg(sum(netRev).as("rev"))
    val a = weekly.filter(col("yr") === 1996).select(col("wk"), asDouble(col("rev")).as("rev_1996"))
    val b = weekly.filter(col("yr") === 1997).select(col("wk"), asDouble(col("rev")).as("rev_1997"))
    a.join(b, "wk")
      .select(col("wk"), col("rev_1996"), col("rev_1997"),
        (col("rev_1997") / col("rev_1996")).as("wow_ratio"))
      .orderBy("wk")
  }

  // --------------------------------------------------------------- Q75 shape
  // (tpcds query75: yearly (brand, qty, amt) over a UNION of three channel
  //  scans minus their returns, self-joined prev-year, keeping declining
  //  brands). Channels: l_linenumber % 3; returns negate. Integer quantities
  //  and decimal amounts keep the decline predicate exact.
  val q75ChannelDelta: Q = Q(
    "tpcds_q75_channel_delta",
    s"""WITH sales AS (
       |  SELECT p_brand, year(o_orderdate) AS yr,
       |    CASE WHEN l_returnflag = 'R' THEN -CAST(FLOOR(l_quantity) AS BIGINT)
       |         ELSE CAST(FLOOR(l_quantity) AS BIGINT) END AS qty,
       |    CASE WHEN l_returnflag = 'R' THEN -($netRevSql) ELSE $netRevSql END AS amt
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey),
       |agg AS (SELECT p_brand, yr, SUM(qty) AS qty, SUM(amt) AS amt
       |        FROM sales GROUP BY 1, 2)
       |SELECT c.p_brand AS brand, p.qty AS prev_qty, c.qty AS curr_qty,
       |  c.qty - p.qty AS qty_delta, CAST(c.amt - p.amt AS DOUBLE) AS amt_delta
       |FROM agg c JOIN agg p ON c.p_brand = p.p_brand
       |WHERE c.yr = 1997 AND p.yr = 1996 AND c.qty < p.qty
       |ORDER BY brand""".stripMargin) { (s, dir) =>
    val qty = when(col("l_returnflag") === "R", -floor(col("l_quantity")).cast("long"))
      .otherwise(floor(col("l_quantity")).cast("long"))
    val amt = when(col("l_returnflag") === "R", -netRev).otherwise(netRev)
    val agg = lineorder(s, dir)
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), year(col("o_orderdate")).as("yr"))
      .agg(sum(qty).as("qty"), sum(amt).as("amt"))
    val c = agg.filter(col("yr") === 1997)
      .select(col("p_brand"), col("qty").as("curr_qty"), col("amt").as("curr_amt"))
    val p = agg.filter(col("yr") === 1996)
      .select(col("p_brand").as("pb"), col("qty").as("prev_qty"), col("amt").as("prev_amt"))
    c.join(p, col("p_brand") === col("pb"))
      .filter(col("curr_qty") < col("prev_qty"))
      .select(col("p_brand").as("brand"), col("prev_qty"), col("curr_qty"),
        (col("curr_qty") - col("prev_qty")).as("qty_delta"),
        asDouble(col("curr_amt") - col("prev_amt")).as("amt_delta"))
      .orderBy("brand")
  }

  // --------------------------------------------------------------- Q80 shape
  // (tpcds query80: per-channel sales / returns / profit rolled up with
  //  ROLLUP(channel, id) over three channel scans). Channels: l_linenumber %
  //  3; id = p_brand. Single-scan rollup on the Spark side (cf. Q5 note).
  val q80ChannelProfitRollup: Q = Q(
    "tpcds_q80_channel_profit_rollup",
    s"""WITH det AS (
       |  SELECT CASE l_linenumber % 3 WHEN 0 THEN 'store' WHEN 1 THEN 'web'
       |              ELSE 'catalog' END AS channel,
       |    p_brand,
       |    CASE WHEN l_returnflag <> 'R' THEN $netRevSql
       |         ELSE CAST(0 AS DECIMAL(18,2)) END AS sales,
       |    CASE WHEN l_returnflag = 'R' THEN $netRevSql
       |         ELSE CAST(0 AS DECIMAL(18,2)) END AS refunds
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey)
       |SELECT channel, p_brand, CAST(SUM(sales) AS DOUBLE) AS sales,
       |  CAST(SUM(refunds) AS DOUBLE) AS refunds,
       |  CAST(SUM(sales) - SUM(refunds) AS DOUBLE) AS profit
       |FROM det GROUP BY ROLLUP(channel, p_brand)
       |ORDER BY channel NULLS FIRST, p_brand NULLS FIRST""".stripMargin) { (s, dir) =>
    // The spec's orders join contributes no columns and runs as a left-semi
    // join (o_orderkey unique ⇒ semi ≡ the spec's inner join; zero-exchange
    // on a bucketed layout), so a dir with an orphan l_orderkey answers the
    // spec SQL. [[graft.plans.RollupFromBase]] re-aggregates the coarser
    // levels from the finest (channel, brand) level of decimal sums.
    val o = t(s, dir, "orders")
    val ch = col("l_linenumber") % 3
    val zero = lit(0).cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(when(ch === 0, "store").when(ch === 1, "web").otherwise("catalog").as("channel"),
        col("p_brand"),
        when(col("l_returnflag") =!= "R", netRev).otherwise(zero).as("sales_dec"),
        when(col("l_returnflag") === "R", netRev).otherwise(zero).as("refunds_dec"))
      .rollup(col("channel"), col("p_brand"))
      .agg(asDouble(sum(col("sales_dec"))).as("sales"),
        asDouble(sum(col("refunds_dec"))).as("refunds"),
        asDouble(sum(col("sales_dec")) - sum(col("refunds_dec"))).as("profit"))
      .orderBy(col("channel").asc_nulls_first, col("p_brand").asc_nulls_first)
  }

  // --------------------------------------------------------------- Q85 shape
  // (tpcds query85: web returns filtered by THREE OR'd demographic band
  //  conjunctions — each band ties a categorical to two numeric ranges —
  //  aggregated per reason). Bands: mktsegment × quantity × order total;
  //  reason → o_orderpriority. The OR of AND-bands must survive as one scan
  //  predicate, not three scans.
  val q85BandedDemographics: Q = Q(
    "tpcds_q85_banded_demographics",
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS n_returns,
       |  SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qty_returned,
       |  CAST(SUM($netRevSql) AS DOUBLE) AS refunded
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_returnflag = 'R' AND (
       |     (c_mktsegment = 'BUILDING'   AND l_quantity BETWEEN 1  AND 20
       |      AND o_totalprice BETWEEN 50000  AND 150000)
       |  OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 21 AND 35
       |      AND o_totalprice BETWEEN 100000 AND 250000)
       |  OR (c_mktsegment = 'MACHINERY'  AND l_quantity BETWEEN 36 AND 50
       |      AND o_totalprice BETWEEN 150000 AND 400000))
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    def band(seg: String, qLo: Int, qHi: Int, tLo: Int, tHi: Int) =
      col("c_mktsegment") === seg &&
        col("l_quantity").between(qLo, qHi) && col("o_totalprice").between(tLo, tHi)
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("l_returnflag") === "R" &&
        (band("BUILDING", 1, 20, 50000, 150000) ||
         band("AUTOMOBILE", 21, 35, 100000, 250000) ||
         band("MACHINERY", 36, 50, 150000, 400000)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_returns"),
        sum(floor(col("l_quantity")).cast("long")).as("qty_returned"),
        asDouble(sum(netRev)).as("refunded"))
      .orderBy("o_orderpriority")
  }

  // --------------------------------------------------------------- Q15 shape
  // (tpcds query15: catalog sales per geography where ANY of three unrelated
  //  predicates across joined tables admits the row). The disjunction spans
  //  customer AND order attributes, so it cannot push below the joins.
  val q15OrPredicates: Q = Q(
    "tpcds_q15_or_predicates",
    s"""SELECT n_name, CAST(SUM($netRevSql) AS DOUBLE) AS revenue, COUNT(*) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE c_acctbal > 6000 OR o_totalprice > 300000 OR c_mktsegment = 'AUTOMOBILE'
       |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("c_acctbal") > 6000 || col("o_totalprice") > 300000 ||
        col("c_mktsegment") === "AUTOMOBILE")
      .groupBy("n_name")
      .agg(asDouble(sum(netRev)).as("revenue"), count(lit(1)).as("n"))
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q25 shape
  // (tpcds query25: sale → return → re-purchase chain — three fact instances
  //  joined on (customer, item) with date ordering, aggregated per brand).
  //  Keyed equi-joins carry the chain — (cust, part) for sale→return, cust
  //  for return→any-later-rebuy (exact (cust, part) rebuys are vanishingly
  //  rare in the fixture) — with the date ordering as the residual theta
  //  condition on top.
  val q25ResaleChain: Q = Q(
    "tpcds_q25_resale_chain",
    """WITH sale AS (
      |  SELECT o_custkey AS cust, l_partkey AS part,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty, l_shipdate AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag <> 'R' AND year(o_orderdate) = 1996),
      |ret AS (
      |  SELECT o_custkey AS cust, l_partkey AS part,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty, l_shipdate AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'),
      |rebuy AS (
      |  SELECT o_custkey AS cust,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty, l_shipdate AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag <> 'R' AND year(o_orderdate) >= 1997)
      |SELECT p_brand AS brand, COUNT(*) AS n_chains,
      |  SUM(s.qty) AS sold_qty, SUM(r.qty) AS ret_qty, SUM(b.qty) AS rebuy_qty
      |FROM sale s
      |JOIN ret r ON s.cust = r.cust AND s.part = r.part AND r.d > s.d
      |JOIN rebuy b ON r.cust = b.cust AND b.d > r.d
      |JOIN part ON s.part = p_partkey
      |GROUP BY p_brand ORDER BY brand""".stripMargin) { (s, dir) =>
    def slice(pred: org.apache.spark.sql.Column) = lineorder(s, dir).filter(pred)
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"),
        floor(col("l_quantity")).cast("long").as("qty"), col("l_shipdate").as("d"))
    val sale = slice(col("l_returnflag") =!= "R" && year(col("o_orderdate")) === 1996)
      .toDF("cust", "part", "s_qty", "s_d")
    val ret = slice(col("l_returnflag") === "R").toDF("cust", "part", "r_qty", "r_d")
    val rebuy = slice(col("l_returnflag") =!= "R" && year(col("o_orderdate")) >= 1997)
      .toDF("cust", "part", "b_qty", "b_d").drop("part")
    sale.join(ret, Seq("cust", "part")).filter(col("r_d") > col("s_d"))
      .join(rebuy, Seq("cust")).filter(col("b_d") > col("r_d"))
      .join(t(s, dir, "part"), col("part") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_chains"), sum(col("s_qty")).as("sold_qty"),
        sum(col("r_qty")).as("ret_qty"), sum(col("b_qty")).as("rebuy_qty"))
      .orderBy("brand")
  }

  // --------------------------------------------------------------- Q46 shape
  // (tpcds query46: rows kept when two DIMENSIONS disagree — the sale's
  //  store city differs from the customer's home city — then grouped with a
  //  HAVING floor). Here: customer nation ≠ supplier nation.
  val q46CrossNation: Q = Q(
    "tpcds_q46_cross_nation",
    """SELECT c_name, COUNT(*) AS n_cross
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE c_nationkey <> s_nationkey
      |GROUP BY c_name HAVING COUNT(*) >= 8
      |ORDER BY c_name""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy("c_name").agg(count(lit(1)).as("n_cross"))
      .filter(col("n_cross") >= 8)
      .orderBy("c_name")
  }

  // --------------------------------------------------------------- Q58 shape
  // (tpcds query58: items whose revenue is balanced across all three
  //  channels — each within 90%..110% of the channel average). Channels:
  //  l_linenumber % 3. Division-free: rev*30 between total*9 and total*11
  //  with exact decimals (avg = total/3).
  val q58ChannelBalance: Q = Q(
    "tpcds_q58_channel_balance",
    s"""WITH chan AS (
       |  SELECT p_brand, l_linenumber % 3 AS ch, SUM($netRevSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT p_brand, SUM(rev) AS total, COUNT(*) AS nch
       |        FROM chan GROUP BY 1)
       |SELECT c.p_brand AS brand, CAST(c.ch AS INT) AS ch, CAST(c.rev AS DOUBLE) AS rev
       |FROM chan c JOIN tot t ON c.p_brand = t.p_brand
       |WHERE t.nch = 3 AND c.rev * 30 >= t.total * 9 AND c.rev * 30 <= t.total * 11
       |ORDER BY brand, ch""".stripMargin) { (s, dir) =>
    val chan = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), (col("l_linenumber") % 3).as("ch"))
      .agg(sum(netRev).as("rev"))
    val tot = chan.groupBy(col("p_brand").as("pb"))
      .agg(sum(col("rev")).as("total"), count(lit(1)).as("nch"))
    chan.join(tot, col("p_brand") === col("pb"))
      .filter(col("nch") === 3 &&
        col("rev") * 30 >= col("total") * 9 && col("rev") * 30 <= col("total") * 11)
      .select(col("p_brand").as("brand"), col("ch").cast("int").as("ch"),
        asDouble(col("rev")).as("rev"))
      .orderBy("brand", "ch")
  }

  // --------------------------------------------------------------- Q65 shape
  // (tpcds query65: (store, item) pairs whose revenue is at most half the
  //  store's average item revenue). Stores → suppliers. Division-free:
  //  rev * 2 * n_items <= store_total with exact decimals.
  val q65LowRevenuePairs: Q = Q(
    "tpcds_q65_low_revenue_pairs",
    s"""WITH sp AS (
       |  SELECT l_suppkey AS sk, l_partkey AS pk, SUM($netRevSql) AS rev
       |  FROM lineitem GROUP BY 1, 2),
       |sa AS (SELECT sk, SUM(rev) AS total, COUNT(*) AS np FROM sp GROUP BY 1)
       |SELECT s_name, p_name, CAST(sp.rev AS DOUBLE) AS rev
       |FROM sp JOIN sa ON sp.sk = sa.sk
       |JOIN supplier ON sp.sk = s_suppkey
       |JOIN part ON sp.pk = p_partkey
       |WHERE sp.rev * 2 * sa.np <= sa.total
       |ORDER BY s_name, p_name, rev""".stripMargin) { (s, dir) =>
    val sp = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .agg(sum(netRev).as("rev"))
    val sa = sp.groupBy(col("sk").as("sk2"))
      .agg(sum(col("rev")).as("total"), count(lit(1)).as("np"))
    sp.join(sa, col("sk") === col("sk2"))
      .filter(col("rev") * 2 * col("np") <= col("total"))
      .join(t(s, dir, "supplier"), col("sk") === col("s_suppkey"))
      .join(t(s, dir, "part"), col("pk") === col("p_partkey"))
      .select(col("s_name"), col("p_name"), asDouble(col("rev")).as("rev"))
      .orderBy("s_name", "p_name", "rev")
  }

  // --------------------------------------------------------------- Q99 shape
  // (tpcds query99: shipping-latency histogram — counts per latency band per
  //  group, the FILTERed-count pivot over a date arithmetic). Latency =
  //  ship date − order date in days.
  val q99ShipLatencyBuckets: Q = Q(
    "tpcds_q99_ship_latency_buckets",
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE d <= 30) AS d30,
      |  COUNT(*) FILTER (WHERE d > 30 AND d <= 60) AS d60,
      |  COUNT(*) FILTER (WHERE d > 60 AND d <= 90) AS d90,
      |  COUNT(*) FILTER (WHERE d > 90 AND d <= 120) AS d120,
      |  COUNT(*) FILTER (WHERE d > 120) AS dmore
      |FROM (SELECT o_orderpriority,
      |        date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val d = datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
    lineorder(s, dir)
      .select(col("o_orderpriority"), d.as("d"))
      .groupBy("o_orderpriority")
      .agg(count(when(col("d") <= 30, 1)).as("d30"),
        count(when(col("d") > 30 && col("d") <= 60, 1)).as("d60"),
        count(when(col("d") > 60 && col("d") <= 90, 1)).as("d90"),
        count(when(col("d") > 90 && col("d") <= 120, 1)).as("d120"),
        count(when(col("d") > 120, 1)).as("dmore"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- Q6 shape
  // (tpcds query6: customers in states whose bought items cost above the
  //  category's overall average — a GLOBAL scalar average correlated into a
  //  per-row filter; the fixture's tight price spread puts the bar at
  //  1.01×). Division-free: price * n_cat >= 1.01 * cat_total becomes
  //  price * 100 * n_cat >= 101 * cat_total in exact decimals. The
  //  global per-category average is a tiny broadcast aggregate, never a
  //  per-row subquery execution.
  val q6PriceyStates: Q = Q(
    "tpcds_q6_pricey_states",
    """WITH cat AS (
      |  SELECT p_type, SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS total,
      |    COUNT(*) AS n
      |  FROM part GROUP BY p_type)
      |SELECT n_name, COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN cat ON part.p_type = cat.p_type
      |WHERE CAST(p_retailprice AS DECIMAL(18,2)) * 100 * n >= total * 101
      |GROUP BY n_name HAVING COUNT(*) >= 10
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val cat = t(s, dir, "part").groupBy(col("p_type").as("cat_type"))
      .agg(sum(dec(col("p_retailprice"))).as("total"), count(lit(1)).as("n"))
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .join(broadcast(cat), col("p_type") === col("cat_type"))
      .filter(dec(col("p_retailprice")) * 100 * col("n") >= col("total") * 101)
      .groupBy("n_name").agg(count(lit(1)).as("n_lines"))
      .filter(col("n_lines") >= 10)
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q21 shape
  // (tpcds query21: per-warehouse inventory split into before/after an event
  //  date, kept when the after/before ratio is inside [2/3, 3/2]).
  //  Warehouses → suppliers; inventory qty → lineitem qty. FILTERed sums
  //  make the split one pass; the ratio band is cross-multiplied exact.
  val q21BeforeAfterBand: Q = Q(
    "tpcds_q21_before_after_band",
    """WITH w AS (
      |  SELECT s_name,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT))
      |      FILTER (WHERE l_shipdate <  TIMESTAMP '1997-07-01 00:00:00') AS before_qty,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT))
      |      FILTER (WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00') AS after_qty
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY s_name)
      |SELECT s_name, before_qty, after_qty
      |FROM w
      |WHERE before_qty > 0 AND after_qty > 0
      |  AND after_qty * 3 >= before_qty * 2 AND after_qty * 2 <= before_qty * 3
      |ORDER BY s_name""".stripMargin) { (s, dir) =>
    val qty = floor(col("l_quantity")).cast("long")
    val split = lit("1997-07-01 00:00:00").cast("timestamp")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(when(col("l_shipdate") < split, qty)).as("before_qty"),
        sum(when(col("l_shipdate") >= split, qty)).as("after_qty"))
      .filter(col("before_qty") > 0 && col("after_qty") > 0 &&
        col("after_qty") * 3 >= col("before_qty") * 2 &&
        col("after_qty") * 2 <= col("before_qty") * 3)
      .orderBy("s_name")
  }

  // --------------------------------------------------------------- Q32 shape
  // (tpcds query32: "excess discount" — lineitems whose discount exceeds
  //  1.3× the average discount of their part, summed). The correlated
  //  per-part average joins back to the fact as an aggregate, division-free
  //  via disc * 10 * n > 13 * part_total in exact decimals.
  val q32ExcessDiscount: Q = Q(
    "tpcds_q32_excess_discount",
    s"""WITH pd AS (
       |  SELECT l_partkey AS pk, SUM(CAST(l_discount AS DECIMAL(18,2))) AS dtotal,
       |    COUNT(*) AS n
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT COUNT(*) AS n_excess, CAST(SUM($netRevSql) AS DOUBLE) AS excess_rev
       |FROM lineitem JOIN pd ON l_partkey = pd.pk
       |WHERE CAST(l_discount AS DECIMAL(18,2)) * 10 * pd.n > pd.dtotal * 13""".stripMargin) { (s, dir) =>
    val pd = t(s, dir, "lineitem").groupBy(col("l_partkey").as("pk"))
      .agg(sum(dec(col("l_discount"))).as("dtotal"), count(lit(1)).as("n"))
    t(s, dir, "lineitem")
      .join(pd, col("l_partkey") === col("pk"))
      .filter(dec(col("l_discount")) * 10 * col("n") > col("dtotal") * 13)
      .agg(count(lit(1)).as("n_excess"), asDouble(sum(netRev)).as("excess_rev"))
  }

  // --------------------------------------------------------------- Q36 shape
  // (tpcds query36: gross-margin ROLLUP lattice with RANK() PARTITIONED BY
  //  THE GROUPING LEVEL — the rank resets inside each lattice stratum via
  //  GROUPING()). The window runs on the rolled-up rows (tiny), never the
  //  fact.
  val q36LatticeRank: Q = Q(
    "tpcds_q36_lattice_rank",
    s"""WITH rolled AS (
       |  SELECT l_returnflag, l_linestatus,
       |    GROUPING(l_returnflag) + GROUPING(l_linestatus) AS lvl,
       |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qty
       |  FROM lineitem
       |  GROUP BY ROLLUP(l_returnflag, l_linestatus))
       |SELECT l_returnflag, l_linestatus, CAST(lvl AS INT) AS lvl,
       |  qty, CAST(RANK() OVER (PARTITION BY lvl ORDER BY qty DESC) AS INT) AS rk
       |FROM rolled
       |ORDER BY lvl, rk, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    val rolled = t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("qty"),
        (grouping(col("l_returnflag")) + grouping(col("l_linestatus"))).as("lvl"))
      .toDF("l_returnflag", "l_linestatus", "qty", "lvl")
    rolled.select(col("l_returnflag"), col("l_linestatus"),
        col("lvl").cast("int").as("lvl"), col("qty"),
        rank().over(Window.partitionBy("lvl").orderBy(col("qty").desc))
          .cast("int").as("rk"))
      .orderBy(col("lvl"), col("rk"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  // --------------------------------------------------------------- Q79 shape
  // (tpcds query79: each customer's single BEST visit — aggregate per
  //  (customer, order), then keep the max-profit row per customer via a
  //  keyed window, then re-join the customer dim). Two keyed shuffles, no
  //  global window.
  val q79BestVisit: Q = Q(
    "tpcds_q79_best_visit",
    s"""WITH visits AS (
       |  SELECT o_custkey AS cust, o_orderkey AS ok, SUM($netRevSql) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey, o_orderkey),
       |best AS (
       |  SELECT cust, ok, rev,
       |    ROW_NUMBER() OVER (PARTITION BY cust ORDER BY rev DESC, ok) AS rn
       |  FROM visits)
       |SELECT c_name, ok AS best_order, CAST(rev AS DOUBLE) AS best_rev
       |FROM best JOIN customer ON cust = c_custkey
       |WHERE rn = 1 AND rev > 400000
       |ORDER BY c_name""".stripMargin) { (s, dir) =>
    val visits = lineorder(s, dir)
      .groupBy(col("o_custkey").as("cust"), col("o_orderkey").as("ok"))
      .agg(sum(netRev).as("rev"))
    val w = Window.partitionBy("cust").orderBy(col("rev").desc, col("ok"))
    visits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("rev") > 400000)
      .join(t(s, dir, "customer"), col("cust") === col("c_custkey"))
      .select(col("c_name"), col("ok").as("best_order"), asDouble(col("rev")).as("best_rev"))
      .orderBy("c_name")
  }

  // --------------------------------------------------------------- Q98 shape
  // (tpcds query98: each item's revenue share WITHIN ITS CLASS —
  //  ratio_to_report as a class-partitioned window over the item aggregate).
  //  Integer micro-shares (ppm via cent-exact cross division) keep the
  //  oracle exact where a double ratio would drift.
  val q98ClassShare: Q = Q(
    "tpcds_q98_class_share",
    s"""WITH item AS (
       |  SELECT p_type, p_brand, SUM($netRevSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_type, p_brand)
       |SELECT p_type, p_brand, CAST(rev AS DOUBLE) AS rev,
       |  CAST(CAST(rev * 100 AS BIGINT) * 1000000
       |    // CAST(SUM(rev * 100) OVER (PARTITION BY p_type) AS BIGINT) AS BIGINT) AS share_ppm
       |FROM item
       |ORDER BY p_type, p_brand""".stripMargin) { (s, dir) =>
    val item = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(sum(netRev).as("rev"))
    item.withColumn("cents", (col("rev") * 100).cast("long"))
      .withColumn("class_cents", sum(col("cents")).over(Window.partitionBy("p_type")))
      // integral `div`, never `/` (Column./ widens to double — memory trap)
      .selectExpr("p_type", "p_brand", "CAST(rev AS DOUBLE) AS rev",
        "CAST(cents * 1000000 div class_cents AS BIGINT) AS share_ppm")
      .orderBy("p_type", "p_brand")
  }

  // ---------------------------------------------------------------- Q9 shape
  // (tpcds query9: five banded CASE buckets, each choosing between two scalar
  //  subqueries by a count threshold, projected off a one-row anchor table —
  //  15 scalar subqueries over one fact in the spec). Bands → l_quantity
  //  decades; anchor → region row 0. The Spark side rewrites the 15 scans as
  //  ONE pass with FILTERed aggregates (the q88 treatment) cross-joined to the
  //  broadcast anchor; integer cents/hundredths with `div` keep both engines
  //  bit-identical.
  val q9CaseBuckets: Q = Q(
    "tpcds_q9_case_buckets",
    { val b = (1 to 5).map { i =>
        val lo = (i - 1) * 10 + 1
        val hi = i * 10
        val band = s"l_quantity >= $lo AND l_quantity <= $hi"
        s"""CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE $band) > 12000
           |  THEN (SELECT SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           |          // COUNT(*) FROM lineitem WHERE $band)
           |  ELSE (SELECT SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
           |          // COUNT(*) FROM lineitem WHERE $band)
           |END AS bucket$i""".stripMargin
      }.mkString(",\n")
      s"SELECT r_name, $b FROM region WHERE r_regionkey = 0" }) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val priceCents = (dec(col("l_extendedprice")) * 100).cast("long")
    val qtyHundredths = (dec(col("l_quantity")) * 100).cast("long")
    def band(i: Int) = col("l_quantity").between((i - 1) * 10 + 1, i * 10)
    val aggs = (1 to 5).flatMap { i =>
      Seq(count(when(band(i), 1)).as(s"cnt$i"),
        sum(when(band(i), priceCents)).as(s"pc$i"),
        sum(when(band(i), qtyHundredths)).as(s"qh$i"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val anchor = broadcast(t(s, dir, "region").filter(col("r_regionkey") === 0)
      .select(col("r_name")))
    val buckets = (1 to 5).map(i =>
      expr(s"CASE WHEN cnt$i > 12000 THEN pc$i div cnt$i ELSE qh$i div cnt$i END")
        .as(s"bucket$i"))
    anchor.crossJoin(one).select(col("r_name") +: buckets: _*)
  }

  // --------------------------------------------------------------- Q28 shape
  // (tpcds query28: six quantity buckets, each with OR'd list-price bands,
  //  reporting avg price / row count / DISTINCT price count, cross-joined into
  //  one row). The spec runs six separate scans; here all six buckets come
  //  from ONE scan — plain aggs via FILTER, the distinct counts as
  //  COUNT(DISTINCT CASE WHEN band THEN price END), which Catalyst plans with
  //  a single Expand instead of six passes.
  val q28PriceBuckets: Q = Q(
    "tpcds_q28_price_buckets",
    { val b = (1 to 6).map { i =>
        val lo = (i - 1) * 5 + 1
        val hi = i * 5
        val band = s"""l_quantity >= $lo AND l_quantity <= $hi
           | AND (l_extendedprice BETWEEN 900 AND 40000
           |      OR l_extendedprice BETWEEN 60000 AND 104000)""".stripMargin
        s"""SUM(CASE WHEN $band THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) END)
           |  // COUNT(CASE WHEN $band THEN 1 END) AS b${i}_avg_cents,
           |COUNT(CASE WHEN $band THEN 1 END) AS b${i}_cnt,
           |COUNT(DISTINCT CASE WHEN $band THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS b${i}_distinct""".stripMargin
      }.mkString(",\n")
      s"SELECT $b FROM lineitem" }) { (s, dir) =>
    val priceCents = (dec(col("l_extendedprice")) * 100).cast("long")
    def band(i: Int) =
      col("l_quantity").between((i - 1) * 5 + 1, i * 5) &&
        (col("l_extendedprice").between(900, 40000) ||
          col("l_extendedprice").between(60000, 104000))
    val aggs = (1 to 6).flatMap { i =>
      Seq(sum(when(band(i), priceCents)).as(s"pc$i"),
        count(when(band(i), 1)).as(s"b${i}_cnt"),
        countDistinct(when(band(i), priceCents)).as(s"b${i}_distinct"))
    }
    t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      .selectExpr((1 to 6).flatMap(i => Seq(
        s"pc$i div b${i}_cnt AS b${i}_avg_cents",
        s"b${i}_cnt", s"b${i}_distinct")): _*)
  }

  // --------------------------------------------------------------- Q35 shape
  // (tpcds query35: customers gated by EXISTS store-sales AND an OR of
  //  EXISTS web / EXISTS catalog probes, then demographic stats per state
  //  band). Channels → any-order / urgent-order / returned-item; stats block
  //  = count + exact-decimal sum + min/max of acctbal per (nation, segment).
  //  The OR of EXISTS becomes ONE semi join against the union of the two key
  //  sets — no double probe of the fact.
  val q35ChannelProbes: Q = Q(
    "tpcds_q35_channel_probes",
    """SELECT n_name, c_mktsegment, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
      |  MIN(c_acctbal) AS bal_min, MAX(c_acctbal) AS bal_max
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND (EXISTS (SELECT 1 FROM orders
      |               WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |       OR EXISTS (SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |                  WHERE o_custkey = c_custkey AND l_returnflag = 'R'))
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    val returned = lineorder(s, dir).filter(col("l_returnflag") === "R")
      .select(col("o_custkey").as("k"))
    val probe = urgent.union(returned).distinct()
    t(s, dir, "customer")
      .join(orders.select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(probe, col("c_custkey") === col("k"), "left_semi")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        asDouble(sum(dec(col("c_acctbal")))).as("bal_sum"),
        min(col("c_acctbal")).as("bal_min"), max(col("c_acctbal")).as("bal_max"))
      .orderBy("n_name", "c_mktsegment")
  }

  // --------------------------------------------------------------- Q41 shape
  // (tpcds query41: DISTINCT product names in a price band whose manufacturer
  //  also makes items matching OR'd attribute combos — a correlated COUNT(*)
  //  over the dimension itself). Manufacturer → brand; attribute combos →
  //  (type, size) bands. The correlated count collapses to one keyed agg over
  //  the 25-brand dimension joined back — dimension-sized work either way.
  val q41AttrCombo: Q = Q(
    "tpcds_q41_attr_combo",
    """SELECT DISTINCT p_name FROM part p1
      |WHERE p_retailprice BETWEEN 950 AND 980
      |  AND (SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p1.p_brand
      |       AND ((p2.p_type = 'PROMO' AND p2.p_size BETWEEN 1 AND 15)
      |         OR (p2.p_type = 'ECONOMY' AND p2.p_size BETWEEN 20 AND 35)
      |         OR (p2.p_type = 'STANDARD' AND p2.p_size BETWEEN 40 AND 50))) > 0
      |ORDER BY p_name""".stripMargin) { (s, dir) =>
    val part = t(s, dir, "part")
    val combos = part.filter(
      (col("p_type") === "PROMO" && col("p_size").between(1, 15)) ||
        (col("p_type") === "ECONOMY" && col("p_size").between(20, 35)) ||
        (col("p_type") === "STANDARD" && col("p_size").between(40, 50)))
      .select(col("p_brand").as("b")).distinct()
    part.filter(col("p_retailprice").between(950, 980))
      .join(broadcast(combos), col("p_brand") === col("b"), "left_semi")
      .select(col("p_name")).distinct().orderBy("p_name")
  }

  // --------------------------------------------------------------- Q43 shape
  // (tpcds query43: per-store revenue pivoted into sun_sales..sat_sales
  //  day-of-week columns). Store → supplier nation. Seven FILTERed sums off
  //  one fact pass; Spark dayofweek() is 1=Sunday, DuckDB's 0=Sunday, so the
  //  Spark side shifts by one and both engines band identically.
  val q43DowPivot: Q = Q(
    "tpcds_q43_dow_pivot",
    { val days = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
      val cols = days.zipWithIndex.map { case (d, i) =>
        s"CAST(SUM(CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) = $i THEN $netRevSql END) AS DOUBLE) AS ${d}_sales"
      }.mkString(",\n  ")
      s"""SELECT n_name, $cols
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin }) { (s, dir) =>
    val days = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    val aggs = days.zipWithIndex.map { case (d, i) =>
      asDouble(sum(when(dayofweek(col("o_orderdate")) === i + 1, netRev)))
        .as(s"${d}_sales")
    }
    lineorder(s, dir)
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q45 shape
  // (tpcds query45: revenue by geography where zip IN a literal list OR item
  //  IN a subquery — a disjunction between a dim attribute and a fact-key
  //  membership probe, which defeats plain semi-join planning). The
  //  membership side becomes a broadcast left join producing a match flag so
  //  the OR stays one filter over one fact pass.
  val q45ZipOrSubquery: Q = Q(
    "tpcds_q45_zip_or_subquery",
    s"""SELECT n_name, CAST(SUM($netRevSql) AS DOUBLE) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19', 'NATION_23')
       |   OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 3)
       |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    val hotNations = Seq("NATION_3", "NATION_7", "NATION_11", "NATION_19", "NATION_23")
    val smallParts = t(s, dir, "part").filter(col("p_size") <= 3)
      .select(col("p_partkey").as("sp_key")).distinct()
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(smallParts), col("l_partkey") === col("sp_key"), "left")
      .filter(col("n_name").isin(hotNations: _*) || col("sp_key").isNotNull)
      .groupBy(col("n_name"))
      .agg(asDouble(sum(netRev)).as("revenue"))
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q48 shape
  // (tpcds query48: one quantity sum under three OR'd (demographic band ×
  //  price band) conjunctions plus a year gate). Bands → mktsegment ×
  //  extendedprice; the whole disjunction is a single pushable filter over
  //  one fact pass — no union of scans.
  val q48BandedOrSum: Q = Q(
    "tpcds_q48_banded_or_sum",
    """SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty_sum
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE year(CAST(o_orderdate AS DATE)) = 1997
      |  AND ((c_mktsegment = 'BUILDING'  AND l_extendedprice BETWEEN 900 AND 30000)
      |    OR (c_mktsegment = 'MACHINERY' AND l_extendedprice BETWEEN 30000 AND 70000)
      |    OR (c_mktsegment = 'HOUSEHOLD' AND l_extendedprice BETWEEN 70000 AND 105000))""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")) === 1997 &&
        ((col("c_mktsegment") === "BUILDING" && col("l_extendedprice").between(900, 30000)) ||
          (col("c_mktsegment") === "MACHINERY" && col("l_extendedprice").between(30000, 70000)) ||
          (col("c_mktsegment") === "HOUSEHOLD" && col("l_extendedprice").between(70000, 105000))))
      .agg(sum(dec(col("l_quantity"))).cast("long").as("qty_sum"))
  }

  // --------------------------------------------------------------- Q82 shape
  // (tpcds query82: items in a price band and a size list that actually moved
  //  in a date window — a dimension-driven semi join against the fact).
  //  Inventory presence → lineitem shipments in 1996-1997.
  val q82InstockParts: Q = Q(
    "tpcds_q82_instock_parts",
    """SELECT DISTINCT p_name, p_brand, p_retailprice FROM part
      |WHERE p_retailprice BETWEEN 920 AND 950 AND p_size IN (2, 7, 13, 19, 23)
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_partkey = p_partkey
      |                AND l_shipdate >= TIMESTAMP '1996-01-01'
      |                AND l_shipdate < TIMESTAMP '1998-01-01')
      |ORDER BY p_name, p_brand, p_retailprice""".stripMargin) { (s, dir) =>
    val moved = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"))
    t(s, dir, "part")
      .filter(col("p_retailprice").between(920, 950) &&
        col("p_size").isin(2, 7, 13, 19, 23))
      .join(moved, col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_name"), col("p_brand"), col("p_retailprice"))
      .distinct()
      .orderBy("p_name", "p_brand", "p_retailprice")
  }

  // ---------------------------------------------------------------- Q7 shape
  // (tpcds query7: four average metrics per item over a demographic +
  //  promotion + year slice — the plain star-average family). Averages are
  //  integer `div` of exact cents/hundredths so neither engine divides
  //  doubles.
  val q7StarAvgs: Q = Q(
    "tpcds_q7_star_avgs",
    """SELECT p_brand,
      |  SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) // COUNT(*) AS avg_qty_h,
      |  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // COUNT(*) AS avg_price_c,
      |  SUM(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)) // COUNT(*) AS avg_disc_bp,
      |  COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE c_mktsegment = 'AUTOMOBILE' AND year(CAST(o_orderdate AS DATE)) = 1998
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    lineorder(s, dir)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(col("c_mktsegment") === "AUTOMOBILE" && year(col("o_orderdate")) === 1998)
      .groupBy(col("p_brand"))
      .agg(
        sum((dec(col("l_quantity")) * 100).cast("long")).as("qh"),
        sum((dec(col("l_extendedprice")) * 100).cast("long")).as("pc"),
        sum((col("l_discount").cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000).cast("long")).as("db"),
        count(lit(1)).as("cnt"))
      .selectExpr("p_brand", "qh div cnt AS avg_qty_h", "pc div cnt AS avg_price_c",
        "db div cnt AS avg_disc_bp", "cnt")
      .orderBy("p_brand")
  }

  val all: Seq[Q] = Seq(
    q1ReturnsAboveAvg, q2YoyMonthly, q5RollupChannels, q38IntersectCustomers,
    q47MavgOutliers, q67TopkRollup, q10ExistsConjunction, q88TimeBands,
    q51CumulativeCompare, q97OverlapCounts, q14CrossChannel, q23FrequentBest,
    q72InventoryLag, q34TicketBand, q64ResaleMargin, q95MultiSupplier,
    q11YoyGrowth, q49ReturnRatios, q93ReturnsAdjusted,
    q31ShareShift, q54CohortSegments, q78ChannelRatio,
    q39InventoryCov, q17QuantityBounds,
    q2WowUnion, q75ChannelDelta, q80ChannelProfitRollup, q85BandedDemographics,
    q15OrPredicates, q25ResaleChain, q46CrossNation, q58ChannelBalance,
    q65LowRevenuePairs, q99ShipLatencyBuckets,
    q6PriceyStates, q21BeforeAfterBand, q32ExcessDiscount, q36LatticeRank,
    q79BestVisit, q98ClassShare,
    q9CaseBuckets, q28PriceBuckets, q35ChannelProbes, q41AttrCombo,
    q43DowPivot, q45ZipOrSubquery, q48BandedOrSum, q82InstockParts,
    q7StarAvgs)
}
