package graft.operators

import graft.{Catalog, Pipeline, Q, Tables}
import org.apache.spark.sql.SparkSession

/** SQL-lifecycle coverage: DML with snapshot semantics, views, prepared
  * statements, meta tables — the Catalog/Pipeline façade exercised end-to-end
  * and verified against oracle SQL expressing the same END STATE (the reference
  * verifies its Insert/Delete/Update operators the same way: golden end-state
  * tables, reference: src/test/lib/operators/insert_test.cpp).
  *
  * Working tables get a `_w` suffix so a mutated temp view never leaks into
  * other queries sharing the Verify session.
  */
object LifecycleQueries {

  private[operators] def pipeline(s: SparkSession, dir: String, tables: (String, String)*): Pipeline = {
    val cat = new Catalog(s)
    tables.foreach { case (src, as) => cat.register(as, Tables.df(s, dir, src)) }
    new Pipeline(cat)
  }

  /** INSERT INTO ... VALUES appends rows (reference: src/lib/operators/insert.hpp:9-22). */
  val dmlInsert: Q = Q(
    "dml_insert",
    """SELECT * FROM (
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation
      |  UNION ALL
      |  SELECT * FROM (VALUES (901, 'NATION_X', 1), (902, 'NATION_Y', 2)) v(a, b, c)
      |) ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "nation" -> "nation_w")
    p.run(
      """INSERT INTO nation_w VALUES (901, 'NATION_X', 1), (902, 'NATION_Y', 2);
        |SELECT * FROM nation_w ORDER BY n_nationkey""".stripMargin)
      .last.df.get
  }

  /** DELETE marks rows invisible; the new snapshot excludes them
    * (reference: src/lib/operators/delete.hpp:18 — end-cid semantics). */
  val dmlDelete: Q = Q(
    "dml_delete",
    """SELECT * FROM nation WHERE NOT (n_regionkey = 2)
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "nation" -> "nation_w2")
    p.run(
      """DELETE FROM nation_w2 WHERE n_regionkey = 2;
        |SELECT * FROM nation_w2 ORDER BY n_nationkey""".stripMargin)
      .last.df.get
  }

  /** UPDATE = delete+insert composite in the reference (update.hpp:28); here a
    * CASE rewrite with the same end state. */
  val dmlUpdate: Q = Q(
    "dml_update",
    """SELECT s_suppkey, s_name,
      |  CASE WHEN s_nationkey = 0 THEN s_acctbal + 100.0 ELSE s_acctbal END AS s_acctbal,
      |  s_nationkey
      |FROM (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier)
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "supplier" -> "supplier_w")
    p.run(
      """UPDATE supplier_w SET s_acctbal = s_acctbal + 100.0 WHERE s_nationkey = 0;
        |SELECT s_suppkey, s_name, s_acctbal, s_nationkey FROM supplier_w ORDER BY s_suppkey""".stripMargin)
      .last.df.get
  }

  /** Snapshot isolation: a plan captured BEFORE a DELETE still sees the old
    * state; the count pair is the oracle-checkable witness
    * (reference: src/lib/operators/validate.hpp:20 visibility rules). */
  val dmlSnapshot: Q = Q(
    "dml_snapshot",
    """SELECT (SELECT COUNT(*) FROM region) AS before_n,
      |  (SELECT COUNT(*) FROM region WHERE r_regionkey <> 0) AS after_n""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("region_w", Tables.df(s, dir, "region"))
    val snapshot = cat.table("region_w") // captured binding = old snapshot
    val p = new Pipeline(cat)
    p.run("DELETE FROM region_w WHERE r_regionkey = 0")
    val after = cat.table("region_w")
    import org.apache.spark.sql.functions._
    snapshot.agg(count(lit(1)).as("before_n"))
      .crossJoin(after.agg(count(lit(1)).as("after_n")))
  }

  /** Views + PREPARE/EXECUTE with parameter binding
    * (reference: src/lib/storage/lqp_view.hpp, create_prepared_plan.hpp:12). */
  val viewPrepared: Q = Q(
    "lifecycle_view_prepared",
    """SELECT o_custkey, COUNT(*) AS n FROM orders
      |WHERE o_totalprice > 400000 GROUP BY o_custkey
      |HAVING COUNT(*) >= 3 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "orders" -> "orders_w")
    val results = p.run(
      """CREATE VIEW big_orders_v AS SELECT * FROM orders_w WHERE o_totalprice > 400000;
        |PREPARE count_by_cust AS SELECT o_custkey, COUNT(*) AS n FROM big_orders_v GROUP BY o_custkey HAVING COUNT(*) >= ? ORDER BY o_custkey;
        |EXECUTE count_by_cust (3)""".stripMargin)
    results.last.df.get
  }

  /** meta_tables over the registered fixture set — deterministic inventory
    * (reference: src/lib/utils/meta_tables/meta_tables_table.cpp). */
  val metaTables: Q = Q(
    "meta_tables",
    """SELECT * FROM (VALUES
      |  ('customer_m', 5), ('lineitem_m', 11), ('nation_m', 3),
      |  ('orders_m', 6), ('region_m', 2), ('supplier_m', 4)
      |) v(table_name, column_count) ORDER BY table_name""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    Seq("customer", "lineitem", "nation", "orders", "region", "supplier")
      .foreach(n => cat.register(s"${n}_m", Tables.df(s, dir, n)))
    cat.metaTables.select("table_name", "column_count").orderBy("table_name")
  }

  /** MERGE (upsert): matched keys take the source row wholesale, unmatched
    * source rows append — Catalog.merge plans it as ONE full-outer equi join
    * + per-column presence-flag select (the keyed generalization of the
    * reference's Delete+Insert Update composite, update.hpp:28). Oracle =
    * the same end state spelled as anti-join + union. */
  val dmlMerge: Q = Q(
    "dml_merge_upsert",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM (
      |  SELECT * FROM supplier WHERE s_suppkey NOT IN (3, 7)
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (3, 'UPDATED_SUPP_3', 1, 999.99),
      |    (7, 'UPDATED_SUPP_7', 2, CAST(NULL AS DOUBLE)),
      |    (9001, 'NEW_SUPP', 0, 50.0)) v(s_suppkey, s_name, s_nationkey, s_acctbal)
      |) ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.Row
    val cat = new Catalog(s)
    cat.register("supplier_mw", Tables.df(s, dir, "supplier"))
    val src = s.createDataFrame(
      java.util.Arrays.asList(
        Row(3L, "UPDATED_SUPP_3", 1, 999.99),
        Row(7L, "UPDATED_SUPP_7", 2, null),
        Row(9001L, "NEW_SUPP", 0, 50.0)),
      Tables.df(s, dir, "supplier").schema)
    cat.merge("supplier_mw", src, Seq("s_suppkey"))
    cat.table("supplier_mw")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** Multi-statement transaction: BEGIN stages writes invisibly, ROLLBACK
    * undoes them, a following committed transaction publishes (reference:
    * src/lib/concurrency/transaction_context.hpp:60-80; RollbackReason at
    * types.hpp:227). The oracle runs the SAME brackets in DuckDB — both
    * engines must agree the rolled-back DELETE never happened and the
    * committed UPDATE did. */
  val txnRollbackCommit: Q = Q(
    "txn_rollback_commit",
    """CREATE OR REPLACE TEMP TABLE nation_txn AS SELECT * FROM nation;
      |BEGIN;
      |DELETE FROM nation_txn WHERE n_regionkey = 1;
      |ROLLBACK;
      |BEGIN;
      |UPDATE nation_txn SET n_name = 'TXN_SET' WHERE n_nationkey = 0;
      |COMMIT;
      |SELECT n_nationkey, n_name, n_regionkey FROM nation_txn ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "nation" -> "nation_txn_w")
    val rs = p.run(
      """BEGIN;
        |DELETE FROM nation_txn_w WHERE n_regionkey = 1;
        |ROLLBACK;
        |BEGIN;
        |UPDATE nation_txn_w SET n_name = 'TXN_SET' WHERE n_nationkey = 0;
        |COMMIT;
        |SELECT n_nationkey, n_name, n_regionkey FROM nation_txn_w ORDER BY n_nationkey""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** Schema evolution (beyond the reference — hyrise has no ALTER TABLE):
    * ADD COLUMN with a default, RENAME COLUMN, DROP COLUMN, all as pure
    * binding rewrites through the Pipeline's ALTER verb; DuckDB runs its
    * NATIVE ALTER TABLE on the same script, so the end-state schemas and
    * values must agree exactly. */
  val dmlAlterTable: Q = Q(
    "dml_alter_table",
    """CREATE OR REPLACE TEMP TABLE alt_nation AS SELECT * FROM nation;
      |ALTER TABLE alt_nation ADD COLUMN flag INTEGER DEFAULT 7;
      |ALTER TABLE alt_nation RENAME COLUMN n_name TO nation_name;
      |ALTER TABLE alt_nation DROP COLUMN n_regionkey;
      |SELECT n_nationkey, nation_name, CAST(flag AS BIGINT) AS flag
      |FROM alt_nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val p = pipeline(s, dir, "nation" -> "nation_alt_w")
    val rs = p.run(
      """CREATE TABLE alt_nation AS SELECT * FROM nation_alt_w;
        |ALTER TABLE alt_nation ADD COLUMN flag INT DEFAULT 7;
        |ALTER TABLE alt_nation RENAME COLUMN n_name TO nation_name;
        |ALTER TABLE alt_nation DROP COLUMN n_regionkey;
        |SELECT n_nationkey, nation_name, CAST(flag AS BIGINT) AS flag
        |FROM alt_nation ORDER BY n_nationkey""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** Incrementally-maintained materialized view (summary-delta IVM, see
    * [[graft.MatViews]]): the Spark answer is read from the VIEW after a
    * DML script whose every statement maintained it incrementally
    * (insert/delete/key-moving update); DuckDB replays the same DML natively
    * on the base and aggregates from scratch at the end — divergence
    * anywhere in the delta math breaks the hash. */
  val dmlMatView: Q = Q(
    "dml_matview_incremental",
    """CREATE OR REPLACE TEMP TABLE mv_base AS
      |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier;
      |INSERT INTO mv_base VALUES (901, 'SUP_X', 77, 10.0), (902, 'SUP_Y', 77, 20.0);
      |DELETE FROM mv_base WHERE s_suppkey % 5 = 0;
      |UPDATE mv_base SET s_nationkey = s_nationkey + 1 WHERE s_suppkey % 7 = 0;
      |SELECT s_nationkey, COUNT(*) AS n, CAST(SUM(s_suppkey) AS BIGINT) AS sum_k
      |FROM mv_base WHERE s_suppkey > 2
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mv_base_w",
      Tables.df(s, dir, "supplier").selectExpr("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mv_rollup AS
        |  SELECT s_nationkey, COUNT(*) AS n, SUM(s_suppkey) AS sum_k
        |  FROM mv_base_w WHERE s_suppkey > 2 GROUP BY s_nationkey;
        |INSERT INTO mv_base_w VALUES (901, 'SUP_X', 77, 10.0), (902, 'SUP_Y', 77, 20.0);
        |DELETE FROM mv_base_w WHERE s_suppkey % 5 = 0;
        |UPDATE mv_base_w SET s_nationkey = s_nationkey + 1 WHERE s_suppkey % 7 = 0;
        |SELECT * FROM mv_rollup ORDER BY s_nationkey""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** Delta-join materialized view (Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB, one table per DML
    * statement): the Spark answer is read from a VIEW over an equi-join after
    * DML hits BOTH sides — fact inserts (incl. a dangling one its dim insert
    * later picks up) and deletes on each side. DuckDB replays the DML on the
    * bases and aggregates the join from scratch. */
  val dmlMatViewJoin: Q = Q(
    "dml_matview_join",
    """CREATE OR REPLACE TEMP TABLE mvj_sup AS
      |  SELECT s_suppkey, s_nationkey FROM supplier;
      |CREATE OR REPLACE TEMP TABLE mvj_nat AS
      |  SELECT n_nationkey, n_regionkey FROM nation;
      |INSERT INTO mvj_sup VALUES (901, 77), (902, 3);
      |INSERT INTO mvj_nat VALUES (77, 1);
      |DELETE FROM mvj_sup WHERE s_suppkey % 5 = 0;
      |DELETE FROM mvj_nat WHERE n_nationkey % 7 = 3;
      |SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(s_suppkey) AS BIGINT) AS sum_k
      |FROM mvj_sup JOIN mvj_nat ON s_nationkey = n_nationkey
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvj_sup_w",
      Tables.df(s, dir, "supplier").selectExpr("s_suppkey", "s_nationkey"))
    cat.register("mvj_nat_w",
      Tables.df(s, dir, "nation").selectExpr("n_nationkey", "n_regionkey"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvj_rollup AS
        |  SELECT n_regionkey, COUNT(*) AS n, SUM(s_suppkey) AS sum_k
        |  FROM mvj_sup_w JOIN mvj_nat_w ON s_nationkey = n_nationkey
        |  GROUP BY n_regionkey;
        |INSERT INTO mvj_sup_w VALUES (901, 77), (902, 3);
        |INSERT INTO mvj_nat_w VALUES (77, 1);
        |DELETE FROM mvj_sup_w WHERE s_suppkey % 5 = 0;
        |DELETE FROM mvj_nat_w WHERE n_nationkey % 7 = 3;
        |SELECT * FROM mvj_rollup ORDER BY n_regionkey""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    rs.last.df.get
  }

  /** Transparent materialized-view rewrite, oracle-gated end to end: after
    * DML, the matching grouped-aggregate SELECT (different aliases, aggregate
    * subset) runs through the Pipeline — which answers it from the view's
    * stored components without rescanning the base (PlanSpec asserts the
    * physical plan) — and must hash-match DuckDB recomputing from scratch. */
  val dmlMatViewRewrite: Q = Q(
    "dml_matview_rewrite",
    """CREATE OR REPLACE TEMP TABLE mvr_base AS
      |  SELECT s_suppkey, s_nationkey FROM supplier;
      |INSERT INTO mvr_base VALUES (931, 12), (932, 12);
      |DELETE FROM mvr_base WHERE s_suppkey % 6 = 0;
      |SELECT s_nationkey, COUNT(*) AS cnt
      |FROM mvr_base GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvr_base_w",
      Tables.df(s, dir, "supplier").selectExpr("s_suppkey", "s_nationkey"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvr_mv AS
        |  SELECT s_nationkey, COUNT(*) AS n, SUM(s_suppkey) AS sk
        |  FROM mvr_base_w GROUP BY s_nationkey;
        |INSERT INTO mvr_base_w VALUES (931, 12), (932, 12);
        |DELETE FROM mvr_base_w WHERE s_suppkey % 6 = 0""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    // the fragment query (no ORDER BY — outside the fragment) is rewritten
    // onto mvr_mv's state; deterministic output order added afterwards
    val ans = p.sql("SELECT s_nationkey, COUNT(*) AS cnt FROM mvr_base_w GROUP BY s_nationkey")
    val plan = ans.queryExecution.executedPlan.toString
    require(!plan.contains("HashAggregate") && !plan.contains("FileScan"),
      s"expected matview rewrite, got base aggregation:\n$plan")
    ans.orderBy("s_nationkey")
  }

  /** Rollup-tier rewrite ([[graft.MatViews.answerRollup]]), oracle-gated: the
    * SELECT groups by a strict SUBSET of the view's keys, so the exact-match
    * tier cannot fire — the answer must come from ONE re-aggregation of the
    * view's stored components (counts/sums re-sum, min re-folds) with no base
    * scan (asserted on the physical plan). DuckDB recomputes the coarser
    * grouping from scratch after the same DML. */
  val dmlMatViewRollup: Q = Q(
    "dml_matview_rollup",
    """CREATE OR REPLACE TEMP TABLE mvru_base AS
      |  SELECT s_suppkey AS sk, s_nationkey AS nk, s_suppkey % 4 AS grp FROM supplier;
      |INSERT INTO mvru_base VALUES (941, 12, 1), (942, 12, 2), (943, 13, 3);
      |SELECT grp, COUNT(*) AS cnt, CAST(SUM(sk) AS BIGINT) AS sum_k, MIN(sk) AS min_k
      |FROM mvru_base GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvru_w", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 4 AS grp"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvru_mv AS
        |  SELECT nk, grp, COUNT(*) AS n, SUM(sk) AS sum_sk, MIN(sk) AS min_sk
        |  FROM mvru_w GROUP BY nk, grp;
        |INSERT INTO mvru_w VALUES (941, 12, 1), (942, 12, 2), (943, 13, 3)""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    val ans = p.sql(
      "SELECT grp, COUNT(*) AS cnt, SUM(sk) AS sum_k, MIN(sk) AS min_k FROM mvru_w GROUP BY grp")
    val plan = ans.queryExecution.executedPlan.toString
    require(!plan.contains("FileScan"),
      s"expected rollup rewrite over view state, got base scan:\n$plan")
    ans.orderBy("grp")
  }

  /** WHERE-subsumption rollup ([[graft.MatViews]] `keyOnlyPredicate`): the
    * SELECT adds a predicate over the view's GROUP-BY keys — σ over keys
    * commutes with γ, so the rewrite filters the view's STATE rows and
    * re-aggregates, still never scanning the base (plan-asserted). DuckDB
    * recomputes from the base with the same predicate. */
  val dmlMatViewRollupWhere: Q = Q(
    "dml_matview_rollup_where",
    """CREATE OR REPLACE TEMP TABLE mvrw_base AS
      |  SELECT s_suppkey AS sk, s_nationkey AS nk, s_suppkey % 4 AS grp FROM supplier;
      |INSERT INTO mvrw_base VALUES (951, 14, 3), (952, 14, 0);
      |SELECT nk, COUNT(*) AS cnt, CAST(SUM(sk) AS BIGINT) AS sum_k
      |FROM mvrw_base WHERE grp <> 0 GROUP BY nk ORDER BY nk""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvrw_w", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 4 AS grp"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvrw_mv AS
        |  SELECT nk, grp, COUNT(*) AS n, SUM(sk) AS sum_sk
        |  FROM mvrw_w GROUP BY nk, grp;
        |INSERT INTO mvrw_w VALUES (951, 14, 3), (952, 14, 0)""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    val ans = p.sql(
      "SELECT nk, COUNT(*) AS cnt, SUM(sk) AS sum_k FROM mvrw_w WHERE grp <> 0 GROUP BY nk")
    val plan = ans.queryExecution.executedPlan.toString
    require(!plan.contains("FileScan"),
      s"expected state-filtered rollup rewrite, got base scan:\n$plan")
    ans.orderBy("nk")
  }

  /** Range-subsumption rollup ([[graft.MatViews]] `whereImplies`): the view
    * itself is FILTERED (`WHERE grp > 0`) and the query carries a strictly
    * TIGHTER key-only range (`WHERE grp > 1`) — the query's predicate implies
    * the view's, so the state contains every needed base row and re-filtering
    * state with the query's own predicate is exact. Plan-asserted no base
    * scan; DuckDB recomputes from the base. The negative direction (a LOOSER
    * query range must fall through to the base) is spec-pinned in
    * MatViewSpec, not here — it produces a base plan by design. */
  val dmlMatViewRollupRange: Q = Q(
    "dml_matview_rollup_range",
    """CREATE OR REPLACE TEMP TABLE mvrr_base AS
      |  SELECT s_suppkey AS sk, s_nationkey AS nk, s_suppkey % 4 AS grp FROM supplier;
      |INSERT INTO mvrr_base VALUES (961, 15, 2), (962, 15, 3);
      |SELECT nk, COUNT(*) AS cnt, CAST(SUM(sk) AS BIGINT) AS sum_k
      |FROM mvrr_base WHERE grp > 1 AND grp <= 3 GROUP BY nk ORDER BY nk""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvrr_w", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 4 AS grp"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvrr_mv AS
        |  SELECT nk, grp, COUNT(*) AS n, SUM(sk) AS sum_sk
        |  FROM mvrr_w WHERE grp > 0 GROUP BY nk, grp;
        |INSERT INTO mvrr_w VALUES (961, 15, 2), (962, 15, 3)""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    val ans = p.sql(
      "SELECT nk, COUNT(*) AS cnt, SUM(sk) AS sum_k FROM mvrr_w WHERE grp > 1 AND grp <= 3 GROUP BY nk")
    val plan = ans.queryExecution.executedPlan.toString
    require(!plan.contains("FileScan"),
      s"expected range-subsumed rollup rewrite, got base scan:\n$plan")
    ans.orderBy("nk")
  }

  /** IN-list tier of the range-subsumption rewrite: the query's key-only
    * `grp IN (2, 3)` implies the view's `grp > 0` (every list member
    * satisfies the range — the BETWEEN/IN families of the reference's
    * between_composition_rule.cpp applied to view subsumption), so the
    * rollup answers from view state and re-filters it with the IN-list.
    * Plan-asserted: no base-table FileScan survives. */
  val dmlMatViewRollupIn: Q = Q(
    "dml_matview_rollup_in",
    """CREATE OR REPLACE TEMP TABLE mvri_base AS
      |  SELECT s_suppkey AS sk, s_nationkey AS nk, s_suppkey % 5 AS grp FROM supplier;
      |INSERT INTO mvri_base VALUES (971, 15, 2), (972, 15, 4);
      |SELECT nk, COUNT(*) AS cnt, CAST(SUM(sk) AS BIGINT) AS sum_k
      |FROM mvri_base WHERE grp IN (2, 3) GROUP BY nk ORDER BY nk""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    cat.register("mvri_w", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 5 AS grp"))
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE MATERIALIZED VIEW mvri_mv AS
        |  SELECT nk, grp, COUNT(*) AS n, SUM(sk) AS sum_sk
        |  FROM mvri_w WHERE grp > 0 GROUP BY nk, grp;
        |INSERT INTO mvri_w VALUES (971, 15, 2), (972, 15, 4)""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    val ans = p.sql(
      "SELECT nk, COUNT(*) AS cnt, SUM(sk) AS sum_k FROM mvri_w WHERE grp IN (2, 3) GROUP BY nk")
    val plan = ans.queryExecution.executedPlan.toString
    require(!plan.contains("FileScan"),
      s"expected IN-subsumed rollup rewrite, got base scan:\n$plan")
    ans.orderBy("nk")
  }

  /** Dependent-GROUP-BY reduction ([[graft.plans.DependentGroupByReduction]],
    * reference: optimizer/strategy/dependent_group_by_reduction_rule.cpp),
    * oracle-gated on the reference's motivating q10 shape: GROUP BY pk +
    * describing columns. The declared PK licenses grouping by s_suppkey alone
    * (plan-asserted: the aggregate's grouping list shrinks to 1), the
    * dependent columns re-attach via FIRST — DuckDB recomputes with the full
    * GROUP BY list and the results must hash-match. */
  val aggDependentGroupBy: Q = Q(
    "agg_dependent_groupby",
    """CREATE OR REPLACE TEMP TABLE dgbq AS
      |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier;
      |SELECT s_suppkey, s_name, s_nationkey, COUNT(*) AS cnt,
      |  CAST(FLOOR(SUM(CAST(s_acctbal AS DECIMAL(18,2)) * 100)) AS BIGINT) AS bal_cents
      |FROM dgbq GROUP BY s_suppkey, s_name, s_nationkey
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    val p = new Pipeline(cat)
    val rs = p.run(
      """CREATE TABLE dgbq (s_suppkey INT PRIMARY KEY, s_name VARCHAR(30),
        |  s_nationkey INT, s_acctbal DOUBLE)""".stripMargin)
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    cat.register("dgbq", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val ans = p.sql(
      """SELECT s_suppkey, s_name, s_nationkey, COUNT(*) AS cnt,
        |  CAST(FLOOR(SUM(CAST(s_acctbal AS DECIMAL(18,2)) * 100)) AS BIGINT) AS bal_cents
        |FROM dgbq GROUP BY s_suppkey, s_name, s_nationkey""".stripMargin)
    val shrunk = ans.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.size
    }
    require(shrunk == Seq(1),
      s"expected the PK to shrink the grouping to [1], got $shrunk")
    ans.orderBy("s_suppkey")
  }

  /** Join-to-predicate rewrite ([[graft.plans.JoinToPredicateRewrite]],
    * reference: optimizer/strategy/join_to_predicate_rewrite_rule.cpp:192),
    * oracle-gated on the reference's motivating shape: a dim join used only
    * as a filter, where `unique_col = literal` guarantees a single dim row.
    * The declared UNIQUE on n_name licenses replacing the whole join with
    * `s_nationkey = (scalar subquery)` — plan-asserted: ZERO Join nodes
    * survive — and DuckDB recomputes with the real join. */
  val joinToPredicate: Q = Q(
    "join_to_predicate",
    """CREATE OR REPLACE TEMP TABLE j2pd AS SELECT n_nationkey, n_name FROM nation;
      |CREATE OR REPLACE TEMP TABLE j2pf AS
      |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier;
      |SELECT s_suppkey, s_name, s_acctbal FROM j2pf JOIN j2pd
      |  ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val cat = new Catalog(s)
    val p = new Pipeline(cat)
    val rs = p.run(
      "CREATE TABLE j2pd (n_nationkey INT PRIMARY KEY, n_name VARCHAR(30) UNIQUE)")
    rs.foreach(r => require(r.status == p.Ok, s"${r.sql}: ${r.status}"))
    cat.register("j2pd", Tables.df(s, dir, "nation")
      .selectExpr("n_nationkey", "n_name"))
    cat.register("j2pf", Tables.df(s, dir, "supplier")
      .selectExpr("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val ans = p.sql(
      """SELECT s_suppkey, s_name, s_acctbal FROM j2pf JOIN j2pd
        |  ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'""".stripMargin)
    val joins = ans.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    require(joins.isEmpty,
      s"expected the join to collapse into a scalar-subquery predicate, got ${joins.size} join(s)")
    ans.orderBy("s_suppkey")
  }

  /** Eager-aggregation rule ([[graft.plans.EagerAggregation]] — the Yan-Larson
    * rewrite packaged the way the reference packages its rewrites, reference:
    * src/lib/optimizer/strategy/), oracle-gated on the q18 motivating shape:
    * a per-order HAVING sum over a PK-side join. Catalog tables carry ANALYZE
    * row counts and declared PK/FK keys, so the stats gate licenses pushing
    * the SUM/COUNT below the orders join (estimated collapse 60k/15k = 4 ≥ 3)
    * — plan-asserted: the analyzed plan holds TWO aggregates (pre-agg per
    * l_orderkey + final) — and DuckDB recomputes the unrewritten SQL; results
    * must hash-match (exact-decimal sums are join-order invariant). */
  val aggEagerPush: Q = Q(
    "agg_eager_push",
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS n_lines
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    import graft.plans.{ConstraintRegistry, KeyConstraint}
    Seq("orders", "lineitem").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS eagq_$t")
      s.sql(s"CREATE TABLE eagq_$t USING PARQUET LOCATION '$dir/$t.parquet'")
      s.sql(s"ANALYZE TABLE eagq_$t COMPUTE STATISTICS")
    }
    ConstraintRegistry.put("eagq_orders",
      Seq(KeyConstraint("eagq_orders", "PRIMARY KEY", Seq("o_orderkey"))))
    ConstraintRegistry.put("eagq_lineitem", Seq(
      KeyConstraint("eagq_lineitem", "PRIMARY KEY", Seq("l_orderkey", "l_linenumber")),
      KeyConstraint("eagq_lineitem", "FOREIGN KEY", Seq("l_orderkey"),
        Some("eagq_orders"), Seq("o_orderkey"))))
    val ans = s.sql(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  COUNT(*) AS n_lines
        |FROM eagq_orders JOIN eagq_lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
        |ORDER BY o_orderkey""".stripMargin)
    val aggs = ans.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    require(aggs.size == 2,
      s"expected the eager pre-aggregate below the orders join (2 aggregates), got ${aggs.size}")
    ans
  }

  val all: Seq[Q] = Seq(dmlInsert, dmlDelete, dmlUpdate, dmlSnapshot, viewPrepared,
    metaTables, dmlMerge, txnRollbackCommit, dmlAlterTable, dmlMatView,
    dmlMatViewJoin, dmlMatViewRewrite, dmlMatViewRollup, dmlMatViewRollupWhere,
    dmlMatViewRollupRange, dmlMatViewRollupIn, aggDependentGroupBy, joinToPredicate,
    aggEagerPush)
}
