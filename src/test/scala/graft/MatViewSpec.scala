package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental materialized views: after every DML path the view content must
  * equal a from-scratch recompute of its defining query (the IVM correctness
  * contract), maintenance must be delta-sized, and the non-incremental cases
  * must fall back (MIN/MAX under delete) or be rejected (COUNT DISTINCT). */
class MatViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def freshPipeline(): (Catalog, Pipeline) = {
    val cat = new Catalog(spark)
    cat.register("nation_mv", Tables.df(spark, sf, "nation"))
    cat.register("supplier_mv", Tables.df(spark, sf, "supplier"))
    (cat, new Pipeline(cat))
  }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

  private def assertMatchesRecompute(cat: Catalog, view: String, defining: String): Unit = {
    val got = sorted(cat.table(view))
    val want = sorted(spark.sql(defining).toDF(cat.table(view).columns: _*))
    assert(got == want, s"$view diverged from recompute:\ngot  ${got.take(5)}\nwant ${want.take(5)}")
  }

  test("create + insert + delete + update keep the view equal to recompute") {
    val (cat, p) = freshPipeline()
    val defining =
      "SELECT s_nationkey, COUNT(*) AS n, SUM(s_suppkey) AS sk, AVG(s_suppkey) AS avg_k " +
        "FROM supplier_mv WHERE s_suppkey > 2 GROUP BY s_nationkey"
    val r = p.run(s"CREATE MATERIALIZED VIEW sup_rollup AS $defining")
    assert(r.forall(_.status == p.Ok), r.map(_.status).mkString(","))
    assertMatchesRecompute(cat, "sup_rollup", defining)

    // INSERT: new group + growth of an existing group
    p.run("INSERT INTO supplier_mv VALUES (901, 'SUP_X', 'addr', 77, 'p', 10.0, ''), " +
      "(902, 'SUP_Y', 'addr', 77, 'p', 20.0, '')")
    assertMatchesRecompute(cat, "sup_rollup", defining)

    // DELETE: shrink groups; some groups may die entirely
    p.run("DELETE FROM supplier_mv WHERE s_suppkey % 3 = 0")
    assertMatchesRecompute(cat, "sup_rollup", defining)

    // DELETE that empties the WHERE-qualified slice of a group
    p.run("DELETE FROM supplier_mv WHERE s_nationkey = 77 AND s_suppkey > 2")
    assertMatchesRecompute(cat, "sup_rollup", defining)

    // UPDATE: moves rows across the WHERE boundary and rewrites summed values
    p.run("UPDATE supplier_mv SET s_suppkey = s_suppkey + 100 WHERE s_nationkey = 0")
    assertMatchesRecompute(cat, "sup_rollup", defining)
  }

  test("min/max: incremental under insert, recompute fallback under delete") {
    val (cat, p) = freshPipeline()
    val defining =
      "SELECT n_regionkey, MIN(n_nationkey) AS mn, MAX(n_nationkey) AS mx, COUNT(*) AS n " +
        "FROM nation_mv GROUP BY n_regionkey"
    p.run(s"CREATE MATERIALIZED VIEW nat_minmax AS $defining")
    assertMatchesRecompute(cat, "nat_minmax", defining)
    p.run("INSERT INTO nation_mv VALUES (900, 'N_HI', 1), (-5, 'N_LO', 1)")
    assertMatchesRecompute(cat, "nat_minmax", defining) // both extremes moved
    // deleting the current minimum forces the fallback recompute — the new
    // min must resurface from the remainder, which no additive state can do
    p.run("DELETE FROM nation_mv WHERE n_nationkey = -5")
    assertMatchesRecompute(cat, "nat_minmax", defining)
  }

  test("sum returns to NULL when a group's non-null slice empties; group dies at count 0") {
    val cat = new Catalog(spark)
    import spark.implicits._
    cat.register("t_nulls", Seq((1, Some(10L)), (1, None), (2, Some(5L))).toDF("k", "v"))
    val p = new Pipeline(cat)
    val defining = "SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM t_nulls GROUP BY k"
    p.run(s"CREATE MATERIALIZED VIEW tn_mv AS $defining")
    p.run("DELETE FROM t_nulls WHERE v = 10") // group 1 keeps only the NULL row
    val rows = cat.table("tn_mv").orderBy("k").collect()
    assert(rows.length == 2 && rows(0).getLong(1) == 1 && rows(0).isNullAt(2),
      s"SUM over all-null remainder must be NULL: ${rows.toSeq}")
    p.run("DELETE FROM t_nulls WHERE k = 1") // group 1 dies
    assert(cat.table("tn_mv").count() == 1)
    assertMatchesRecompute(cat, "tn_mv", defining)
  }

  test("txn commit and MERGE refresh dependent views") {
    val (cat, p) = freshPipeline()
    val defining = "SELECT n_regionkey, COUNT(*) AS n FROM nation_mv GROUP BY n_regionkey"
    p.run(s"CREATE MATERIALIZED VIEW nat_n AS $defining")
    p.run("BEGIN; INSERT INTO nation_mv VALUES (950, 'TXN_N', 3); COMMIT")
    assertMatchesRecompute(cat, "nat_n", defining)
    cat.merge("nation_mv",
      spark.sql("SELECT 950 AS n_nationkey, 'TXN_N2' AS n_name, 4 AS n_regionkey"),
      Seq("n_nationkey"))
    assertMatchesRecompute(cat, "nat_n", defining)
  }

  test("maintenance is delta-sized: the merge plan never rescans the base table") {
    val cat = new Catalog(spark)
    cat.register("lineitem_ivm", Tables.df(spark, sf, "lineitem"))
    val p = new Pipeline(cat)
    p.run("CREATE MATERIALIZED VIEW li_rollup AS SELECT l_returnflag, COUNT(*) AS n, " +
      "SUM(l_quantity) AS q FROM lineitem_ivm GROUP BY l_returnflag")
    // the state is localCheckpoint'd, so the post-DML view plan must contain
    // NO scan of the lineitem parquet — only the checkpoint RDD + the delta
    p.run("INSERT INTO lineitem_ivm SELECT * FROM lineitem_ivm LIMIT 0") // no-op delta, real path
    p.run("INSERT INTO lineitem_ivm VALUES " +
      cat.table("lineitem_ivm").limit(1).collect().head.toSeq.map {
        case s: String => s"'$s'"
        case d: java.sql.Date => s"DATE '$d'"
        case x => String.valueOf(x)
      }.mkString("(", ", ", ")"))
    val plan = cat.table("li_rollup").queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"view state must come from the checkpointed merge, not a base rescan:\n$plan")
    // and it still matches a fresh recompute
    val got = sorted(cat.table("li_rollup"))
    val want = sorted(spark.sql("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q " +
      "FROM lineitem_ivm GROUP BY l_returnflag").toDF("l_returnflag", "n", "q"))
    assert(got == want)
  }

  test("guards: read-only view, no MV-over-MV, base drop blocked, COUNT DISTINCT rejected") {
    val (cat, p) = freshPipeline()
    p.run("CREATE MATERIALIZED VIEW g1 AS SELECT n_regionkey, COUNT(*) AS n " +
      "FROM nation_mv GROUP BY n_regionkey")
    assert(p.run("INSERT INTO g1 VALUES (1, 1)").last.status != p.Ok, "MV must be read-only")
    assert(p.run("CREATE MATERIALIZED VIEW g2 AS SELECT n, COUNT(*) AS c FROM g1 GROUP BY n")
      .last.status != p.Ok, "MV over MV must be rejected")
    assert(p.run("DROP TABLE nation_mv").last.status != p.Ok, "base drop with dependents must fail")
    assert(p.run("CREATE MATERIALIZED VIEW g3 AS SELECT n_regionkey, " +
      "COUNT(DISTINCT n_name) AS c FROM nation_mv GROUP BY n_regionkey").last.status != p.Ok,
      "COUNT DISTINCT is not incrementally maintainable")
    // after dropping the MV the base becomes droppable
    assert(p.run("DROP MATERIALIZED VIEW g1").last.status == p.Ok)
    assert(p.run("DROP TABLE nation_mv").last.status == p.Ok)
  }

  test("parse anchors are quote-aware: literals containing FROM/WHERE/GROUP BY don't mis-slice") {
    // ' FROM ' inside an agg-arg literal and ' WHERE '/' GROUP BY ' inside the
    // WHERE literal must not anchor the keyword slicing (they sit inside quotes
    // and parens — the same discipline splitTop applies to commas)
    val d = MatViews.parse("q_mv",
      "SELECT n_regionkey, COUNT(*) AS n, " +
        "SUM(CASE WHEN n_name LIKE '% FROM %' THEN 1 ELSE 0 END) AS has_from " +
        "FROM nation_mv WHERE n_name <> 'X WHERE Y GROUP BY Z' GROUP BY n_regionkey")
    assert(d.base == "nation_mv", s"base mis-sliced: ${d.base}")
    assert(d.where.contains("n_name <> 'X WHERE Y GROUP BY Z'"), s"where mis-sliced: ${d.where}")
    assert(d.keys == Seq("n_regionkey") && d.aggs.map(_.alias) == Seq("n", "has_from"))
    // whitespace collapse must preserve literal-internal spacing
    val d2 = MatViews.parse("ws_mv",
      "SELECT  n_regionkey,  COUNT(*)  AS n\n  FROM nation_mv\n  WHERE n_name <> 'a  b'\n  GROUP BY n_regionkey")
    assert(d2.where.contains("n_name <> 'a  b'"), s"literal spacing lost: ${d2.where}")
    // and the quoted-FROM definition works end-to-end through the pipeline
    val (cat, p) = freshPipeline()
    val defining = "SELECT n_regionkey, COUNT(*) AS n, " +
      "SUM(CASE WHEN n_name LIKE '% FROM %' THEN 1 ELSE 0 END) AS has_from " +
      "FROM nation_mv GROUP BY n_regionkey"
    assert(p.run(s"CREATE MATERIALIZED VIEW quoted_from_mv AS $defining").last.status == p.Ok)
    p.run("INSERT INTO nation_mv VALUES (980, 'MADE FROM SCRATCH', 2)")
    assertMatchesRecompute(cat, "quoted_from_mv", defining)
  }

  test("delta-join view: one equi-join, maintained incrementally from either side") {
    val (cat, p) = freshPipeline()
    val defining =
      "SELECT n_regionkey, COUNT(*) AS n, SUM(s_suppkey) AS sk " +
        "FROM supplier_mv JOIN nation_mv ON s_nationkey = n_nationkey GROUP BY n_regionkey"
    val r = p.run(s"CREATE MATERIALIZED VIEW supnat AS $defining")
    assert(r.forall(_.status == p.Ok), r.map(_.status).mkString(","))
    assertMatchesRecompute(cat, "supnat", defining)
    // insert on the FACT side: joins the existing dim row for nation 3
    p.run("INSERT INTO supplier_mv VALUES (911, 'SUP_J', 'addr', 3, 'p', 5.5, '')")
    assertMatchesRecompute(cat, "supnat", defining)
    // dangling fact insert (no nation 88 yet): view must NOT change
    p.run("INSERT INTO supplier_mv VALUES (912, 'SUP_K', 'addr', 88, 'p', 7.0, '')")
    assertMatchesRecompute(cat, "supnat", defining)
    // insert on the DIM side: the dangling supplier now joins in (A ⋈ ΔB)
    p.run("INSERT INTO nation_mv VALUES (88, 'N_NEW', 4)")
    assertMatchesRecompute(cat, "supnat", defining)
    // delete on the fact side (ΔA ⋈ B with negated components)
    p.run("DELETE FROM supplier_mv WHERE s_suppkey % 4 = 0")
    assertMatchesRecompute(cat, "supnat", defining)
    // delete on the dim side: every supplier of nation 3 leaves the view
    p.run("DELETE FROM nation_mv WHERE n_nationkey = 3")
    assertMatchesRecompute(cat, "supnat", defining)
    // update on the fact side that moves rows across join partners
    p.run("UPDATE supplier_mv SET s_nationkey = s_nationkey + 1 WHERE s_suppkey % 3 = 0")
    assertMatchesRecompute(cat, "supnat", defining)
    // update on the dim side that moves a GROUP key
    p.run("UPDATE nation_mv SET n_regionkey = n_regionkey + 1 WHERE n_nationkey % 5 = 1")
    assertMatchesRecompute(cat, "supnat", defining)
  }

  test("transparent rewrite: matching SELECT answered from view state; staleness falls back") {
    val (cat, p) = freshPipeline()
    p.run("CREATE MATERIALIZED VIEW rw_mv AS SELECT n_regionkey, COUNT(*) AS n, " +
      "SUM(n_nationkey) AS sk FROM nation_mv GROUP BY n_regionkey")
    // different aliases + aggregate SUBSET of the view: still answerable
    val q = "SELECT n_regionkey, COUNT(*) AS cnt FROM nation_mv GROUP BY n_regionkey"
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val df = p.sql(q)
    assert(df.columns.toSeq == Seq("n_regionkey", "cnt"), df.columns.toSeq.toString)
    val plan = planOf(df)
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"rewritten query must read view state, not the base parquet:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"rewritten query must not re-aggregate — components are stored:\n$plan")
    assert(sorted(df) == sorted(spark.sql(q)), "rewrite must be value-identical")
    // DML keeps the view fresh → still rewritten, still correct
    p.run("INSERT INTO nation_mv VALUES (991, 'RW_N', 2)")
    val df1 = p.sql(q)
    assert(!planOf(df1).contains("HashAggregate"), "fresh after DML → still rewritten")
    assert(sorted(df1) == sorted(spark.sql(q)))
    // raw register() bypasses maintenance → STALE → falls back to real execution
    cat.register("nation_mv", Tables.df(spark, sf, "nation").filter(col("n_regionkey") =!= 0))
    val df2 = p.sql(q)
    assert(planOf(df2).contains("HashAggregate"),
      s"stale view must NOT answer the query:\n${planOf(df2)}")
    assert(sorted(df2) == sorted(spark.sql(q)))
    // REFRESH re-syncs → rewrite resumes
    p.run("REFRESH MATERIALIZED VIEW rw_mv")
    val df3 = p.sql(q)
    assert(!planOf(df3).contains("HashAggregate"), "refreshed view answers again")
    assert(sorted(df3) == sorted(spark.sql(q)))
    // non-matching WHERE must not rewrite
    val qw = "SELECT n_regionkey, COUNT(*) AS cnt FROM nation_mv " +
      "WHERE n_nationkey > 5 GROUP BY n_regionkey"
    assert(planOf(p.sql(qw)).contains("HashAggregate"), "different WHERE → no rewrite")
    assert(sorted(p.sql(qw)) == sorted(spark.sql(qw)))
  }

  test("rollup rewrite: coarser GROUP BY answered by re-aggregating view state") {
    val (cat, p) = freshPipeline()
    cat.register("ru_base", Tables.df(spark, sf, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 3 AS g3",
        "s_acctbal AS bal"))
    p.run("CREATE MATERIALIZED VIEW ru_mv AS SELECT nk, g3, COUNT(*) AS n, " +
      "SUM(sk) AS ssum, AVG(sk) AS sav, MIN(bal) AS mbal, MAX(bal) AS xbal " +
      "FROM ru_base GROUP BY nk, g3")
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // keys {nk} ⊂ {nk, g3}: every aggregate family re-aggregates from state
    val q1 = "SELECT nk, COUNT(*) AS cnt, SUM(sk) AS s, AVG(sk) AS a, " +
      "MIN(bal) AS mn, MAX(bal) AS mx FROM ru_base GROUP BY nk"
    val df1 = p.sql(q1)
    assert(!planOf(df1).contains("FileScan") && !planOf(df1).contains("Scan parquet"),
      s"rollup must read view state, not the base:\n${planOf(df1)}")
    assert(df1.columns.toSeq == Seq("nk", "cnt", "s", "a", "mn", "mx"))
    assert(sorted(df1) == sorted(spark.sql(q1)), "rollup answer must equal base recompute")
    // the other descent direction: {g3} ⊂ {nk, g3}
    val q2 = "SELECT g3, SUM(sk) AS s, MIN(bal) AS mn FROM ru_base GROUP BY g3"
    val df2 = p.sql(q2)
    assert(!planOf(df2).contains("FileScan"), planOf(df2))
    assert(sorted(df2) == sorted(spark.sql(q2)))
    // set-equal keys still take the exact tier (no re-aggregation at all)
    val q3 = "SELECT g3, nk, COUNT(*) AS cnt FROM ru_base GROUP BY g3, nk"
    assert(!planOf(p.sql(q3)).contains("HashAggregate"),
      "exact tier must win when key sets match")
    // DML keeps the state fresh — the rollup answer tracks it
    p.run("INSERT INTO ru_base VALUES (991, 77, 1, 42.0), (992, 77, 2, -1.0)")
    val df1b = p.sql(q1)
    assert(!planOf(df1b).contains("FileScan"), "fresh after DML → still rolled up")
    assert(sorted(df1b) == sorted(spark.sql(q1)))
    // a key OUTSIDE the view's key set cannot descend the lattice → no rewrite
    val q4 = "SELECT sk, COUNT(*) AS cnt FROM ru_base GROUP BY sk"
    assert(planOf(p.sql(q4)).contains("FileScan") || planOf(p.sql(q4)).contains("ExistingRDD"),
      "finer grouping must fall through to real execution")
    assert(sorted(p.sql(q4)) == sorted(spark.sql(q4)))
    // key-only WHERE commutes with grouping → filters STATE rows, still no base scan
    val q5 = "SELECT nk, SUM(sk) AS s FROM ru_base WHERE g3 <> 1 GROUP BY nk"
    val df5 = p.sql(q5)
    assert(!planOf(df5).contains("FileScan"),
      s"key-only WHERE must filter view state, not rescan the base:\n${planOf(df5)}")
    assert(sorted(df5) == sorted(spark.sql(q5)))
    // … even at set-equal keys (the exact tier demands textual WHERE equality)
    val q6 = "SELECT nk, g3, COUNT(*) AS cnt FROM ru_base WHERE nk > 5 GROUP BY nk, g3"
    val df6 = p.sql(q6)
    assert(!planOf(df6).contains("FileScan"), planOf(df6))
    assert(sorted(df6) == sorted(spark.sql(q6)))
    // a NON-key predicate needs base rows the state no longer has → no rewrite
    val q7 = "SELECT nk, COUNT(*) AS cnt FROM ru_base WHERE bal > 0 GROUP BY nk"
    assert(planOf(p.sql(q7)).contains("FileScan"),
      "non-key WHERE must fall through to real execution")
    assert(sorted(p.sql(q7)) == sorted(spark.sql(q7)))
  }

  test("range subsumption: tighter query range answered from a filtered view; looser falls through") {
    // whereImplies unit surface first — the interval logic in isolation
    assert(MatViews.whereImplies("g3 > 1", "g3 > 0"))
    assert(MatViews.whereImplies("g3 >= 1", "g3 > 0"))       // X ≥ 1 ⟹ X > 0
    assert(MatViews.whereImplies("g3 = 2", "g3 > 0"))
    assert(MatViews.whereImplies("g3 > 1 AND nk < 5", "g3 > 0"))
    assert(MatViews.whereImplies("g3 > 1 AND g3 < 3", "g3 > 0 AND g3 <= 3"))
    assert(MatViews.whereImplies("d >= '1996-03-01'", "d >= '1996-01-01'")) // ISO strings
    assert(!MatViews.whereImplies("g3 >= 0", "g3 > 0"))      // looser bound
    assert(!MatViews.whereImplies("g3 > 0", "g3 > 1"))       // wrong direction
    assert(!MatViews.whereImplies("nk > 5", "g3 > 0"))       // different column
    assert(!MatViews.whereImplies("g3 > 0 OR nk > 5", "g3 > 0")) // OR widens — not implied
    assert(!MatViews.whereImplies("g3 > 'x'", "g3 > 0"))     // type-incomparable
    // quoted literals whose lexicographic order disagrees with the column's
    // possible numeric/date semantics are INCOMPARABLE, not lexicographic:
    // '9' > '10' lexicographically but 9 < 10 numerically — a Some here would
    // let the rewrite silently drop base rows
    assert(!MatViews.whereImplies("nk >= '9'", "nk >= '10'"))
    assert(!MatViews.whereImplies("d >= '1996-1-3'", "d >= '1996-02-01'")) // non-padded date
    assert(!MatViews.whereImplies("d >= '1996-03-01x'", "d >= '1996-01-01'")) // not strict ISO
    assert(!MatViews.whereImplies("nk >= 'b'", "nk >= 'a'")) // plain strings: conservative
    // BETWEEN lowers to two range conjuncts — both directions of subsumption
    assert(MatViews.whereImplies("g3 BETWEEN 1 AND 3", "g3 > 0"))
    assert(MatViews.whereImplies("g3 BETWEEN 1 AND 3", "g3 >= 1 AND g3 <= 4"))
    assert(!MatViews.whereImplies("g3 BETWEEN 0 AND 3", "g3 > 0"))  // lower edge leaks
    assert(!MatViews.whereImplies("g3 > 1", "g3 BETWEEN 1 AND 3"))  // unbounded above
    assert(MatViews.whereImplies("g3 = 2", "g3 BETWEEN 1 AND 3"))
    // IN-lists: every member must satisfy the view's range; subsets imply
    assert(MatViews.whereImplies("g3 IN (7, 8)", "g3 > 5"))
    assert(!MatViews.whereImplies("g3 IN (4, 8)", "g3 > 5"))        // 4 leaks
    assert(MatViews.whereImplies("g3 IN (1, 2)", "g3 IN (1, 2, 3)"))
    assert(!MatViews.whereImplies("g3 IN (1, 4)", "g3 IN (1, 2, 3)")) // 4 not a member
    assert(MatViews.whereImplies("g3 = 2", "g3 IN (1, 2, 3)"))
    assert(!MatViews.whereImplies("g3 > 1", "g3 IN (1, 2, 3)"))     // range ⊄ list
    assert(MatViews.whereImplies("g3 IN (2, 3)", "g3 BETWEEN 1 AND 3"))
    assert(!MatViews.whereImplies("nk IN ('9')", "nk >= '10'"))     // quoted numerics stay out

    val (cat, p) = freshPipeline()
    cat.register("rs_base", Tables.df(spark, sf, "supplier")
      .selectExpr("s_suppkey AS sk", "s_nationkey AS nk", "s_suppkey % 3 AS g3"))
    p.run("CREATE MATERIALIZED VIEW rs_mv AS SELECT nk, g3, COUNT(*) AS n, " +
      "SUM(sk) AS ssum FROM rs_base WHERE g3 > 0 GROUP BY nk, g3")
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // strictly tighter key-only range → state-only answer
    val q1 = "SELECT nk, COUNT(*) AS cnt, SUM(sk) AS s FROM rs_base WHERE g3 > 1 GROUP BY nk"
    val df1 = p.sql(q1)
    assert(!planOf(df1).contains("FileScan"),
      s"tighter range must re-filter view state, not rescan the base:\n${planOf(df1)}")
    assert(sorted(df1) == sorted(spark.sql(q1)))
    // conjunction tighter on the same column, extra key conjunct → still state-only
    val q2 = "SELECT nk, SUM(sk) AS s FROM rs_base WHERE g3 > 1 AND nk >= 0 GROUP BY nk"
    val df2 = p.sql(q2)
    assert(!planOf(df2).contains("FileScan"), planOf(df2))
    assert(sorted(df2) == sorted(spark.sql(q2)))
    // LOOSER range needs rows the state never had → must fall through to base
    val q3 = "SELECT nk, COUNT(*) AS cnt FROM rs_base WHERE g3 >= 0 GROUP BY nk"
    assert(planOf(p.sql(q3)).contains("FileScan") || planOf(p.sql(q3)).contains("ExistingRDD"),
      "looser range must fall through to real execution")
    assert(sorted(p.sql(q3)) == sorted(spark.sql(q3)))
    // DML keeps the subsumed answer fresh
    p.run("INSERT INTO rs_base VALUES (997, 88, 2), (998, 88, 0)")
    val df1b = p.sql(q1)
    assert(!planOf(df1b).contains("FileScan"), "fresh after DML → still rewritten")
    assert(sorted(df1b) == sorted(spark.sql(q1)))
  }

  test("parser shape pin: BETWEEN arrives as unresolved between(x, lo, hi)") {
    // MatViews.conjunctsOf lowers exactly this shape; if a Spark upgrade
    // changes what the parser emits, range/IN subsumption silently stops
    // firing — this test turns that into a loud failure.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression("x BETWEEN 1 AND 3")
    e match {
      case f: UnresolvedFunction =>
        assert(f.nameParts.map(_.toLowerCase) == Seq("between"), f.nameParts)
        assert(f.arguments.size == 3 && !f.isDistinct && f.filter.isEmpty)
      case other =>
        fail(s"BETWEEN no longer lowers to unresolved between(); got $other — update MatViews.conjunctsOf")
    }
  }

  test("meta_materialized_views lists definitions; REFRESH re-syncs a raw rebind") {
    val (cat, p) = freshPipeline()
    val defining = "SELECT n_regionkey, COUNT(*) AS n FROM nation_mv GROUP BY n_regionkey"
    p.run(s"CREATE MATERIALIZED VIEW meta_probe AS $defining")
    val meta = p.run("SELECT view_name, base_table, n_groups FROM meta_materialized_views")
      .last.df.get.collect()
    assert(meta.exists(r => r.getString(0) == "meta_probe" && r.getString(1) == "nation_mv"
      && r.getLong(2) == 5))
    // raw register() bypasses DML maintenance by design → REFRESH re-syncs
    cat.register("nation_mv", Tables.df(spark, sf, "nation").filter(col("n_regionkey") =!= 0))
    p.run("REFRESH MATERIALIZED VIEW meta_probe")
    assertMatchesRecompute(cat, "meta_probe", defining)
  }

  test("expression keys (r15): derived grouping column maintained incrementally, both signs") {
    import org.apache.spark.sql.functions._
    val d = MatViews.parse("mv_year",
      """SELECT o_custkey, year(o_orderdate) AS yr,
        |  COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM orders GROUP BY o_custkey, yr""".stripMargin)
    assert(d.keyExprs.keySet === Set("yr") && d.keys.map(_.toLowerCase) === Seq("o_custkey", "yr"))
    val base = Tables.df(spark, sf, "orders")
    def direct(of: org.apache.spark.sql.DataFrame) = of
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    // build == direct
    val st0 = MatViews.deltaState(d, base)
    assert(sorted(MatViews.visible(d, st0)) === sorted(direct(base)))
    // insert delta (new keys via shifted custkey) == rebuild over grown base
    val delta = base.filter(col("o_custkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(50000000L))
    val st1 = MatViews.merge(d, st0, MatViews.deltaState(d, delta))
    assert(sorted(MatViews.visible(d, st1)) === sorted(direct(base.unionByName(delta))))
    // signed delete-delta returns to the base
    val st2 = MatViews.merge(d, st1, MatViews.deltaState(d, delta, sign = -1))
    assert(sorted(MatViews.visible(d, st2)) === sorted(direct(base)))
  }

  test("expression keys: same alias over DIFFERENT expressions never matches (rewrite safety)") {
    val mvYear = MatViews.parse("mv_y",
      "SELECT year(o_orderdate) AS yr, COUNT(*) AS n FROM orders GROUP BY yr")
    val qMonth = MatViews.parse("q_m",
      "SELECT month(o_orderdate) AS yr, COUNT(*) AS n FROM orders GROUP BY yr")
    val qYear = MatViews.parse("q_y",
      "SELECT year(o_orderdate) AS yr, COUNT(*) AS n FROM orders GROUP BY yr")
    assert(!MatViews.matches(mvYear, qMonth), "month-keyed query must not hit a year-keyed view")
    assert(!MatViews.matchesRollup(mvYear, qMonth))
    assert(MatViews.matches(mvYear, qYear), "identical expression keys must match")
    // rollup descent: global re-aggregation of a (custkey, yr) view still works
    val mv2 = MatViews.parse("mv_cy",
      "SELECT o_custkey, year(o_orderdate) AS yr, COUNT(*) AS n FROM orders GROUP BY o_custkey, yr")
    assert(MatViews.matchesRollup(mv2, qYear), "yr ⊂ (o_custkey, yr) with equal exprs must roll up")
    val st = MatViews.deltaState(mv2, Tables.df(spark, sf, "orders"))
    val viaRollup = MatViews.answerRollup(qYear, mv2, st)
    import org.apache.spark.sql.functions._
    val direct = Tables.df(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr")).agg(count(lit(1)).as("n"))
    assert(sorted(viaRollup) === sorted(direct))
  }

  test("expression keys: CAST-style exprs with embedded AS parse to the LAST top-level alias") {
    val d = MatViews.parse("mv_cast",
      "SELECT CAST(o_totalprice AS INT) AS bucket, COUNT(*) AS n FROM orders GROUP BY bucket")
    assert(d.keyExprs === Map("bucket" -> "CAST(o_totalprice AS INT)"))
    // and junk select items still refuse loudly
    val e = intercept[IllegalArgumentException] {
      MatViews.parse("bad", "SELECT o_custkey + 1, COUNT(*) AS n FROM orders GROUP BY o_custkey")
    }
    assert(e.getMessage.contains("select item must be"))
  }

  /** Definitions over the fixture tables with the shapes the engine's
    * aggregates use: WHERE over joined columns, INTERVAL and TIMESTAMP
    * literals, expression keys, CASE arguments, COUNT(x) / SUM / MAX, and
    * a 3-table JOIN chain. */
  private val fixtureDefs: Seq[(String, String)] = Seq(
    "lineitem_by_partkey" ->
      ("SELECT l_partkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec " +
        "FROM lineitem GROUP BY l_partkey"),
    "lineitem_cents_by_cust_status" ->
      ("SELECT o_custkey, l_linestatus, " +
        "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_custkey, l_linestatus"),
    "lineitem_qty_by_custkey" ->
      ("SELECT o_custkey, SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qty_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_custkey"),
    "lineitem_1997_dates_by_partkey" ->
      ("SELECT l_partkey, o_orderdate, COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE year(o_orderdate) = 1997 GROUP BY l_partkey, o_orderdate"),
    "lineitem_signed_by_brand_year" ->
      ("SELECT p_brand, year(o_orderdate) AS yr, " +
        "SUM(CASE WHEN l_returnflag = 'R' THEN -CAST(FLOOR(l_quantity) AS BIGINT) " +
        "ELSE CAST(FLOOR(l_quantity) AS BIGINT) END) AS qty_sum, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN -(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) " +
        "ELSE CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS amt_sum " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, yr"),
    "lineitem_profit_by_brand_channel" ->
      ("SELECT p_brand, l_linenumber % 3 AS ch, " +
        "SUM(CASE WHEN l_returnflag <> 'R' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS sales_sum, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS refunds_sum " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, ch"),
    "lineitem_late_counts_by_status" ->
      ("SELECT l_linestatus, " +
        "COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count, " +
        "COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY " +
        "GROUP BY l_linestatus"),
    "lineitem_rev_by_channel_priority" ->
      ("SELECT CASE WHEN l_returnflag = 'R' THEN 'returns' ELSE 'catalog' END AS channel, " +
        "o_orderpriority, " +
        "SUM(CASE WHEN l_returnflag = 'R' " +
        "THEN -(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) " +
        "ELSE CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS rev, " +
        "COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY channel, o_orderpriority"),
    "lineitem_qtydec_by_order" ->
      ("SELECT l_orderkey, o_orderdate, o_custkey, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY l_orderkey, o_orderdate, o_custkey"),
    "orders_count_by_custkey" ->
      ("SELECT o_custkey, COUNT(o_orderkey) AS c_count FROM orders " +
        "WHERE o_orderpriority <> '5-LOW' GROUP BY o_custkey"),
    "lineitem_rrev_by_customer" ->
      ("SELECT o_custkey, c_name, c_nationkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE l_returnflag = 'R' AND year(o_orderdate) >= 1997 " +
        "GROUP BY o_custkey, c_name, c_nationkey"),
    "lineitem_rev_building_unshipped" ->
      ("SELECT l_orderkey, o_orderdate, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate"),
    "lineitem_9801_price_by_part_cust" ->
      ("SELECT l_partkey, o_custkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_sum, COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE year(o_orderdate) = 1998 AND month(o_orderdate) <= 3 " +
        "GROUP BY l_partkey, o_custkey"),
    "lineitem_late_by_order_supp" ->
      ("SELECT l_orderkey, l_suppkey, " +
        "MAX(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late, " +
        "SUM(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late_lines " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' GROUP BY l_orderkey, l_suppkey"))

  test("fixture-table definitions: each view equals its defining query, 3-table joins included") {
    val cat = new Catalog(spark)
    val bases = Seq("lineitem", "orders", "customer", "part")
    bases.foreach(t => cat.register(t, Tables.df(spark, sf, t)))
    try fixtureDefs.foreach { case (name, text) =>
      cat.createMatView(name, text)
      assertMatchesRecompute(cat, name, text)
    } finally (bases ++ fixtureDefs.map(_._1)).foreach(spark.catalog.dropTempView)
  }
}
