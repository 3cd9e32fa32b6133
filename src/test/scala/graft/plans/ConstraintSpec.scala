package graft.plans

import graft.{Catalog, Pipeline, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

/** Key constraints: DDL round-trip into metadata, and the UCC-driven rewrite —
  * DISTINCT over a declared-unique key is removed from the plan (an entire
  * hash-aggregate shuffle deleted at scale). */
class ConstraintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def freshPipe(): Pipeline = new Pipeline(new Catalog(spark))

  /** Rows of `sql` as the constraint rules rewrite it equal its rows with the
    * declarations of `tables` taken out of [[ConstraintRegistry]] (so no rule
    * can fire); the declarations are restored afterwards. Both runs go
    * through `spark.sql`, never the pipeline's plan memo. */
  private def sameRowsWithoutConstraints(sql: String, tables: String*): Unit = {
    def rows(): Seq[String] = spark.sql(sql).collect().map(_.toString).toSeq.sorted
    val rewritten = rows()
    val saved = tables.map(t => t -> ConstraintRegistry.of(t))
    saved.foreach { case (t, _) => ConstraintRegistry.drop(t) }
    try assert(rows() === rewritten, s"rows changed by a constraint rewrite: $sql")
    finally saved.foreach { case (t, cs) => ConstraintRegistry.put(t, cs) }
  }

  test("CREATE TABLE with PK/UNIQUE/FK round-trips into meta_constraints") {
    val p = freshPipe()
    p.run(
      """CREATE TABLE dim_store (store_id INT PRIMARY KEY, name VARCHAR(20) NOT NULL, code INT UNIQUE);
        |CREATE TABLE fact_sale (sale_id INT, store_id INT,
        |  PRIMARY KEY (sale_id), FOREIGN KEY (store_id) REFERENCES dim_store(store_id))""".stripMargin)
    val cs = p.sql(
      """SELECT table_name, constraint_type, columns, ref_table FROM meta_constraints
        |WHERE table_name IN ('dim_store','fact_sale') ORDER BY table_name, constraint_type, columns""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(cs.toSeq === Seq(
      ("dim_store", "PRIMARY KEY", "store_id", null),
      ("dim_store", "UNIQUE", "code", null),
      ("fact_sale", "FOREIGN KEY", "store_id", "dim_store"),
      ("fact_sale", "PRIMARY KEY", "sale_id", null)))
    // NOT NULL is honored in the schema
    assert(!p.catalog.table("dim_store").schema("name").nullable)
    p.run("DROP TABLE dim_store; DROP TABLE fact_sale")
    assert(ConstraintRegistry.of("dim_store").isEmpty)
  }

  test("DISTINCT over a declared unique key is removed; without constraint it stays") {
    val p = freshPipe()
    p.run("CREATE TABLE keyed (k INT PRIMARY KEY, v INT); " +
      "INSERT INTO keyed VALUES (1, 10); INSERT INTO keyed VALUES (2, 10)")
    def hasDistinctAgg(sql: String): Boolean = {
      val plan = p.sql(sql).queryExecution.optimizedPlan
      plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty
    }
    assert(!hasDistinctAgg("SELECT DISTINCT k, v FROM keyed"),
      "distinct covering the PK must be optimized away")
    assert(hasDistinctAgg("SELECT DISTINCT v FROM keyed"),
      "distinct NOT covering the key must remain")
    // results are unchanged by the rewrite
    assert(p.sql("SELECT DISTINCT k, v FROM keyed").count() == 2)
    sameRowsWithoutConstraints("SELECT DISTINCT k, v FROM keyed", "keyed")
    // subset semantics: k passes through the projection, so the key still
    // covers the output and the aggregate goes
    assert(!hasDistinctAgg("SELECT DISTINCT k, v + 1 AS w FROM keyed"))
    sameRowsWithoutConstraints("SELECT DISTINCT k, v + 1 AS w FROM keyed", "keyed")
    // blocked: an alias that only shadows the constrained name; dup holds
    // (1, 10) twice, so the DISTINCT must stay and return one row
    p.run("CREATE TABLE dup (k INT, v INT); " +
      "INSERT INTO dup VALUES (1, 10); INSERT INTO dup VALUES (1, 10)")
    // (the analyzed plan: over two literal rows the optimizer folds the kept
    // aggregate into a LocalRelation)
    val kept = p.sql("SELECT DISTINCT k, v FROM dup AS keyed").queryExecution.analyzed
      .collect { case d: org.apache.spark.sql.catalyst.plans.logical.Distinct => d }
    assert(kept.nonEmpty, "alias shadowing a constrained name must keep the DISTINCT")
    assert(p.sql("SELECT DISTINCT k, v FROM dup AS keyed").count() == 1)
    sameRowsWithoutConstraints("SELECT DISTINCT k, v FROM dup AS keyed", "keyed")
    p.run("DROP TABLE keyed; DROP TABLE dup")
  }

  test("rewrite survives projection and filter, is blocked by renames") {
    val p = freshPipe()
    p.run("CREATE TABLE keyed2 (k INT PRIMARY KEY, v INT, w INT); " +
      "INSERT INTO keyed2 VALUES (1, 10, 100); INSERT INTO keyed2 VALUES (2, 10, 100)")
    def aggs(sql: String): Int =
      p.sql(sql).queryExecution.optimizedPlan
        .collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size
    assert(aggs("SELECT DISTINCT k, v FROM keyed2 WHERE w > 0") == 0,
      "filter preserves uniqueness")
    sameRowsWithoutConstraints("SELECT DISTINCT k, v FROM keyed2 WHERE w > 0", "keyed2")
    assert(aggs("SELECT DISTINCT k AS renamed, v FROM keyed2") == 1,
      "a renamed key column conservatively blocks the rewrite")
    p.run("DROP TABLE keyed2")
  }

  test("DataFrame-side distinct() also benefits") {
    val p = freshPipe()
    p.run("CREATE TABLE keyed3 (k INT PRIMARY KEY, v INT); " +
      "INSERT INTO keyed3 VALUES (1, 1); INSERT INTO keyed3 VALUES (2, 1)")
    val plan = spark.table("keyed3").distinct().queryExecution.optimizedPlan
    assert(plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.isEmpty)
    p.run("DROP TABLE keyed3")
  }

  test("dependent GROUP BY reduction: PK shrinks the grouping, dependents return via FIRST") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val p = freshPipe()
    p.run("CREATE TABLE dgb (k INT PRIMARY KEY, name VARCHAR(10), v INT); " +
      "INSERT INTO dgb VALUES (1, 'a', 10); INSERT INTO dgb VALUES (2, 'b', 20); " +
      "INSERT INTO dgb VALUES (3, 'a', 30)")
    def groupingSizes(sql: String): Seq[Int] =
      p.sql(sql).queryExecution.optimizedPlan
        .collect { case a: Aggregate => a.groupingExpressions.size }
    val q = "SELECT k, name, SUM(v) AS s FROM dgb GROUP BY k, name"
    assert(groupingSizes(q) == Seq(1), "PK k makes name dependent → group by k alone")
    assert(p.sql(q).columns.toSeq == Seq("k", "name", "s"), "output schema unchanged")
    assert(p.sql(q).orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, "a", 10L), Seq(2, "b", 20L), Seq(3, "a", 30L)))
    sameRowsWithoutConstraints(q, "dgb")
    // blocked: no constraint on the grouping columns
    p.run("CREATE TABLE dgb_nopk (k INT, name VARCHAR(10), v INT); " +
      "INSERT INTO dgb_nopk VALUES (1, 'a', 10)")
    assert(groupingSizes("SELECT k, name, SUM(v) AS s FROM dgb_nopk GROUP BY k, name") == Seq(2))
    // blocked: UNIQUE is not PK (NULL rows would merge)
    p.run("CREATE TABLE dgb_u (k INT UNIQUE, name VARCHAR(10), v INT); " +
      "INSERT INTO dgb_u VALUES (1, 'a', 10)")
    assert(groupingSizes("SELECT k, name, SUM(v) AS s FROM dgb_u GROUP BY k, name") == Seq(2))
    // blocked: a dependent column read inside a non-aggregate select expression
    assert(groupingSizes("SELECT k, upper(name) AS un, SUM(v) AS s FROM dgb GROUP BY k, name")
      == Seq(2))
    // blocked: a DIFFERENT table aliased to the constrained name must not
    // inherit dgb's PRIMARY KEY — dgb_nopk has duplicate k values, so
    // shrinking here would merge distinct (k, name) groups
    p.run("INSERT INTO dgb_nopk VALUES (1, 'b', 99)")
    assert(groupingSizes("SELECT k, name, SUM(v) AS s FROM dgb_nopk AS dgb GROUP BY k, name")
      == Seq(2), "alias shadowing a constrained name stays blocked")
    // blocked: a derived subquery aliased to the constrained name (columns
    // swapped, so 'k' is NOT the PK values)
    assert(groupingSizes(
      "SELECT k, name, SUM(v) AS s FROM (SELECT name AS k, k AS name, v FROM dgb) AS dgb GROUP BY k, name")
      == Seq(2), "derived subquery under the constrained name stays blocked")
    // still fires: the constrained table referenced UNDER a different alias
    assert(groupingSizes("SELECT k, name, SUM(v) AS s FROM dgb AS z GROUP BY k, name")
      == Seq(1), "renamed alias over the genuine view still attributes the PK")
    sameRowsWithoutConstraints("SELECT k, name, SUM(v) AS s FROM dgb AS z GROUP BY k, name", "dgb")
    // join shape: PK side shrinks, other side's column stays a grouping key
    p.run("CREATE TABLE dgb_f (fk INT, amt INT); " +
      "INSERT INTO dgb_f VALUES (1, 5); INSERT INTO dgb_f VALUES (1, 6); " +
      "INSERT INTO dgb_f VALUES (2, 7)")
    val jq = "SELECT k, name, SUM(amt) AS s FROM dgb JOIN dgb_f ON k = fk GROUP BY k, name"
    assert(groupingSizes(jq) == Seq(1))
    assert(p.sql(jq).orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, "a", 11L), Seq(2, "b", 7L)))
    sameRowsWithoutConstraints(jq, "dgb")
    p.run("DROP TABLE dgb; DROP TABLE dgb_nopk; DROP TABLE dgb_u; DROP TABLE dgb_f")
  }

  test("existence-probe inner join on a declared unique key becomes a semi join") {
    val p = freshPipe()
    p.run("CREATE TABLE dim_u (dk INT PRIMARY KEY, attr VARCHAR(10)); " +
      "INSERT INTO dim_u VALUES (1, 'x'); INSERT INTO dim_u VALUES (2, 'y'); " +
      "CREATE TABLE fact_u (fk INT, payload INT); " +
      "INSERT INTO fact_u VALUES (1, 10); INSERT INTO fact_u VALUES (1, 11); " +
      "INSERT INTO fact_u VALUES (3, 12)")
    def joinTypes(sql: String): Seq[String] =
      p.sql(sql).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType.toString
      }
    // only fact columns referenced + dk unique → semi join (Catalyst then
    // pushes the LeftSemi through the INSERT union, so several may appear)
    val probe = joinTypes("SELECT payload FROM fact_u JOIN dim_u ON fk = dk")
    assert(probe.nonEmpty && probe.forall(_ == "LeftSemi"),
      s"existence probe must plan as a semi join, got $probe")
    // answers unchanged: two matching fact rows survive, each once
    assert(p.sql("SELECT payload FROM fact_u JOIN dim_u ON fk = dk").count() == 2)
    sameRowsWithoutConstraints("SELECT payload FROM fact_u JOIN dim_u ON fk = dk", "dim_u")
    // a dim column referenced above blocks the rewrite
    assert(joinTypes("SELECT payload, attr FROM fact_u JOIN dim_u ON fk = dk")
      .forall(_ == "Inner"))
    // joining on a NON-unique dim column blocks the rewrite
    assert(joinTypes("SELECT fk FROM fact_u JOIN dim_u ON attr = CAST(fk AS STRING)")
      .forall(_ != "LeftSemi"), "non-unique join keys must stay inner")
    // mirrored orientation: unique side on the LEFT, probe references RIGHT cols
    val mirrored = joinTypes("SELECT payload FROM dim_u JOIN fact_u ON dk = fk")
    assert(mirrored.nonEmpty && mirrored.forall(_ == "LeftSemi"),
      s"mirrored existence probe must also plan as a semi join, got $mirrored")
    sameRowsWithoutConstraints("SELECT payload FROM dim_u JOIN fact_u ON dk = fk", "dim_u")
    // blocked: an alias that only shadows the constrained name; dimdup holds
    // dk = 1 twice, so each of the two fk = 1 fact rows joins twice
    p.run("CREATE TABLE dimdup (dk INT, attr VARCHAR(10)); " +
      "INSERT INTO dimdup VALUES (1, 'x'); INSERT INTO dimdup VALUES (1, 'x')")
    val shadow = "SELECT payload FROM fact_u JOIN dimdup AS dim_u ON fk = dk"
    assert(joinTypes(shadow).nonEmpty && joinTypes(shadow).forall(_ == "Inner"),
      s"alias shadowing a constrained name must stay an inner join, got ${joinTypes(shadow)}")
    assert(p.sql(shadow).count() == 4)
    sameRowsWithoutConstraints(shadow, "dim_u")
    p.run("DROP TABLE dim_u; DROP TABLE fact_u; DROP TABLE dimdup")
  }

  test("join-to-predicate: singleton-guaranteed probe side becomes a scalar-subquery filter") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val p = freshPipe()
    p.run("CREATE TABLE j2p_dim (k INT PRIMARY KEY, code VARCHAR(10) UNIQUE, pad INT); " +
      "INSERT INTO j2p_dim VALUES (1, 'DE', 0); INSERT INTO j2p_dim VALUES (2, 'FR', 0); " +
      "INSERT INTO j2p_dim VALUES (3, 'IT', 0)")
    p.run("CREATE TABLE j2p_fact (fk INT, val INT); " +
      "INSERT INTO j2p_fact VALUES (1, 10); INSERT INTO j2p_fact VALUES (1, 11); " +
      "INSERT INTO j2p_fact VALUES (2, 20); INSERT INTO j2p_fact VALUES (NULL, 30)")
    def joins(sql: String): Int =
      p.sql(sql).queryExecution.optimizedPlan.collect { case j: Join => j }.size
    // the flagship shape: WHERE pins the dim's UNIQUE column to a literal and
    // the projection uses only fact columns -> the join disappears entirely
    val q = "SELECT fk, val FROM j2p_fact JOIN j2p_dim ON fk = k WHERE code = 'DE'"
    assert(joins(q) == 0, "join must be replaced by a scalar-subquery predicate")
    assert(p.sql(q).orderBy("val").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, 10), Seq(1, 11)))
    sameRowsWithoutConstraints(q, "j2p_dim")
    // a fact row may match several dim rows ONLY via the join key; with the
    // unique filter the keep-set is exact. Empty probe side -> zero rows.
    assert(p.sql("SELECT fk, val FROM j2p_fact JOIN j2p_dim ON fk = k WHERE code = 'XX'")
      .collect().isEmpty, "empty probe side keeps nothing (col = NULL subquery)")
    sameRowsWithoutConstraints(
      "SELECT fk, val FROM j2p_fact JOIN j2p_dim ON fk = k WHERE code = 'XX'", "j2p_dim")
    // blocked: filter column is not unique (several rows could survive)
    assert(joins("SELECT fk, val FROM j2p_fact JOIN j2p_dim ON fk = k WHERE pad = 0") == 1)
    // blocked: the projection reads a probe-side column
    assert(joins("SELECT fk, val, code FROM j2p_fact JOIN j2p_dim ON fk = k WHERE code = 'DE'") == 1)
    // blocked: a table shadowing the constrained name must not license it
    p.run("CREATE TABLE j2p_other (k INT, code VARCHAR(10), pad INT); " +
      "INSERT INTO j2p_other VALUES (1, 'DE', 0); INSERT INTO j2p_other VALUES (1, 'DE', 1)")
    assert(joins("SELECT fk, val FROM j2p_fact JOIN j2p_other AS j2p_dim ON fk = k WHERE code = 'DE'") == 1,
      "alias shadowing the constrained dim stays a join")
    // blocked: a nondeterministic conjunct (empty references, so it would
    // otherwise land on the build side) must keep filtering per joined row —
    // moving it into a once-evaluated scalar subquery would keep all-or-none
    assert(joins("SELECT fk, val FROM j2p_fact JOIN j2p_dim ON fk = k " +
      "WHERE code = 'DE' AND rand() < 2.0") == 1,
      "nondeterministic conjunct must block the rewrite")
    // semi-join shape (DataFrame-level LEFT SEMI with the filter inside)
    assert(joins("SELECT fk, val FROM j2p_fact WHERE fk IN (SELECT k FROM j2p_dim WHERE code = 'DE')") == 0 ||
      p.sql("SELECT fk, val FROM j2p_fact WHERE fk IN (SELECT k FROM j2p_dim WHERE code = 'DE')")
        .orderBy("val").collect().map(_.toSeq).toSeq == Seq(Seq(1, 10), Seq(1, 11)))
    sameRowsWithoutConstraints(
      "SELECT fk, val FROM j2p_fact WHERE fk IN (SELECT k FROM j2p_dim WHERE code = 'DE')", "j2p_dim")
    p.run("DROP TABLE j2p_dim; DROP TABLE j2p_fact; DROP TABLE j2p_other")
  }
}
