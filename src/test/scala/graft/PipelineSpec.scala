package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog + Pipeline lifecycle: DML snapshot semantics, views, PREPARE/EXECUTE,
  * plan cache, meta tables, multi-statement scripts (SURVEY §3 lifecycle parity). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def freshPipeline(): Pipeline = {
    val cat = new Catalog(spark)
    cat.register("t_nation", Tables.df(spark, SparkTestBase.sf, "nation"))
    cat.register("t_region", Tables.df(spark, SparkTestBase.sf, "region"))
    new Pipeline(cat)
  }

  test("INSERT appends with schema enforcement") {
    val p = freshPipeline()
    val before = p.catalog.table("t_nation").count()
    p.run("INSERT INTO t_nation VALUES (900, 'NEW_NATION', 0)")
    assert(p.catalog.table("t_nation").count() == before + 1)
    val added = p.catalog.table("t_nation").filter(col("n_nationkey") === 900).collect()
    assert(added.head.getString(1) == "NEW_NATION")
  }

  test("DELETE removes matching rows; NULL predicate rows survive") {
    val p = freshPipeline()
    p.run("DELETE FROM t_region WHERE r_regionkey >= 3")
    assert(p.catalog.table("t_region").count() == 3)
  }

  test("UPDATE rewrites matching rows only") {
    val p = freshPipeline()
    p.run("UPDATE t_region SET r_name = 'X' WHERE r_regionkey = 0")
    val names = p.catalog.table("t_region").orderBy("r_regionkey")
      .select("r_name").collect().map(_.getString(0))
    assert(names.head == "X")
    assert(names.count(_ == "X") == 1)
  }

  test("statement-level snapshot: captured plans don't see later DML") {
    val p = freshPipeline()
    val snapshot = p.catalog.table("t_region")
    p.run("DELETE FROM t_region WHERE r_regionkey = 0")
    assert(snapshot.count() == 5, "old binding keeps its snapshot")
    assert(p.catalog.table("t_region").count() == 4)
  }

  test("views and PREPARE/EXECUTE bind parameters") {
    val p = freshPipeline()
    val rs = p.run(
      """CREATE VIEW even_nations AS SELECT * FROM t_nation WHERE n_nationkey % 2 = 0;
        |PREPARE pick AS SELECT COUNT(*) AS n FROM even_nations WHERE n_regionkey = ?;
        |EXECUTE pick (1)""".stripMargin)
    assert(rs.forall(_.status == p.Ok))
    val expected = Tables.df(spark, SparkTestBase.sf, "nation")
      .filter(col("n_nationkey") % 2 === 0 && col("n_regionkey") === 1).count()
    assert(rs.last.df.get.collect().head.getLong(0) == expected)
  }

  test("plan cache hits on repeated SQL text") {
    val p = freshPipeline()
    p.sql("SELECT COUNT(*) FROM t_nation")
    p.sql("SELECT   COUNT(*)   FROM t_nation") // whitespace-normalized → same key
    val (hits, misses) = p.planCacheStats
    assert(hits >= 1, s"expected a cache hit, got hits=$hits misses=$misses")
  }

  test("plan cache is invalidated by DML: SELECT-DELETE-SELECT sees the delete") {
    val p = freshPipeline()
    val before = p.sql("SELECT COUNT(*) AS n FROM t_region").collect().head.getLong(0)
    p.sql("DELETE FROM t_region WHERE r_regionkey = 0")
    val after = p.sql("SELECT COUNT(*) AS n FROM t_region").collect().head.getLong(0)
    assert(before == 5 && after == 4,
      s"cached plan must not survive DML: before=$before after=$after")
  }

  test("BEGIN/COMMIT publishes staged DML; trailing ROLLBACK outside a txn is a no-op") {
    val p = freshPipeline()
    val rs = p.run(
      """BEGIN;
        |DELETE FROM t_region WHERE r_regionkey = 4;
        |COMMIT;
        |ROLLBACK;
        |SELECT COUNT(*) AS n FROM t_region""".stripMargin)
    assert(rs.forall(_.status == p.Ok), rs.map(_.status).mkString(","))
    assert(rs.last.df.get.collect().head.getLong(0) == 4)
  }

  test("ROLLBACK undoes staged DML: reads inside the txn see writes, after it don't") {
    val p = freshPipeline()
    val rs = p.run(
      """BEGIN;
        |INSERT INTO t_region VALUES (90, 'STAGED');
        |SELECT COUNT(*) AS n FROM t_region;
        |ROLLBACK;
        |SELECT COUNT(*) AS n FROM t_region""".stripMargin)
    assert(rs.forall(_.status == p.Ok), rs.map(_.status).mkString(","))
    val counts = rs.flatMap(_.df).filter(_.columns.nonEmpty).map(_.collect().head.getLong(0))
    assert(counts == Seq(6, 5), s"read-your-writes then undo, got $counts")
    assert(p.catalog.table("t_region").count() == 5, "catalog binding untouched")
  }

  test("first-committer-wins: second txn writing the same table gets a conflict") {
    val cat = new Catalog(spark)
    cat.register("c_region", Tables.df(spark, SparkTestBase.sf, "region"))
    val t1 = cat.beginTxn()
    val t2 = cat.beginTxn()
    t1.delete("c_region", col("r_regionkey") === 0)
    t2.delete("c_region", col("r_regionkey") === 1)
    assert(t1.commit().isRight)
    t2.commit() match {
      case Left(conflicts) => assert(conflicts == Seq("c_region"))
      case Right(cid) => fail(s"t2 must conflict, committed at cid=$cid")
    }
    // first committer's state won: regionkey 0 gone, 1 survives
    val keys = cat.table("c_region").select("r_regionkey").collect().map(_.getInt(0)).sorted
    assert(keys.toSeq == Seq(1, 2, 3, 4))
  }

  test("pipeline txn conflicts with a concurrent auto-commit write") {
    val cat = new Catalog(spark)
    cat.register("p_region", Tables.df(spark, SparkTestBase.sf, "region"))
    val p1 = new Pipeline(cat)
    val p2 = new Pipeline(cat)
    p1.run("BEGIN; DELETE FROM p_region WHERE r_regionkey = 0")
    p2.run("DELETE FROM p_region WHERE r_regionkey = 4") // auto-commit wins
    val rs = p1.run("COMMIT")
    rs.head.status match {
      case p1.Failed(e) => assert(e.contains("conflict") && e.contains("p_region"), e)
      case p1.Ok => fail("COMMIT must report the conflict")
    }
    // the auto-commit delete survives; the aborted txn's staged delete does not
    val keys = cat.table("p_region").select("r_regionkey").collect().map(_.getInt(0)).sorted
    assert(keys.toSeq == Seq(0, 1, 2, 3))
    assert(!p1.inTransaction)
  }

  test("txn stress: 8 threads with retry loops serialize; no lost updates") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.register("s_log", Seq((0L, "init")).toDF("id", "who"))
    val threads = 8
    val cids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var attempts = 0
            var committed = false
            while (!committed) {
              attempts += 1
              assert(attempts <= 200, s"thread $i starved after $attempts attempts")
              val t = cat.beginTxn()
              t.insert("s_log", Seq((i.toLong, s"thread$i")).toDF("id", "who"))
              t.commit() match {
                case Right(cid) => assert(cids.add(cid), s"duplicate commit cid $cid"); committed = true
                case Left(conflicts) => assert(conflicts == Seq("s_log")) // retry
              }
            }
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    // every thread's row survives exactly once: conflicts forced retries, not lost updates
    val rows = cat.table("s_log").select("id").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (0L to threads.toLong), s"lost/duplicated updates: ${rows.toSeq}")
    assert(cids.size == threads)
  }

  test("ASOF time travel: historical commits stay readable after DML and txns") {
    val p = freshPipeline()
    val cid0 = p.catalog.commitId
    p.run("UPDATE t_region SET r_name = 'V1' WHERE r_regionkey = 0")
    val cid1 = p.catalog.commitId
    p.run("BEGIN;\nUPDATE t_region SET r_name = 'V2' WHERE r_regionkey = 0;\nCOMMIT")
    def nameAt(cid: Long): String =
      p.sql(s"ASOF $cid SELECT r_name FROM t_region WHERE r_regionkey = 0")
        .collect().head.getString(0)
    assert(nameAt(cid0) === "AFRICA", "pre-DML commit sees the original binding")
    assert(nameAt(cid1) === "V1", "between the statement and the transaction")
    assert(nameAt(p.catalog.commitId) === "V2", "head commit == current read")
    // current reads are untouched by the temporary view swap
    assert(p.sql("SELECT r_name FROM t_region WHERE r_regionkey = 0")
      .collect().head.getString(0) === "V2")
    // a table created later is invisible at an earlier commit
    p.run("CREATE TABLE late_t AS SELECT 1 AS x")
    assert(p.sql(s"ASOF ${p.catalog.commitId} SELECT COUNT(*) AS n FROM late_t")
      .collect().head.getLong(0) === 1L)
    intercept[Exception] { p.sql(s"ASOF $cid0 SELECT COUNT(*) FROM late_t").collect() }
    // meta_commits exposes the retained history: region has >= 3 commits
    val commits = p.sql("SELECT COUNT(*) AS n FROM meta_commits WHERE table_name = 't_region'")
      .collect().head.getLong(0)
    assert(commits >= 3, s"register + UPDATE + txn commit all recorded (got $commits)")
  }

  test("meta_plan_cache surfaces GDFS (statement, frequency) pairs") {
    val p = freshPipeline()
    p.sql("SELECT COUNT(*) AS n FROM t_region").collect()
    p.sql("SELECT COUNT(*) AS n FROM t_region").collect()
    p.sql("SELECT COUNT(*) AS n FROM t_nation").collect()
    val snap = p.sql("SELECT statement, frequency FROM meta_plan_cache ORDER BY statement")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val regionFreq = snap.collect { case (s, f) if s.contains("t_region") => f }
    assert(regionFreq.nonEmpty && regionFreq.head >= 2,
      s"replayed statement must show frequency >= 2: $snap")
  }

  test("ASOF: DROPped tables stay readable at historical commits") {
    val p = freshPipeline()
    p.run("CREATE TABLE doomed AS SELECT 42 AS x")
    val cidAlive = p.catalog.commitId
    p.run("DROP TABLE doomed")
    // the as-of world must include the since-dropped binding (r6 ADVICE)
    assert(p.sql(s"ASOF $cidAlive SELECT x FROM doomed").collect().head.getInt(0) === 42)
    // at head the table is gone again
    intercept[Exception] {
      p.sql(s"ASOF ${p.catalog.commitId} SELECT x FROM doomed").collect()
    }
    // and the current namespace was restored (no leaked historical view)
    intercept[Exception] { p.sql("SELECT x FROM doomed").collect() }
  }

  test("ASOF: commits evicted from the retention window error, not mis-answer") {
    val p = freshPipeline()
    p.run("CREATE TABLE churn AS SELECT 0 AS v")
    val cidEarly = p.catalog.commitId
    // push > HistoryDepth (32) commits so cidEarly's entry is evicted
    (1 to 40).foreach(i => p.run(s"UPDATE churn SET v = $i"))
    val e = intercept[Exception] {
      p.sql(s"ASOF $cidEarly SELECT v FROM churn").collect()
    }
    assert(e.getMessage.contains("retention"),
      s"out-of-retention ASOF must raise the retention error, got: ${e.getMessage}")
    // meta_commits surfaces the bound: first_commit_id < MIN(commit_id) ⇒ truncated
    val r = p.sql(
      """SELECT MIN(commit_id) AS oldest, MIN(first_commit_id) AS first
        |FROM meta_commits WHERE table_name = 'churn'""".stripMargin).collect().head
    assert(r.getLong(1) < r.getLong(0), "eviction must be visible in meta_commits")
    // a retained commit still answers
    assert(p.sql(s"ASOF ${p.catalog.commitId} SELECT v FROM churn")
      .collect().head.getInt(0) === 40)
  }

  test("SHOW TABLES and DESCRIBE expose the live catalog") {
    val p = freshPipeline()
    val tables = p.sql("SHOW TABLES").collect().map(_.getString(0)).toSet
    assert(tables === Set("t_nation", "t_region"))
    val cols = p.sql("DESCRIBE t_nation").collect().map(_.getString(0)).toSeq
    assert(cols === Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  test("COPY TO/FROM round-trips .tbl and .parquet through the SQL surface") {
    val p = freshPipeline()
    val tbl = java.nio.file.Files.createTempFile("graft_copy", ".tbl").toString
    val pq = java.nio.file.Files.createTempDirectory("graft_copy_pq").toString + "/n.parquet"
    p.sql(s"COPY t_nation TO '$tbl'")
    p.sql(s"COPY nation_from_tbl FROM '$tbl'")
    assert(p.sql("SELECT COUNT(*) AS n FROM nation_from_tbl").collect().head.getLong(0) === 25L)
    p.sql(s"COPY t_nation TO '$pq'")
    p.sql(s"COPY nation_from_pq FROM '$pq'")
    val diff = p.catalog.table("nation_from_pq")
      .join(p.catalog.table("t_nation"), Seq("n_nationkey", "n_name", "n_regionkey"), "left_anti")
    assert(diff.count() === 0, "parquet COPY round-trip is lossless")
  }

  test("VISUALIZE renders physical and logical plans as well-formed DOT") {
    val p = freshPipeline()
    val sql = "SELECT r_name, COUNT(*) AS n FROM t_nation " +
      "JOIN t_region ON n_regionkey = r_regionkey GROUP BY r_name"
    val phys = p.sql(s"VISUALIZE $sql").collect().map(_.getString(0))
    assert(phys.head.startsWith("digraph"), "DOT header")
    assert(phys.exists(_.contains("HashAggregate")), "physical operator boxes")
    val boxes = phys.count(_.trim.matches("n\\d+ \\[label=.*"))
    val edges = phys.count(_.contains("->"))
    assert(boxes >= 3 && edges == boxes - 1, s"tree: $boxes boxes, $edges edges")
    val log = p.sql(s"VISUALIZE LOGICAL $sql").collect().map(_.getString(0))
    assert(log.exists(_.contains("Aggregate")) && log.exists(_.contains("Join")),
      "logical (LQP) view shows Catalyst nodes")
  }

  test("delivery-style txn: read the snapshot, stage a keyed batch update, commit atomically") {
    // TPC-C Delivery's shape: SELECT the oldest open order per group from the
    // txn snapshot, then UPDATE exactly that key set — the read-then-write
    // pattern SQL-level UPDATE..IN(subquery) can't express through the
    // Column-rewrite path, done here through the Transaction API.
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.register("d_orders",
      Seq((1L, "a", "O"), (2L, "a", "O"), (3L, "b", "O"), (4L, "b", "F"))
        .toDF("o_id", "seg", "status"))
    val t = cat.beginTxn()
    // oldest open order per segment, read from the TXN's view of the table
    val oldest = t.table("d_orders").filter(col("status") === "O")
      .groupBy("seg").agg(min("o_id").as("o_id"))
      .select("o_id").collect().map(_.getLong(0))
    assert(oldest.toSet == Set(1L, 3L))
    t.update("d_orders", col("o_id").isin(oldest: _*),
      Map("status" -> lit("D")))
    assert(t.commit().isRight)
    val after = cat.table("d_orders").orderBy("o_id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(after.toSeq == Seq((1L, "D"), (2L, "O"), (3L, "D"), (4L, "F")),
      "exactly the two oldest open orders delivered, atomically")
  }

  test("read-only transaction always commits; nested BEGIN rejected") {
    val p = freshPipeline()
    val rs = p.run("BEGIN; SELECT COUNT(*) AS n FROM t_region; BEGIN; COMMIT")
    assert(rs(0).status == p.Ok)
    assert(rs(2).status != p.Ok, "nested BEGIN must fail")
    assert(rs(3).status == p.Ok, "read-only commit succeeds")
    // DROP TABLE is auto-commit DDL: refused inside BEGIN, so ROLLBACK keeps
    // the table and a later staged write to it still commits
    val dr = p.run("BEGIN; DROP TABLE t_region; ROLLBACK")
    assert(dr(1).status != p.Ok, "DROP TABLE inside BEGIN must be refused")
    assert(p.catalog.exists("t_region") && p.sql("SELECT * FROM t_region").count() == 5)
    val dc = p.run("BEGIN; DROP TABLE t_nation; " +
      "INSERT INTO t_nation VALUES (99, 'X', 0); COMMIT")
    assert(dc(1).status != p.Ok, "DROP TABLE inside BEGIN must be refused")
    assert(dc(3).status == p.Ok, s"the staged insert commits: ${dc(3).status}")
    assert(p.catalog.table("t_nation").count() == 26)
    // CREATE auto-commits like every DDL verb, so ROLLBACK could not undo it:
    // refused inside BEGIN, and nothing is left behind
    val ct = p.run("BEGIN; CREATE TABLE ddl_x (a INT); ROLLBACK")
    assert(ct(1).status != p.Ok, "CREATE TABLE inside BEGIN must be refused")
    assert(!p.catalog.exists("ddl_x"))
    val cv = p.run("BEGIN; CREATE VIEW ddl_v AS SELECT * FROM t_region; ROLLBACK")
    assert(cv(1).status != p.Ok, "CREATE VIEW inside BEGIN must be refused")
    assert(p.run("SELECT * FROM ddl_v").head.status != p.Ok, "no view ddl_v after ROLLBACK")
  }

  test("EXPLAIN returns the formatted physical plan, one row per line") {
    val p = freshPipeline()
    val lines = p.sql("EXPLAIN SELECT r_name FROM t_region WHERE r_regionkey = 1")
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("Physical Plan")), lines.take(5).mkString("\n"))
    assert(lines.exists(l => l.contains("Scan") && l.contains("parquet") || l.contains("Scan ExistingRDD")
      || l.contains("LocalTableScan")), "plan must show the scan")
    // mode prefix accepted too
    val simple = p.sql("EXPLAIN SIMPLE SELECT COUNT(*) FROM t_region").collect()
    assert(simple.nonEmpty)
  }

  test("EXPLAIN ANALYZE executes and reports per-node runtime metrics") {
    val p = freshPipeline()
    val lines = p.sql("EXPLAIN ANALYZE SELECT r_name, COUNT(*) AS n FROM t_region GROUP BY r_name")
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("== Runtime Metrics ==")))
    assert(lines.exists(l => l.contains("numOutputRows=") || l.contains("number of output rows")),
      lines.mkString("\n"))
  }

  test("CREATE TABLE AS / DROP TABLE") {
    val p = freshPipeline()
    p.run("CREATE TABLE n_copy AS SELECT * FROM t_nation WHERE n_regionkey = 0")
    assert(p.catalog.exists("n_copy"))
    assert(p.catalog.table("n_copy").count() == 5)
    p.run("DROP TABLE n_copy")
    assert(!p.catalog.exists("n_copy"))
  }

  test("failures are per-statement, not script-aborting") {
    val p = freshPipeline()
    val rs = p.run("SELECT * FROM missing_table; SELECT COUNT(*) AS n FROM t_region")
    assert(rs.head.status != p.Ok)
    assert(rs.last.status == p.Ok)
  }

  test("meta tables reflect catalog state") {
    val p = freshPipeline()
    val names = p.catalog.metaTables.select("table_name").collect().map(_.getString(0))
    assert(names.contains("t_nation") && names.contains("t_region"))
    val cols = p.catalog.metaColumns
      .filter(col("table_name") === "t_nation").count()
    assert(cols == 3)
  }
}
