package graft.operators

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Sanity contract for the ported SQLite-testrunner corpus: parsing is
  * line-stable, coverage stays at the expected level, and representative
  * units (scan, join-with-dup-columns, stateful DML script, DDL script)
  * produce correct results from pristine fixtures every run.
  *
  * The corpus and its `.tbl` fixtures live in the reference tree, which this
  * repository does not hold: each test is canceled, naming the missing file,
  * where that tree is absent. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def assumePresent(paths: Seq[String]): Unit =
    paths.foreach(p => assume(Files.exists(Paths.get(p)), s"$p is not on this machine"))

  /** A unit's run registers all six fixtures (one pristine catalog per run). */
  private def run(name: String) = {
    assumePresent(CorpusQueries.corpusFile +: CorpusQueries.fixtureFiles.map(_._1))
    CorpusQueries.all.find(_.name == name).get.run(spark, "unused")
  }

  test("corpus covers ≥350 of the reference's 366 query lines") {
    assumePresent(Seq(CorpusQueries.corpusFile))
    assert(CorpusQueries.units.size >= 360)
    assert(CorpusQueries.all.size >= 350)
    assert(CorpusQueries.skip.size <= 16, "skips must stay a short, documented list")
  }

  test("simple scan unit returns fixture rows") {
    // line 6: SELECT * FROM mixed;
    assert(run("corpus_l006").count() === 100)
  }

  test("self-join with duplicate output columns dedups DuckDB-style") {
    val df = run("corpus_l166") // SELECT * over mixed ⋈ mixed_null (dup a,b,c,d)
    assert(df.columns.distinct.length === df.columns.length)
  }

  test("DML scripts start from pristine fixtures on every run") {
    // line 328: DELETE FROM id_int_int_int_100; INSERT 1 row; SELECT *
    val first = run("corpus_l328").count()
    val second = run("corpus_l328").count()
    assert(first === 1 && second === 1, "a rerun must not see the previous run's DML")
    // and an untouched unit still sees the full fixture afterwards
    assert(run("corpus_l006").count() === 100)
  }

  test("CREATE TABLE with column definitions + INSERT + IF NOT EXISTS") {
    // line 374: DROP TABLE IF EXISTS t; CREATE TABLE t (a INT); INSERT ...; CREATE TABLE IF NOT EXISTS t (b INT); SELECT * FROM t;
    val rows = run("corpus_l374").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1))
  }

  test("BEGIN/ROLLBACK unit (l506) undoes its INSERT — last corpus skip closed") {
    assert(CorpusQueries.skip.isEmpty, "no skipped units remain")
    val df = run("corpus_l506") // BEGIN; INSERT 1 row; SELECT; ROLLBACK; SELECT *
    assert(df.count() === 100, "rolled-back INSERT must not be visible")
  }

  test("ANSI mode is restored after a corpus run") {
    run("corpus_l006")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
  }
}
