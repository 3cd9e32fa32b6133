package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The production bucketed layout ([[ScaleUpLayout.bucketFacts]] +
  * [[Tables.df]] manifest replay): lineitem+orders hash-bucketed by orderkey
  * must (a) re-register from the `_layout/<t>.sql` DDL in a session that has
  * never seen the build, (b) return exactly the flat tables' rows, and
  * (c) join with ZERO hash exchanges — the whole point of paying the
  * bucketing shuffle once at ingest. */
class BucketedLayoutSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-buckspec").toString
    Tables.names.foreach { t =>
      Files.copy(Paths.get(s"${SparkTestBase.sf}/$t.parquet"),
        Paths.get(s"$d/$t.parquet"))
    }
    ScaleUpLayout.bucketFacts(spark, d, buckets0 = 4)
    d
  }

  test("manifest written and DDL replays into an empty catalog") {
    assert(Files.exists(Paths.get(dir, "_layout", "lineitem.sql")))
    assert(Files.exists(Paths.get(dir, "_layout", "orders.sql")))
    // simulate a fresh session: drop the catalog entries the build created,
    // then Tables.df must recreate them from the manifest alone
    Seq("lineitem", "orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.bucketTableName(dir, t)}")
    }
    val li = Tables.df(spark, dir, "lineitem")
    assert(spark.catalog.tableExists(Tables.bucketTableName(dir, "lineitem")))
    assert(li.count() === spark.read.parquet(s"$dir/lineitem.parquet").count())
  }

  test("bucketed tables return exactly the flat rows") {
    Seq("lineitem", "orders").foreach { t =>
      val flat = spark.read.parquet(s"$dir/$t.parquet")
      val buck = Tables.df(spark, dir, t).select(flat.columns.map(col).toIndexedSeq: _*)
      assert(buck.exceptAll(flat).isEmpty && flat.exceptAll(buck).isEmpty, t)
    }
  }

  test("orderkey join + per-order agg on bucketed facts plans zero hash exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = Tables.df(spark, dir, "lineitem")
      val o = Tables.df(spark, dir, "orders")
      val q = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 100)
      val plan = q.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 0, s"expected zero hash exchanges, plan:\n$plan")

      // and the flat layout pays them — the bucketing is what removed them
      val lf = spark.read.parquet(s"$dir/lineitem.parquet")
      val of = spark.read.parquet(s"$dir/orders.parquet")
      val qf = lf.join(of, lf("l_orderkey") === of("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 100)
      val flatEx = "Exchange hashpartitioning".r
        .findAllIn(qf.queryExecution.executedPlan.toString).length
      assert(flatEx > 0)

      // same answer either way
      assert(q.exceptAll(qf).isEmpty && qf.exceptAll(q).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SPARK_GRAFT_FLAT-less fixture dirs fall through to the flat reader") {
    // the driver's fixture dirs carry no _layout manifest: plain parquet path
    val d = Tables.df(spark, SparkTestBase.sf, "lineitem")
    assert(!d.queryExecution.logical.toString.contains("graft_buck_"))
  }

  test("stale bucketed layout is REFUSED: flat rewrite without re-bucket falls back to flat (r15)") {
    val d = Files.createTempDirectory("graft-buckstale").toString
    Tables.names.foreach { t =>
      Files.copy(Paths.get(s"${SparkTestBase.sf}/$t.parquet"),
        Paths.get(s"$d/$t.parquet"))
    }
    ScaleUpLayout.bucketFacts(spark, d, buckets0 = 4)
    assert(Files.exists(Paths.get(d, "_layout", "lineitem.fp.json")),
      "bucketFacts must pin the flat fingerprint")
    Tables.clearLayoutCache()
    // fresh: the bucketed catalog table serves
    assert(Tables.df(spark, d, "lineitem").queryExecution.analyzed.toString
      .contains(Tables.bucketTableName(d, "lineitem").split("\\.").last) ||
      Tables.df(spark, d, "lineitem").inputFiles.exists(_.contains("_bucketed")),
      "fresh layout must serve the bucketed copy")
    // rewrite the flat base WITHOUT re-bucketing (mtime moves — any real
    // rewrite changes size or mtime of at least one file)
    Files.setLastModifiedTime(Paths.get(s"$d/lineitem.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    Tables.clearLayoutCache()
    assert(Tables.df(spark, d, "lineitem").inputFiles.forall(!_.contains("_bucketed")),
      "a stale bucketed copy must be refused in favor of the (fresh) flat files")
    // orders was not touched: still served bucketed
    assert(Tables.df(spark, d, "orders").inputFiles.exists(_.contains("_bucketed")),
      "an untouched table keeps its bucketed copy")
    // a DDL without its pin is refused too
    Files.delete(Paths.get(d, "_layout", "orders.fp.json"))
    Tables.clearLayoutCache()
    assert(Tables.df(spark, d, "orders").inputFiles.forall(!_.contains("_bucketed")),
      "an unpinned bucketed copy must be refused in favor of the flat files")
    // cleanup: drop catalog tables registered for this temp dir
    Seq("lineitem", "orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.bucketTableName(d, t)}")
    }
    Tables.clearLayoutCache()
  }
}
