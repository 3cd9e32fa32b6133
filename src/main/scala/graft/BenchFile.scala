package graft

import org.apache.spark.sql.SparkSession

/** File-based benchmark — the counterpart of the reference's
  * hyriseBenchmarkFileBased (reference: src/benchmark/file_based_benchmark.cpp:
  * point it at a directory of `.sql` files; each file is one named benchmark
  * item run through SQLPipeline). Every file may hold a multi-statement
  * script (DDL, DML, transactions, SELECTs — the full [[Pipeline]] surface);
  * the per-file wall time is the item's score. Prints ONE JSON line like
  * [[Bench]].
  *
  * Env knobs: SPARK_GRAFT_SQL_DIR (default bench_queries/ in the repo),
  * SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_BENCH_RUNS (default 2,
  * best-of, after one warmup). */
object BenchFile {

  /** Run every .sql file in sqlDir once; return per-item seconds. */
  def runAll(spark: SparkSession, sqlDir: String, sfDir: String): Map[String, Double] = {
    val dir = new java.io.File(sqlDir)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    require(files.nonEmpty, s"no .sql files in $sqlDir")
    files.map { f =>
      // a fresh catalog per item: files may CREATE/DROP/overwrite tables
      val cat = new Catalog(spark)
      Tables.names.foreach(n => cat.register(n, Tables.df(spark, sfDir, n)))
      val p = new Pipeline(cat)
      val script = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val t0 = System.nanoTime()
      val rs = p.run(script)
      rs.foreach { r =>
        require(r.status == p.Ok, s"${f.getName}: ${r.sql} → ${r.status}")
        r.df.foreach(_.write.format("noop").mode("overwrite").save()) // drive to completion
      }
      f.getName.stripSuffix(".sql") -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sqlDir = sys.env.getOrElse("SPARK_GRAFT_SQL_DIR", "bench_queries")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    runAll(spark, sqlDir, sfDir) // warmup
    val timed = (1 to nRuns).map(_ => runAll(spark, sqlDir, sfDir))
    val best = timed.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    val total = best.values.sum
    val items = best.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"file_based_total","value":$total,"unit":"sec","queries":{$items},"sql_dir":"$sqlDir","sf":"$sfDir"}""")
    spark.stop()
  }
}
