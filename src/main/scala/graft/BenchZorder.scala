package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures what Z-ORDER clustering (Layout.writeZOrdered) actually buys:
  * the same selective 2-D predicate is timed against three physical layouts
  * of the same lineitem rows — unsorted, 1-D sorted (l_partkey), and
  * z-ordered (l_partkey, l_suppkey). With parquet filter pushdown, row
  * groups whose min/max rectangle misses the predicate are never
  * decompressed, so clustering quality IS scan cost: 1-D sort wins on its
  * own column and degenerates on the other; z-order stays tight on both.
  * Prints one JSON line with per-layout times for the 2-D predicate and
  * each single-column predicate. */
object BenchZorder {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val files = sys.env.getOrElse("SPARK_GRAFT_ZORDER_FILES", "64").toInt
    val spark = GraftSession.tuned(
      SparkSession.builder().master("local[32]").appName("graft-bench-zorder"),
      shufflePartitions = 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = Tables.df(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val (pMin, pMax, sMin, sMax) = {
      val r = li.agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // ~1% selectivity per dimension
    def band(lo: Long, hi: Long): (Long, Long) = {
      val w = math.max(1L, (hi - lo) / 100); val a = lo + (hi - lo) / 3; (a, a + w)
    }
    val (pa, pb) = band(pMin, pMax); val (sa, sb) = band(sMin, sMax)

    val base = java.nio.file.Files.createTempDirectory("graft_zbench").toString
    li.repartition(files).write.mode("overwrite").parquet(s"$base/unsorted")
    li.repartitionByRange(files, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/sorted1d")
    Layout.writeZOrdered(li, s"$base/zorder", "l_partkey", "l_suppkey", files)

    def timeQ(path: String, pred: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(path).filter(pred)
        .agg(sum("l_quantity"), sum("l_extendedprice")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val p2d = col("l_partkey").between(pa, pb) && col("l_suppkey").between(sa, sb)
    val pP = col("l_partkey").between(pa, pb)
    val pS = col("l_suppkey").between(sa, sb)
    val layouts = Seq("unsorted", "sorted1d", "zorder")
    // warm the page cache evenly, then time
    layouts.foreach(l => timeQ(s"$base/$l", p2d))
    val out = layouts.map { l =>
      val d = s"$base/$l"
      s""""$l":{"both_cols":${timeQ(d, p2d)},"partkey_only":${timeQ(d, pP)},"suppkey_only":${timeQ(d, pS)}}"""
    }
    val nRows = li.count()
    println(s"""{"metric":"zorder_skipping","unit":"sec","rows":$nRows,"files":$files,""" +
      out.mkString(",") + s""","sf":"$sfDir"}""")
    spark.stop()
  }
}
