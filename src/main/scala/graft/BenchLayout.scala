package graft

import org.apache.spark.sql.DataFrame

/** Materialize a fixture scale-factor directory as the PRODUCTION layout the
  * engine is designed around, so Bench can run against real multi-file scans
  * instead of the driver's single-row-group files:
  *
  *  - `lineitem` hive-partitioned by `l_returnflag`, `orders` by
  *    `o_orderpriority` (low-cardinality flags → static partition pruning
  *    and PartitionFilters on every returnflag/priority predicate);
  *  - every other table written as multi-file parquet (scan tasks
  *    parallelize from the first stage, no dfSpread crutch needed).
  *
  * Usage: `runMain graft.BenchLayout <srcSfDir> <dstDir>` then
  * `SPARK_GRAFT_SF_DIR=<dstDir> runMain graft.Bench`. Prints the scan lines
  * of a returnflag-filtered bench query against the new layout so the
  * PartitionFilters evidence is capturable. Bench-evidence tooling, not part
  * of the driver contract (the driver always benches its own fixture dir).
  */
object BenchLayout {

  /** Persist `df` directory-partitioned by `partCol` — the storage layout
    * that turns partition-key predicates into FILE PRUNING: a filter on the
    * partition column never opens non-matching files (static pruning), and a
    * join against a filtered dimension on the partition key prunes at RUNTIME
    * via dynamic partition pruning. At 100 TB, date-partitioning the facts is
    * the difference between scanning a day and scanning the lake; the
    * reference's counterpart is chunk exclusion via pruning lists
    * (reference: src/lib/storage/chunk.hpp pruning statistics +
    * get_table.hpp excluded-chunk lists). */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  def main(args: Array[String]): Unit = {
    val (src, dst) = (args(0), args(1))
    // optional 3rd arg (r16): files per unpartitioned table — the core-
    // scaling probe needs every fact scan to open as ≥32 independent tasks
    // so an 8-vs-32-core bench can discriminate (the fixture's single-row-
    // group files cap every scan stage at ONE task regardless of cores)
    val files = args.lift(2).map(_.toInt).getOrElse(8)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val singleFile = Set("region", "nation") // tiny dims: splitting buys nothing
    Tables.names.foreach { t =>
      val df = Tables.df(spark, src, t)
      val out = s"$dst/$t.parquet"
      ScaleUpLayout.partCols.get(t) match {
        // round-robin spread BEFORE the hive write: each of the N tasks
        // emits one file per partition value, so the fact lands as
        // N × |values| splittable files instead of one per value
        case Some(c) => writePartitioned(
          df.repartition(math.max(1, files / 2)), out, c)
        case None if singleFile(t) =>
          df.coalesce(1).write.mode("overwrite").parquet(out)
        case None => df.repartition(files).write.mode("overwrite").parquet(out)
      }
    }
    val f = SparkEntry.queries("tpch_q10_returned_items")(spark, dst)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println("=== tpch_q10 scan evidence on partitioned layout ===")
    f.linesIterator
      .filter(l => l.contains("PartitionFilters") || l.contains("Scan parquet")
        || l.contains("PushedFilters"))
      .foreach(println)
    spark.stop()
  }
}
