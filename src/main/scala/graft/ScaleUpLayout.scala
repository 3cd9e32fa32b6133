package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** One-pass fixture → PRODUCTION-LAYOUT scale-up: deterministic N×
  * key-offset replication fused with the hive-partitioned multi-file write,
  * so decade-scale datasets (SF100 ≈ 100 GB from the sf0.1 fixture at
  * factor 1000) materialize WITHOUT an intermediate flat copy — at these
  * sizes the flat+relayout route would double disk and add a full
  * read/write cycle.
  *
  * TPC-H-style scaling: region/nation stay fixed; every other table is
  * replicated N× with key-space offsets (copy k shifts each key by
  * k × (domain max + 1), the stride taken from the key's home table), so
  * per-key cardinalities — lines per order, orders per customer, docs per
  * source — are PRESERVED, joins stay key-correct across copies, and the
  * result is exactly "the same shop, N× the history".
  *
  * Parallelism discipline: the copy fan-out (broadcast nested-loop against
  * the copy indices) preserves the stream side's partitioning, so we
  * repartition the SMALL source (MBs — a cheap shuffle) to the target file
  * count and never shuffle the scaled output (GBs). File sizing targets
  * ~128 MiB parquet per file from the source bytes × factor, the layout a
  * 1000-executor scan wants.
  *
  * The output dir holds the flat hive-partitioned tables plus the
  * orderkey-bucketed copy of the two facts ([[bucketFacts]], `_bucketed/`
  * and `_layout/`); it carries no precomputed aggregates, so every query
  * reads base data.
  *
  * Usage: `runMain graft.ScaleUpLayout <srcSfDir> <dstDir> [factor=1000]`,
  * then `SPARK_GRAFT_SF_DIR=<dstDir> runMain graft.Bench`;
  * `runMain graft.ScaleUpLayout --bucket-only <dir> [buckets]` adds the
  * bucketed copy to an existing scaled dir. Bench-evidence tooling, not part
  * of the driver contract.
  */
object ScaleUpLayout {

  /** key column -> (home table, home column) for stride computation */
  private val keyHome: Map[String, (String, String)] = Map(
    "custkey" -> ("customer", "c_custkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "partkey" -> ("part", "p_partkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "event_id" -> ("events", "event_id"),
    "user_id" -> ("events", "user_id"),
    "doc_id" -> ("documents", "doc_id"),
    "vec_id" -> ("embeddings", "vec_id"))

  /** table -> columns to offset, tagged with their key domain */
  private val offsetCols: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "custkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"),
    "documents" -> Seq("doc_id" -> "doc_id"),
    "embeddings" -> Seq("vec_id" -> "vec_id"))

  /** stride = domain max + 1, from each key's home table */
  private def keyStrides(spark: SparkSession, src: String): Map[String, Long] =
    keyHome.map { case (domain, (tbl, c)) =>
      domain -> (Tables.df(spark, src, tbl).agg(max(col(c).cast("long")))
        .collect()(0).getLong(0) + 1L)
    }

  /** The key-offsetting fan-out itself, on an already-partitioned `df` —
    * the broadcast of `factor` copy indices preserves the stream side's
    * partitioning, so callers size write parallelism by repartitioning the
    * SMALL source (cheap) instead of shuffling the scaled output. `name`
    * must be a key of [[offsetCols]]. */
  private def scaleDf(spark: SparkSession, df: DataFrame, name: String,
                      factor: Int, strides: Map[String, Long]): DataFrame = {
    val copies = broadcast(spark.range(factor.toLong).toDF("copy_k"))
    val keyed = offsetCols(name).toMap
    df.crossJoin(copies).select(df.columns.map { c =>
      keyed.get(c) match {
        case Some(domain) =>
          val t = df.schema(c).dataType
          (col(c).cast("long") + col("copy_k") * lit(strides(domain)))
            .cast(t).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Hive partition column per fact: low-cardinality flags, so every
    * returnflag/priority predicate prunes statically. [[BenchLayout]] writes
    * the same scheme. */
  private[graft] val partCols = Map("lineitem" -> "l_returnflag", "orders" -> "o_orderpriority")
  /** distinct partition values per hive-partitioned table (returnflag A/N/R;
    * five order priorities) — each write task emits one file per value */
  private val partVals = Map("lineitem" -> 3, "orders" -> 5)

  private def dirBytes(p: String): Long = {
    val d = Paths.get(p)
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }
  }

  /** The fused scale-and-write pass. */
  private def writeScaled(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    val strides = keyStrides(spark, src)
    val target = 128L << 20
    Tables.names.foreach { t =>
      val df = Tables.df(spark, src, t)
      val out = s"$dst/$t.parquet"
      if (!offsetCols.contains(t)) {
        // fixed dims (region/nation): single file
        df.coalesce(1).write.mode("overwrite").parquet(out)
      } else {
        val scaledBytes = dirBytes(s"$src/$t.parquet") * factor
        val vals = partVals.getOrElse(t, 1).toLong
        // File sizing serves TWO masters: at 100 TB files should be ~128 MiB
        // (count is astronomical, parallelism is free), but on a fixed box a
        // table smaller than cores × 128 MiB would cap its SCAN parallelism
        // at total/128Mi tasks — measured at SF10 as 7 lineitem files ⇒
        // 7-way scans ⇒ q10 16 s vs 4.5 s. Target whichever is smaller:
        // 128 MiB, or the size that yields ≥2 files per core (floored at
        // 16 MiB so tiny tables don't shatter into confetti).
        val cores = Runtime.getRuntime.availableProcessors().toLong
        val fileTarget = math.max(16L << 20,
          math.min(target, scaledBytes / math.max(1L, 2L * cores * vals)))
        val srcParts = math.max(1, math.min(256,
          (scaledBytes / (fileTarget * vals)).toInt))
        val scaled = scaleDf(spark, df.repartition(srcParts), t, factor, strides)
        partCols.get(t) match {
          case Some(c) => scaled.write.mode("overwrite").partitionBy(c).parquet(out)
          case None    => scaled.write.mode("overwrite").parquet(out)
        }
        println(s"$t: srcParts=$srcParts scaledBytes~${scaledBytes >> 20}MiB " +
          s"-> ${dirBytes(out) >> 20}MiB on disk")
      }
    }
    println(s"done: ${dirBytes(dst) >> 20}MiB total at $dst")
  }

  /** Facts that get the durable bucketed layout, with their bucket key. */
  private val bucketFactsSpec = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  /** PRODUCTION post-pass: persist lineitem+orders hash-bucketed (and
    * per-bucket sorted) by orderkey, registered for any session via
    * `_layout/<table>.sql` (consumed by [[Tables.df]]). Both facts share ONE
    * bucket count so every orderkey fact⋈fact join — q18/q12/q4/q21, the
    * entire SF100 heavy tail — runs with zero data-sized exchanges, and the
    * per-order aggregations above those joins reuse the same partitioning
    * (HashPartitioning on a subset of the grouping keys satisfies the
    * clustered distribution). Proven at sf1 in round 7 (q18 −49 %, zero hash
    * exchanges, BENCH_r7_bucketed_sf1.json); this promotes it into the layout
    * every scale build ships. The hive partitioning of the flat layout
    * (returnflag / orderpriority) is kept when the source carries it, so
    * static partition pruning (e.g. q10's l_returnflag = 'R') survives the
    * move. Bucket count scales with data (~256 MiB of source parquet per
    * bucket, power of two, min 32): at 100 TB that's thousands of buckets,
    * exactly what a 1000-executor scan wants; scan-only queries are NOT
    * capped at the bucket count because Spark's auto-bucketed-scan rule
    * splits files normally when no operator needs the bucket partitioning. */
  def bucketFacts(spark: SparkSession, dir: String,
                  buckets0: Int = 0): Int = {
    import org.apache.spark.sql.types.StructType
    import java.nio.charset.StandardCharsets.UTF_8
    val liBytes = dirBytes(s"$dir/lineitem.parquet")
    val buckets = if (buckets0 > 0) buckets0 else {
      val ideal = math.max(1L, liBytes / (256L << 20))
      var b = 32; while (b < ideal && b < 4096) b <<= 1; b
    }
    bucketFactsSpec.foreach { case (t, key) =>
      // freshness pin (r15): fingerprint the flat base BEFORE reading it —
      // a concurrent flat rewrite mid-bucket leaves a mismatched pin, so
      // Tables.bucketed refuses the half-old copy instead of serving it
      val flatFp = Fingerprints.of(s"$dir/$t.parquet")
      val flat = spark.read.parquet(s"$dir/$t.parquet")
      // keep the flat layout's hive partitioning iff the source has it
      val partCol = partCols.get(t).filter { c =>
        val d = Paths.get(s"$dir/$t.parquet")
        Files.isDirectory(d) && {
          val s = Files.list(d)
          try s.anyMatch(p => p.getFileName.toString.startsWith(s"$c="))
          finally s.close()
        }
      }
      val tbl = Tables.bucketTableName(dir, t)
      val path = s"$dir/_bucketed/$t"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val w0 = flat.repartition(buckets, col(key)).write.mode("overwrite")
        .option("path", path).bucketBy(buckets, key).sortBy(key).format("parquet")
      partCol.fold(w0)(w0.partitionBy(_)).saveAsTable(tbl)
      // cross-session DDL: partition columns must come last in the declared
      // schema (that is where saveAsTable put them in the files' layout)
      val dataFields = flat.schema.fields.filterNot(f => partCol.contains(f.name))
      val schema = StructType(dataFields ++ flat.schema.fields.filter(f => partCol.contains(f.name)))
      val ddl = s"CREATE TABLE IF NOT EXISTS $tbl (${schema.toDDL}) USING PARQUET" +
        partCol.fold("")(c => s" PARTITIONED BY ($c)") +
        s" CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS" +
        s" LOCATION '$path'"
      val stmts = Seq(ddl) ++ partCol.map(_ => s"MSCK REPAIR TABLE $tbl")
      // pin first, so a DDL on disk always has its pin
      Files.createDirectories(Paths.get(dir, "_layout"))
      Files.write(Paths.get(dir, "_layout", s"$t.fp.json"),
        s"""{"flat_fp":"$flatFp"}""".getBytes(UTF_8))
      Files.write(Paths.get(dir, "_layout", s"$t.sql"),
        stmts.mkString(";\n").getBytes(UTF_8))
      println(s"bucketed $t: $buckets buckets on $key" +
        partCol.fold("")(c => s", hive-partitioned by $c") +
        s" -> ${dirBytes(path) >> 20}MiB at $path")
    }
    buckets
  }

  def main(args: Array[String]): Unit = {
    // --bucket-only <dir> [buckets]: add the bucketed layout to an EXISTING
    // scaled dir without rebuilding it
    val bucketOnly = args.headOption.contains("--bucket-only")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    if (bucketOnly) {
      bucketFacts(spark, args(1), args.lift(2).map(_.toInt).getOrElse(0))
    } else {
      val (src, dst) = (args(0), args(1))
      val factor = args.lift(2).map(_.toInt).getOrElse(1000)
      writeScaled(spark, src, dst, factor)
      bucketFacts(spark, dst) // the bucketed facts ARE the production layout
    }
    spark.stop()
  }
}
