package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one timed window measured. `latMs` holds one entry per completed
  * operation, `byKind` the same split by query, template or transaction
  * type; `weights` counts timed executions per checked output id, so a
  * wrong result found after the window can be charged to every execution
  * that produced it. */
final class Window {
  val latMs = mutable.ArrayBuffer.empty[Double]
  var attempted, failed = 0L
  var wallNs = 0L
  val weights = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Times one operation of the given kind and records its outcome. */
  def time(kind: String)(ok: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val good = try ok catch { case e: Throwable => Main.warn(s"$kind failed: $e"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized {
      attempted += 1
      if (good) {
        latMs += ms
        byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      } else failed += 1
    }
  }
  def opsPerS: Double = (attempted - failed) / (wallNs / 1e9)
}

/** One benchmark workload. `setup` registers tables and runs the untimed
  * warm-up; `run` is one timed window of at least `seconds`; `check` runs
  * after the last window and writes what run.py compares against DuckDB. */
trait Workload {
  def setup(): Unit
  def run(seconds: Int): Window
  /** Writes the window's outputs for run.py to compare with the oracle. */
  def check(w: Window): Unit
  /** Marks the start of the traced window for [[layerCounts]]. */
  def beginTrace(): Unit = ()
  /** Counts kept by the engine itself since [[beginTrace]]:
    * commit conflicts and the size of table lineage. */
  def layerCounts: Map[String, Double] = Map.empty
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --out DIR`. Prints one summary line and, last, one JSON result
  * line; run.py adds the DuckDB output checks to it. */
object Main {
  def warn(s: String): Unit = System.err.println(s"perfbench: $s")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val data = arg("data")
    val out = Paths.get(arg("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warn(f"session up at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    try {
      def olap = new Olap(spark, data, seed, out)
      def oltp = new Oltp(spark, data, seed)
      if (workload == "train") {
        // loads the classes runs load, for the class-data archive the JVM
        // writes when this run exits; the headline queries' set-up alone
        // loads most of Spark SQL
        olap.setup()
        return
      }
      val w: Workload = workload match {
        case "olap_headline" => olap
        case "oltp_mix" => oltp
        case other => sys.error(s"unknown workload $other")
      }
      w.setup()
      val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      warn(f"set up in $setupS%.1f s")
      // End-to-end figures come from an untraced window; a traced run
      // measures the per-layer figures instead, in a window of its own.
      val (win, metrics) =
        if (!trace) {
          val win = w.run(seconds)
          win -> Seq(
            ("setup_s", setupS, "s"),
            ("ops_per_s", win.opsPerS, "1/s"),
            ("latency_p50_ms", pct(win.latMs, 0.50), "ms"),
            ("heap_live_mb", liveHeapMb(spark), "MB"))
        } else {
          w.beginTrace()
          val gc0 = gcTotals()
          val c = Trace.start(spark)
          val win = w.run(seconds)
          val spans = Trace.stop(spark, c)
          val gc1 = gcTotals()
          Trace.write(out.resolve("spans.jsonl"), spans)
          win -> layerMetrics(win, spans, c, (gc1._1 - gc0._1, gc1._2 - gc0._2), cores, w.layerCounts)
        }
      warn(f"timed window done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
      w.check(win)
      val failed = win.failed
      val kinds = win.byKind.toSeq.sortBy(_._1).map { case (k, xs) =>
        s""""$k":{"n":${xs.size},"p50_ms":${pct(xs, 0.5)}}"""
      }.mkString(",")
      println(s"""{"workload":"$workload","seed":$seed,"trace":$trace,"cores":$cores,""" +
        s""""timed_s":${win.wallNs / 1e9},"samples":${win.latMs.size},"attempted":${win.attempted},""" +
        s""""latency_p90_ms":${pct(win.latMs, 0.90)},""" +
        s""""failed":$failed,"by_kind":{$kinds}}""")
      val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":${win.attempted},"failed":$failed,"metrics":{$ms}}""")
    } finally spark.stop()
  }

  /** Linear-interpolated percentile of `xs`. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = r.toInt
      val hi = (lo + 1) min (s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Used heap after full collections and the cleanup they trigger: live
    * data, not garbage. */
  def liveHeapMb(spark: SparkSession): Double = {
    // the same last job in every workload, so what the final operation of
    // a window left behind does not depend on which operation it was
    spark.range(1).write.format("noop").mode("overwrite").save()
    org.apache.spark.PerfbenchBus.collect(spark.sparkContext, maxMs = 5000)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }

  /** Per-layer figures of a traced window, normalised per completed
    * operation where they are times or counts. */
  private def layerMetrics(t: Window, spans: Seq[Span], c: Trace.Counters,
      gc: (Long, Long), cores: Int, counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val ops = (t.attempted - t.failed).max(1L).toDouble
    val self = Trace.selfNs(spans)
    val total = Trace.totalNs(spans)
    def perOpMs(ns: Long) = ns / 1e6 / ops
    val ex = c.layers.getOrElse("exec", new c.Layer)
    val build = c.layers.getOrElse("registry", new c.Layer)
    val execMs = total.getOrElse("exec", 0L) / 1e6
    Seq(
      ("build.ms", perOpMs(self.getOrElse("registry", 0L)), "ms/op"),
      ("build.jobs", build.jobs / ops, "1/op"),
      ("tables.infer_jobs", c.inferJobs / ops, "1/op"),
      ("tables.infer_ms", c.inferMs / ops, "ms/op"),
      ("catalyst.analysis_ms", perOpMs(c.analysisNs), "ms/op"),
      ("catalyst.optimization_ms", perOpMs(c.optimizationNs), "ms/op"),
      ("catalyst.planning_ms", perOpMs(c.planningNs), "ms/op"),
      ("pipeline.sql_ms", perOpMs(total.getOrElse("pipeline", 0L)), "ms/op"),
      ("exec.ms", execMs / ops, "ms/op"),
      ("exec.jobs", ex.jobs / ops, "1/op"),
      ("exec.stages", ex.stages / ops, "1/op"),
      ("exec.tasks", ex.tasks / ops, "1/op"),
      ("exec.task_run_ms", ex.taskRunMs / ops, "ms/op"),
      ("exec.task_cpu_ms", ex.taskCpuNs / 1e6 / ops, "ms/op"),
      ("exec.slot_busy_ratio", if (execMs > 0) ex.taskRunMs / (execMs * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_bytes", ex.shuffleWrite / ops, "B/op"),
      ("exec.shuffle_read_bytes", ex.shuffleRead / ops, "B/op"),
      ("exec.spill_bytes", ex.spill / ops, "B/op"),
      ("exec.input_rows", ex.inputRows / ops, "rows/op"),
      ("exec.task_gc_ms", ex.taskGcMs / ops, "ms/op"),
      ("txn.dml_ms", perOpMs(total.getOrElse("dml", 0L)), "ms/op"),
      ("txn.commit_ms", perOpMs(total.getOrElse("commit", 0L)), "ms/op"),
      ("txn.read_ms", perOpMs(total.getOrElse("read", 0L)), "ms/op"),
      ("txn.conflicts", counts.getOrElse("conflicts", 0.0), "count"),
      ("catalog.plan_nodes", counts.getOrElse("plan_nodes", 0.0), "count"),
      ("jvm.gc_ms", gc._1 / ops, "ms/op"),
      ("jvm.gc_count", gc._2 / ops, "1/op"),
      ("trace.ops_per_s", t.opsPerS, "1/s"))
  }
}
