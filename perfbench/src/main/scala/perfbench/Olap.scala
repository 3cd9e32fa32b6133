package perfbench

import java.nio.file.{Files, Path}
import graft.{Q, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `olap_headline`: the engine's headline query set, one closed-loop
  * client.
  *
  * Query bodies come from the registries that read only the dataset dir;
  * `SparkEntry.queries` is never touched, because it also builds registries
  * that read inputs outside the repository. An operation is one query: build
  * its DataFrame (`Q.run`) and execute it, discarding the rows through the
  * `noop` sink as `graft.Bench` does. A window runs whole passes over the
  * set, each pass in a seed-permuted order, until `seconds` have elapsed,
  * so every window weighs every query equally. With one client a query's
  * latency does not depend on which other query the order puts beside it. */
final class Olap(spark: SparkSession, dir: String, seed: Long, out: Path) extends Workload {
  private val sc = spark.sparkContext
  private val registry: Map[String, Q] = {
    import graft.operators._
    import graft.functions._
    (RelationalQueries.all ++ TpchQueries.all ++ SsbQueries.all ++ TpcdsQueries.all ++
      EventsQueries.all ++ DedupQueries.all ++ CurationQueries.all).map(q => q.name -> q).toMap
  }
  private val names = SparkEntry.benchNames
  private val rng = new scala.util.Random(seed)
  private val checked = scala.collection.mutable.Buffer.empty[(String, String)]
  private var broken = Set.empty[String]

  private def query(n: String): Q = registry.getOrElse(n, sys.error(s"no registry entry $n"))

  /** The warm-up is the output check: each query runs once, as many at a
    * time as there are cores, and its rows are written out for the DuckDB
    * oracle comparison. */
  def setup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try {
      val jobs = names.map { n =>
        pool.submit(() => {
          val q = query(n)
          val oracle = q.oracle.getOrElse(sys.error(s"$n has no oracle"))
          q.run(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve("check").resolve(n).toString)
          n -> oracle
        })
      }
      names.zip(jobs).foreach { case (n, j) =>
        try checked += j.get()
        catch { case e: Throwable => Main.warn(s"$n: ${e.getCause}"); broken += n }
      }
    } finally pool.shutdown()
  }

  def run(seconds: Int): Window = {
    val w = new Window
    val t0 = System.nanoTime()
    var op = 0L
    while (System.nanoTime() - t0 < seconds * 1000000000L)
      rng.shuffle(names).foreach { name =>
        w.weights(name) += 1
        op += 1
        w.time(name)(Trace.op(sc, op) {
          val df = Trace.span(sc, "registry")(query(name).run(spark, dir))
          Trace.built(df)
          Trace.span(sc, "exec")(df.write.format("noop").mode("overwrite").save())
          !broken(name)
        })
      }
    w.wallNs = System.nanoTime() - t0
    w
  }

  def check(w: Window): Unit =
    Checks.write(out, checked.toSeq.map { case (n, sql) => (n, sql, w.weights(n)) })
}

/** Hands output checks to run.py: `check/checks.json` lists, per output
  * id, the oracle SQL and how many timed operations produced that output;
  * the rows sit in `check/<id>/` as parquet. */
object Checks {
  def write(out: Path, entries: Seq[(String, String, Long)]): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => ""; case '\t' => " "
      case c => c.toString
    } + "\""
    val body = entries.map { case (id, sql, weight) =>
      s"""{"id":${str(id)},"sql":${str(sql)},"weight":$weight}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(out.resolve("check"))
    Files.write(out.resolve("check").resolve("checks.json"), body.getBytes("UTF-8"))
  }
}
