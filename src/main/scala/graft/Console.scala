package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import org.apache.spark.sql.SparkSession

/** Interactive SQL console — the counterpart of the reference's
  * `hyriseConsole` (reference: src/bin/console/console.cpp — a readline REPL
  * with dot-style meta commands for loading tables, inspecting the catalog,
  * timing, and plan visualization, all dispatching to SQLPipeline). Every
  * statement goes through the SAME [[Pipeline]] as the pgwire server and the
  * bench entry points — one statement lifecycle for every front end.
  *
  * Meta commands (the reference's console surface, adapted):
  *   .help                 command list
  *   .load <dir>           register the fixture parquet tables from <dir>
  *   .tables               catalog listing (name + row count)
  *   .timing on|off        print per-statement wall time
  *   .maxrows <n>          cap printed rows (fetch stays bounded at n+1)
  *   .quit                 exit
  * Everything else — SELECT/DML/DDL/BEGIN/COMMIT/EXPLAIN/VISUALIZE — is a
  * Pipeline statement (`visualize` mirrors the reference console's
  * `visualize` command via the VISUALIZE verb).
  *
  * The loop is injectable (reader/writer) so ConsoleSpec drives it without a
  * TTY; `main` wires stdin/stdout. */
final class Console(spark: SparkSession, in: BufferedReader, out: PrintWriter) {

  private val catalog = new Catalog(spark)
  private val pipeline = new Pipeline(catalog)
  private var timing = false
  private var maxRows = 20

  private def printDf(df: org.apache.spark.sql.DataFrame): Unit = {
    // bounded fetch: maxRows+1 detects truncation without an unbounded collect
    val rows = df.limit(maxRows + 1).collect()
    val shown = rows.take(maxRows)
    out.println(df.columns.mkString(" | "))
    shown.foreach(r => out.println(r.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString(" | ")))
    if (rows.length > maxRows) out.println(s"... (truncated at $maxRows rows)")
    out.println(s"(${shown.length} row${if (shown.length == 1) "" else "s"})")
  }

  /** Process one line; returns false when the session should end. */
  def handle(line: String): Boolean = {
    val s = line.trim
    if (s.isEmpty) return true
    val t0 = System.nanoTime()
    // Meta-commands sit INSIDE the same try/catch as SQL: a malformed
    // argument (".maxrows foo") must print an error and keep the REPL
    // alive, not propagate and kill the session (round-6 ADVICE).
    val continue = try {
      s.split("\\s+", 2).toList match {
        case ".quit" :: _ | ".exit" :: _ => false
        case ".help" :: _ =>
          out.println(".load <dir> | .tables | .timing on|off | .maxrows <n> | .quit | any SQL (incl. EXPLAIN / VISUALIZE / BEGIN..COMMIT)")
          true
        case ".load" :: dir :: Nil =>
          Tables.names.foreach(n => catalog.register(n, Tables.df(spark, dir, n)))
          out.println(s"loaded ${Tables.names.size} tables from $dir")
          true
        case ".tables" :: _ =>
          catalog.tableNames.foreach(n => out.println(s"$n (${catalog.table(n).count()} rows)"))
          true
        case ".timing" :: mode :: Nil =>
          timing = mode == "on"; out.println(s"timing ${if (timing) "on" else "off"}")
          true
        case ".maxrows" :: n :: Nil =>
          maxRows = n.toInt; out.println(s"maxrows $maxRows")
          true
        case cmd :: _ if cmd.startsWith(".") =>
          out.println(s"unknown command: $cmd (.help lists commands)")
          true
        case _ =>
          val df = pipeline.sql(s)
          if (df.schema.nonEmpty) printDf(df) else out.println("ok")
          true
      }
    } catch {
      case e: Exception => out.println(s"error: ${e.getMessage}"); true
    }
    if (timing) out.println(f"time: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    out.flush()
    continue
  }

  def repl(): Unit = {
    out.println("graft console — .help for commands"); out.flush()
    var line = in.readLine()
    while (line != null && handle(line)) line = in.readLine()
  }
}

object Console {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"), shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val console = new Console(spark,
      new BufferedReader(new InputStreamReader(System.in)),
      new PrintWriter(System.out))
    args.headOption.foreach(dir => console.handle(s".load $dir"))
    console.repl()
    spark.stop()
  }
}
