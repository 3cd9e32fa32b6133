package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(op: Long, id: Long, parent: Long, name: String, start: Long, end: Long)

/** In-memory span recorder plus Spark listener counters for the traced run.
  *
  * A span is opened around each call the harness makes into a layer of the
  * engine. While a span is open its name is also set as a Spark local
  * property, so every job, stage and task the call starts carries the layer
  * that started it, whichever thread runs it. Nothing is recorded, and no
  * listener is attached, unless [[start]] was called. */
object Trace {
  @volatile private var on = false
  @volatile private var current: Counters = _
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (op, span id)
  private val LayerKey = "perfbench.layer"

  /** Runs `body` as operation `op`'s root span. */
  def op[T](sc: org.apache.spark.SparkContext, op: Long)(body: => T): T =
    if (!on) body else enter(sc, "op", op)(body)

  /** Counts the Catalyst phases `df` has already been through. A Dataset
    * is analysed eagerly in its own QueryExecution when it is built, and an
    * action that runs it through a new one (such as a `noop` write) only
    * re-analyses the analysed plan, so the listener alone would miss the
    * first analysis. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    if (on) current.record(df.queryExecution)

  /** Runs `body` as a child of the current span, named after its layer. */
  def span[T](sc: org.apache.spark.SparkContext, name: String)(body: => T): T =
    if (!on) body else enter(sc, name, stack.get.headOption.map(_._1).getOrElse(-1L))(body)

  private def enter[T](sc: org.apache.spark.SparkContext, name: String, op: Long)(body: => T): T = {
    val parent = stack.get.headOption.map(_._2).getOrElse(-1L)
    val id = ids.incrementAndGet()
    val prevLayer = sc.getLocalProperty(LayerKey)
    stack.set((op, id) :: stack.get)
    sc.setLocalProperty(LayerKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(op, id, parent, name, t0, System.nanoTime()))
      sc.setLocalProperty(LayerKey, prevLayer)
      stack.set(stack.get.tail)
    }
  }

  /** Job, stage and task counters, keyed by the layer that started them. */
  final class Counters extends SparkListener with QueryExecutionListener {
    final class Layer {
      var jobs, stages, tasks, taskRunMs, taskCpuNs, taskGcMs = 0L
      var shuffleWrite, shuffleRead, spill, inputRows = 0L
    }
    val layers = mutable.Map.empty[String, Layer]
    /** Jobs whose call site is table resolution (`Tables.scala`), any layer. */
    var inferJobs, inferMs = 0L
    var analysisNs, optimizationNs, planningNs = 0L
    private val stageLayer = mutable.Map.empty[Int, String]
    private val inferStart = mutable.Map.empty[Int, Long]
    private val seenQe = mutable.Set.empty[Long]

    private def layer(name: String): Layer = layers.getOrElseUpdate(name, new Layer)
    private def layerOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(LayerKey))).getOrElse("other")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val l = layerOf(e.properties)
      // the stage name is the job's call site: "<method> at <File>.scala:<line>"
      val infer = e.stageInfos.exists(_.name.contains(" at Tables.scala:"))
      e.stageIds.foreach(stageLayer(_) = l)
      layer(l).jobs += 1
      if (infer) { inferJobs += 1; inferStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      inferStart.remove(e.jobId).foreach(t0 => inferMs += e.time - t0)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val l = Option(e.properties).map(layerOf).getOrElse(stageLayer.getOrElse(e.stageInfo.stageId, "other"))
      stageLayer(e.stageInfo.stageId) = l
      layer(l).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val l = layer(stageLayer.getOrElse(e.stageId, "other"))
      l.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        l.taskRunMs += m.executorRunTime
        l.taskCpuNs += m.executorCpuTime
        l.taskGcMs += m.jvmGCTime
        l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        l.spill += m.diskBytesSpilled
        l.inputRows += m.inputMetrics.recordsRead
      }
    }
    // A plan-cache hit re-runs the same QueryExecution; its phases were
    // paid once, so each execution id is counted once.
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def record(qe: QueryExecution): Unit = synchronized {
      if (seenQe.add(qe.id)) {
        val ph = qe.tracker.phases
        def ns(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
        analysisNs += ns("analysis")
        optimizationNs += ns("optimization")
        planningNs += ns("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Drains the bus, then starts recording spans and counting events. */
  def start(spark: SparkSession): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    spans.clear()
    current = c
    on = true
    c
  }

  /** Stops recording and returns every span, after all events up to now
    * have reached the counters. */
  def stop(spark: SparkSession, c: Counters): Seq[Span] = {
    on = false
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
    spans.asScala.toSeq
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Returns total self nanoseconds per span name. */
  def selfNs(all: Seq[Span]): Map[String, Long] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered, curA, curB = 0L
        var open = false
        kids.foreach { case (a, b) =>
          if (!open || a > curB) { if (open) covered += curB - curA; curA = a; curB = b; open = true }
          else curB = curB max b
        }
        if (open) covered += curB - curA
        (s.end - s.start) - covered
      }.sum
    }
  }

  /** Total nanoseconds per span name. */
  def totalNs(all: Seq[Span]): Map[String, Long] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.end - s.start).sum }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val lines = all.sortBy(_.start).map(s =>
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
