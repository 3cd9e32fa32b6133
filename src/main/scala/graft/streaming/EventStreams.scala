package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table — beyond-parity surface (the
  * reference has no streaming module, SURVEY §2.11). The same logical shapes as
  * EventsQueries, expressed as unbounded streams: tumbling/sliding windows with
  * watermarks, and keyed sessionization via flatMapGroupsWithState.
  *
  * events.ts is a nanosecond-epoch long after the parquet nanos workaround
  * (graft.Tables); streams convert it to a proper timestamp with
  * `timestamp_micros(ts DIV 1000)` for event-time semantics.
  */
object EventStreams {

  final case class EventRow(event_id: Long, userId: Long, eventType: String,
      value: Double, tsMicros: Long)
  final case class SessionOut(userId: Long, nEvents: Long, spanMicros: Long)
  final case class FunnelOut(userId: Long, tView: Option[Long], tClick: Option[Long],
      tBuy: Option[Long])

  /** Streaming source over the events parquet directory (schema must be given
    * explicitly — streaming readers don't infer). */
  def source(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // The file-stream source wants a directory to watch; a production deploy
    // points this at the landing directory. A single-file fixture is staged
    // through a temp dir so the same code path is exercised.
    val streamDir =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "events.parquet"))) {
        s"$dir/events.parquet"
      } else {
        val tmp = java.nio.file.Files.createTempDirectory("graft-events-stream")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "events.parquet"),
          tmp.resolve("events.parquet"))
        tmp.toString
      }
    graft.Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(streamDir))
      .withColumn("event_ts", timestamp_micros(expr("ts DIV 1000")))
  }

  /** Tumbling-window counts with a watermark — the streaming twin of
    * EventsQueries.eventsHourly. At scale the state store holds one entry per
    * (window, type); the watermark bounds it. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup — the ingest-time twin of DedupQueries.dedupExact:
    * `dropDuplicates` within a watermark keeps state bounded (one entry per
    * key inside the watermark horizon, evicted past it). At 100 TB this is
    * the first stage of a training-data landing pipeline: duplicates arriving
    * within the lateness bound never reach storage. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .dropDuplicates("event_id")

  /** Keyed custom state: per-user session summary via flatMapGroupsWithState —
    * the arbitrary-stateful-processing shape (counts + event-time span). */
  def userSessions(spark: SparkSession, events: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._
    val typed = events.select(
      col("event_id"), col("user_id").as("userId"), col("event_type").as("eventType"),
      col("value"), expr("ts DIV 1000").as("tsMicros")).as[EventRow]
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[(Long, Long, Long)]) =>
          val (n0, lo0, hi0) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
          var n = n0; var lo = lo0; var hi = hi0
          rows.foreach { r =>
            n += 1
            lo = math.min(lo, r.tsMicros)
            hi = math.max(hi, r.tsMicros)
          }
          state.update((n, lo, hi))
          Iterator(SessionOut(userId, n, if (n > 0) hi - lo else 0L))
      }
  }

  /** Streaming funnel attribution: per-user earliest view/click/purchase
    * micros maintained incrementally in keyed state (3 longs per user —
    * state bounded by the user population, not the event volume). Each
    * micro-batch emits the user's updated stage tuple; the sink keeps the
    * latest. Folding the final states reproduces the batch `events_funnel`
    * counts exactly (proven in StreamingSpec) — the stream is the incremental
    * twin of the batch conditional-MIN aggregation. */
  def userFunnel(spark: SparkSession, events: DataFrame): Dataset[FunnelOut] = {
    import spark.implicits._
    val NONE = Long.MaxValue
    val typed = events.select(
      col("event_id"), col("user_id").as("userId"), col("event_type").as("eventType"),
      col("value"), expr("ts DIV 1000").as("tsMicros")).as[EventRow]
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[(Long, Long, Long)]) =>
          var (v, c, b) = state.getOption.getOrElse((NONE, NONE, NONE))
          rows.foreach { r =>
            r.eventType match {
              case "view" => v = math.min(v, r.tsMicros)
              case "click" => c = math.min(c, r.tsMicros)
              case "purchase" => b = math.min(b, r.tsMicros)
              case _ => ()
            }
          }
          state.update((v, c, b))
          def opt(x: Long): Option[Long] = if (x == NONE) None else Some(x)
          Iterator(FunnelOut(userId, opt(v), opt(c), opt(b)))
      }
  }

  /** Streaming CEP — the incremental counterpart of the batch
    * events_pattern_match (MATCH_RECOGNIZE / Flink-CEP shape). Per-user keyed
    * state buffers events and re-evaluates the pattern DFAs over the
    * event-time-ordered sequence on every micro-batch, so late/out-of-order
    * arrivals land in their correct position — the same buffer-then-order
    * contract Flink CEP implements under watermarks. Patterns (DFA form of
    * the batch regexes, provably equivalent on this alphabet):
    *   conv_no_error = `s[^e]*p`: 's' arms, 'e' kills the arm, 'p' while
    *     armed matches (re-armable — any later 's' starts a fresh attempt);
    *   double_error  = `ee`: two adjacent errors in event-time order.
    * Both flags are MONOTONE (false→true as events accrue), so Append-mode
    * per-batch emissions fold with max() and the final emission equals the
    * batch answer. State is capped at [[PatternBufferCap]] buffered events
    * per user (far above the fixture's per-user activity); the production
    * path sessionizes upstream or adds an event-time timeout so the buffer
    * stays bounded at 100 TB/day ingest. */
  final case class PatternOut(userId: Long, convNoError: Long, doubleError: Long)
  private val PatternBufferCap = 4096

  def patternFlags(spark: SparkSession, events: DataFrame): Dataset[PatternOut] = {
    import spark.implicits._
    val typed = events.select(
      col("event_id"), col("user_id").as("userId"), col("event_type").as("eventType"),
      col("value"), expr("ts DIV 1000").as("tsMicros")).as[EventRow]
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[Vector[(Long, Long, String)]]) =>
          val merged = (state.getOption.getOrElse(Vector.empty) ++
            rows.map(r => (r.tsMicros, r.event_id, r.eventType.take(1))))
            .sortBy(t => (t._1, t._2)).take(PatternBufferCap)
          state.update(merged)
          var armed = false; var conv = false; var prevE = false; var dbl = false
          merged.foreach { case (_, _, ch) =>
            ch match {
              case "s" => armed = true
              case "e" => if (prevE) dbl = true; armed = false
              case "p" => if (armed) conv = true
              case _ => ()
            }
            prevE = ch == "e"
          }
          Iterator(PatternOut(userId, if (conv) 1L else 0L, if (dbl) 1L else 0L))
      }
  }

  /** Stream-stream interval join: each click joined to the same user's views
    * from the preceding 10 minutes. Both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so the state store can
    * evict rows once the watermark passes the interval — bounded state at
    * 100 TB/day ingest, the canonical funnel-attribution shape. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    clicks.join(views,
      expr("""c_user = v_user
             |AND click_ts >= view_ts
             |AND click_ts <= view_ts + INTERVAL 10 MINUTES""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** Drain a stream into an in-memory table and return the result (test/demo
    * harness: parquet-backed streams complete after processAllAvailable). */
  def runToMemory(spark: SparkSession, streamed: Dataset[_], name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
