package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch analytics over the `events` stream-shaped table. The reference has no
  * streaming/time-series module (SURVEY §2.11) — these are beyond-parity.
  *
  * Timestamp convention: Tables.df normalizes events.ts to a nanosecond-epoch
  * long whatever the file carried (TIMESTAMP(NANOS) or TIMESTAMP(MICROS));
  * DuckDB sees the raw column and truncates to microseconds. All time math
  * therefore happens on integer epochs: Spark `ts DIV 1000` == DuckDB
  * `epoch_us(ts)`.
  */
object EventsQueries {
  import Det._

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "events")

  /** Hash aggregation by event type with exact decimal value sums. */
  val eventsByType: Q = Q(
    "events_by_type",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    ev(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        asDouble(sum(dec(col("value")))).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Tumbling-window (hourly) counts — the batch shape of a streaming windowed
    * aggregation; buckets are integer epoch-hours so both engines agree exactly. */
  val eventsHourly: Q = Q(
    "events_hourly",
    """SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_bucket,
      |  event_type, COUNT(*) AS n
      |FROM events
      |GROUP BY hour_bucket, event_type
      |HAVING COUNT(*) > 5
      |ORDER BY hour_bucket, event_type""".stripMargin) { (s, dir) =>
    ev(s, dir)
      .withColumn("hour_bucket", expr("(ts DIV 1000) DIV 3600000000"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 5)
      .orderBy("hour_bucket", "event_type")
  }

  /** Per-user event sequencing via window function over event time (the batch
    * equivalent of a keyed stateful stream). */
  val eventsUserSeq: Q = Q(
    "events_user_seq",
    """SELECT user_id, event_id, seq FROM (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS seq
      |  FROM events)
      |WHERE user_id < 20 AND seq <= 3
      |ORDER BY user_id, seq""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(expr("ts DIV 1000"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), row_number().over(w).as("seq"))
      .filter(col("user_id") < 20 && col("seq") <= 3)
      .orderBy("user_id", "seq")
  }

  /** AS-OF join: each click matched to the same user's most recent view at or
    * before it — the event-enrichment shape (feature lookups, price-at-time)
    * that native engines ship as a dedicated operator (DuckDB ASOF JOIN,
    * kdb aj). Spark-first: no dedicated operator needed — union the two
    * streams and carry the last view timestamp forward with a running
    * `last(ignoreNulls)` window. ONE shuffle on user_id, no join at all —
    * at 100 TB this beats the naive per-click subquery (a quadratic
    * range-join) by construction; the oracle spells the identical window
    * construction in ANSI SQL (tie-break: a view at the same microsecond
    * with a smaller event_id counts as preceding). */
  val eventsAsofJoin: Q = Q(
    "events_asof_join",
    """SELECT event_id AS click_id, user_id, ts_us AS click_ts_us, view_ts_us,
      |  ts_us - view_ts_us AS lag_us
      |FROM (
      |  SELECT event_id, user_id, event_type, ts_us,
      |    MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts_us
      |  FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |        FROM events WHERE event_type IN ('click', 'view')))
      |WHERE event_type = 'click'
      |ORDER BY click_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("ts_us"))
      .withColumn("view_ts_us",
        max(when(col("event_type") === "view", col("ts_us"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_us").as("click_ts_us"), col("view_ts_us"),
        (col("ts_us") - col("view_ts_us")).as("lag_us"))
      .orderBy("click_id")
  }

  /** Gap-based sessionization: a >30-minute silence starts a new
    * session. Pure integer window arithmetic — a
    * session boundary flag summed cumulatively IS the session index — so both
    * engines agree exactly; one shuffle on user_id, then a keyed agg. */
  val eventsSessionize: Q = Q(
    "events_sessionize_gap",
    """SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MIN(ts_us) AS session_start_us,
      |  MAX(ts_us) - MIN(ts_us) AS duration_us
      |FROM (
      |  SELECT user_id, ts_us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM (
      |    SELECT user_id, event_id, ts_us,
      |      CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM (
      |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |        LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |          ORDER BY epoch_us(ts), event_id) AS prev_ts
      |      FROM events)))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("ts_us"))
      .withColumn("prev_ts", lag("ts_us", 1).over(wSeq))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"), min("ts_us").as("session_start_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .orderBy("user_id", "session_idx")
  }

  /** Strict first-occurrence funnel: users whose first view precedes their
    * first click precedes their first purchase. One keyed aggregation with
    * map-side partial MINs + a one-row final — the scale-minimal funnel
    * formulation (no self-joins, no per-user sequence materialization; the
    * sequence variant for within-N-steps funnels is events_user_seq).
    * NULL comparisons drop non-reaching users in both engines identically. */
  val eventsFunnel: Q = Q(
    "events_funnel",
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS t_view,
      |    MIN(epoch_us(ts)) FILTER (WHERE event_type = 'click') AS t_click,
      |    MIN(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS t_buy
      |  FROM events GROUP BY user_id
      |)
      |SELECT COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
      |  COUNT(*) FILTER (WHERE t_click > t_view) AS n_view_click,
      |  COUNT(*) FILTER (WHERE t_click > t_view AND t_buy > t_click) AS n_full
      |FROM u""".stripMargin) { (s, dir) =>
    val u = ev(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t_buy"))
    u.agg(
      count(when(col("t_view").isNotNull, 1)).as("n_view"),
      count(when(col("t_click") > col("t_view"), 1)).as("n_view_click"),
      count(when(col("t_click") > col("t_view") && col("t_buy") > col("t_click"), 1))
        .as("n_full"))
  }

  /** Cohort retention grid: users grouped by their first-activity hour
    * (cohort), counted again at each later hour they return. Two keyed
    * aggregations (user → distinct activity hours + cohort; then
    * (cohort, offset) → distinct users) and nothing quadratic: the
    * per-user distinct-hour explode is bounded by the observation window,
    * not the event count — retention at 100 TB is exactly this shape. */
  val eventsRetention: Q = Q(
    "events_retention",
    """WITH act AS (
      |  SELECT user_id, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h
      |  FROM events GROUP BY user_id, h
      |), coh AS (
      |  SELECT user_id, MIN(h) AS cohort FROM act GROUP BY user_id
      |)
      |SELECT c.cohort, a.h - c.cohort AS offset_h,
      |  COUNT(DISTINCT a.user_id) AS n_users
      |FROM act a JOIN coh c ON a.user_id = c.user_id
      |GROUP BY c.cohort, offset_h
      |ORDER BY c.cohort, offset_h""".stripMargin) { (s, dir) =>
    val act = ev(s, dir)
      .select(col("user_id"), expr("floor((ts div 1000) / 3600000000)").cast("long").as("h"))
      .distinct()
    val coh = act.groupBy("user_id").agg(min("h").as("cohort"))
    act.join(coh, "user_id")
      .groupBy(col("cohort"), (col("h") - col("cohort")).as("offset_h"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "offset_h")
  }

  /** Per-user event-type transition counts (path analysis): LAG over each
    * user's time-ordered stream, then count (from, to) pairs. One keyed
    * window shuffle on user_id + one small keyed agg over the type×type
    * grid — the Markov-chain estimation shape at any scale. */
  val eventsTransitions: Q = Q(
    "events_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, next_type
      |ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "next_type")
  }

  /** Hourly-rate anomaly flags per event type: a bucket is anomalous when its
    * count deviates from the trailing-24h mean by more than k standard
    * deviations. The z-score compare is cross-multiplied into pure INTEGER
    * arithmetic — (n·x − sum)² > k²·(n·sumsq − sum²) — so both engines
    * decide identically (no float mean/std drift) and the whole check stays
    * in exact math over counts. One keyed window per type, frames exclude
    * the current bucket; scales as one shuffle on event_type. */
  val eventsAnomaly: Q = {
    val K = 3L // flag beyond 3 sigma
    Q(
      "events_anomaly",
      s"""WITH hourly AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
        |    COUNT(*) AS x
        |  FROM events GROUP BY event_type, h
        |), stats AS (
        |  SELECT event_type, h, x,
        |    COUNT(*) OVER w AS n,
        |    COALESCE(SUM(x) OVER w, 0) AS s,
        |    COALESCE(SUM(x * x) OVER w, 0) AS sq
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, h, x, n, s
        |FROM stats
        |WHERE n >= 12
        |  AND (n * x - s) * (n * x - s) > ${K * K} * (n * sq - s * s)
        |ORDER BY event_type, h""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
      ev(s, dir)
        .groupBy(col("event_type"),
          expr("floor((ts div 1000) / 3600000000)").cast("long").as("h"))
        .agg(count(lit(1)).as("x"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", coalesce(sum("x").over(w), lit(0L)))
        .withColumn("sq", coalesce(sum(col("x") * col("x")).over(w), lit(0L)))
        .filter(col("n") >= 12 &&
          (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s")) >
            lit(K * K) * (col("n") * col("sq") - col("s") * col("s")))
        .select("event_type", "h", "x", "n", "s")
        .orderBy("event_type", "h")
    }
  }

  /** Gap-filled hourly series per event type: generate every bucket between
    * each type's first and last activity, left-join the observed counts,
    * zero-fill the holes — the resample step before any rolling statistic
    * (a naive rolling window over sparse buckets silently skips empty hours;
    * events_anomaly's ROWS frame is only correct when buckets are dense).
    * The per-type bucket explode is bounded by the observation window, and
    * the join is keyed — linear at any scale. */
  val eventsGapfill: Q = Q(
    "events_gapfill",
    """WITH hourly AS (
      |  SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
      |    COUNT(*) AS x
      |  FROM events GROUP BY event_type, h
      |), spans AS (
      |  SELECT event_type, MIN(h) AS h_lo, MAX(h) AS h_hi FROM hourly GROUP BY event_type
      |), grid AS (
      |  SELECT event_type, unnest(range(h_lo, h_hi + 1)) AS h FROM spans
      |)
      |SELECT g.event_type, g.h, COALESCE(hr.x, 0) AS x,
      |  CASE WHEN hr.x IS NULL THEN 1 ELSE 0 END AS filled
      |FROM grid g LEFT JOIN hourly hr ON hr.event_type = g.event_type AND hr.h = g.h
      |ORDER BY g.event_type, g.h""".stripMargin) { (s, dir) =>
    val hourly = ev(s, dir)
      .groupBy(col("event_type"),
        expr("floor((ts div 1000) / 3600000000)").cast("long").as("h"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h_lo"), max("h").as("h_hi"))
      .select(col("event_type"), explode(sequence(col("h_lo"), col("h_hi"))).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"),
        when(col("x").isNull, 1).otherwise(0).as("filled"))
      .orderBy("event_type", "h")
  }

  /** Rolling median of the hourly rate (trailing 7 buckets): the robust
    * smoother dashboards put next to the mean — medians ignore the spike the
    * z-score flags. Spark `percentile` ≡ DuckDB `quantile_cont` bit-for-bit
    * (same linear interpolation on the sorted frame; proven for grouped
    * aggregation by agg_percentile_exact, same property holds per-frame).
    * One keyed window on event_type — scales as one shuffle. */
  val eventsRollingMedian: Q = Q(
    "events_rolling_median",
    """WITH hourly AS (
      |  SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
      |    COUNT(*) AS x
      |  FROM events GROUP BY event_type, h
      |)
      |SELECT event_type, h, x,
      |  quantile_cont(x, 0.5) OVER (PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
      |FROM hourly ORDER BY event_type, h""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h").rowsBetween(-6, 0)
    ev(s, dir)
      .groupBy(col("event_type"),
        expr("floor((ts div 1000) / 3600000000)").cast("long").as("h"))
      .agg(count(lit(1)).as("x"))
      .withColumn("med", expr("percentile(x, 0.5)").over(w))
      .orderBy("event_type", "h")
  }

  /** Event-value histogram per type (width-10 buckets): the distribution
    * check behind alerting thresholds. FLOOR before CAST (Spark truncates
    * where DuckDB rounds on double→BIGINT — the documented cross-engine
    * trap); integer bucketing after that is exact. One keyed agg. */
  val eventsValueHist: Q = Q(
    "events_value_hist",
    """SELECT event_type,
      |  (CAST(FLOOR(value) AS BIGINT) // 10) * 10 AS bucket_lo,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type, bucket_lo
      |ORDER BY event_type, bucket_lo""".stripMargin) { (s, dir) =>
    ev(s, dir)
      .groupBy(col("event_type"),
        expr("(CAST(FLOOR(value) AS BIGINT) div 10) * 10").as("bucket_lo"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket_lo")
  }

  /** Sequence-pattern matching — the MATCH_RECOGNIZE / CEP shape (SQL:2016
    * row pattern recognition; Flink CEP's core operator; the reference has no
    * counterpart — parse-surface ends at window functions). Each user's
    * ordered event-type sequence becomes a compact letter string and the
    * patterns are regexes over it: `s[^e]*p` = signup converting to purchase
    * with NO intervening error, `ee` = an error streak. Java regex and
    * DuckDB's RE2 agree on this alternation-free character-class subset
    * (both unanchored), and the sequence order is the established
    * (µs, event_id) total order, so the strings — and the matches — are
    * bit-identical.
    * Scale: one keyed shuffle to assemble per-user sequences; the regex pass
    * is map-only. Per-user sequence length is bounded by per-user activity —
    * at 100 TB sessionize first (events_sessionize_gap) so sequences are
    * per-session, or use the aggregate-only funnel (events_funnel) when
    * order constraints collapse to first-timestamp comparisons. */
  val eventsPatternMatch: Q = Q(
    "events_pattern_match",
    """WITH seq AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id) AS s
      |  FROM events WHERE user_id < 50 GROUP BY user_id)
      |SELECT user_id, CAST(length(s) AS BIGINT) AS seq_len,
      |  CAST(CASE WHEN regexp_matches(s, 's[^e]*p') THEN 1 ELSE 0 END AS BIGINT) AS conv_no_error,
      |  CAST(CASE WHEN regexp_matches(s, 'ee') THEN 1 ELSE 0 END AS BIGINT) AS double_error
      |FROM seq ORDER BY user_id""".stripMargin) { (s, dir) =>
    val evs = ev(s, dir).filter(col("user_id") < 50)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        expr("ts DIV 1000").as("t"), col("event_id").as("i"),
        substring(col("event_type"), 1, 1).as("ch")))).as("evs"))
      .select(col("user_id"), expr("concat_ws('', transform(evs, x -> x.ch))").as("s"))
    evs.select(col("user_id"), length(col("s")).cast("long").as("seq_len"),
        when(col("s").rlike("s[^e]*p"), 1L).otherwise(0L).as("conv_no_error"),
        when(col("s").rlike("ee"), 1L).otherwise(0L).as("double_error"))
      .orderBy("user_id")
  }

  val all: Seq[Q] = Seq(eventsByType, eventsHourly, eventsUserSeq,
    eventsAsofJoin, eventsSessionize, eventsFunnel, eventsRetention,
    eventsTransitions, eventsAnomaly, eventsGapfill, eventsRollingMedian,
    eventsValueHist, eventsPatternMatch)
}
