package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events.ts convention: whatever physical timestamp type the fixture
  * generation shipped (TIMESTAMP(NANOS) read as a long, or TIMESTAMP(MICROS)
  * read as TIMESTAMP_NTZ), Tables.df presents a nanosecond-epoch LONG so all
  * query time math stays on integer epochs (`ts DIV 1000` == DuckDB
  * `epoch_us(ts)`). A fixture regeneration that flips the type again must not
  * change any query result. Also the per-session schema cache: a file's
  * schema is inferred once, and again after the file is rewritten. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import SparkTestBase.jobsDuring

  test("events.ts is normalized to a nanosecond-epoch long") {
    val ev = Tables.df(spark, SparkTestBase.sf, "events")
    assert(ev.schema("ts").dataType == LongType)
    // sanity: epochs land in a plausible century (1990..2100), not 1970±ε
    val (lo, hi) = ev.agg(min($"ts"), max($"ts")).as[(Long, Long)].head()
    val y1990 = 631152000000000000L // 1990-01-01 in ns
    val y2100 = 4102444800000000000L
    assert(lo >= y1990 && hi <= y2100, s"ts range [$lo,$hi] outside 1990..2100")
  }

  test("normalizeEventTs is a no-op on an already-long ts and converts timestamps") {
    val asLong = Seq((1L, 1700000000000000000L)).toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(asLong).schema("ts").dataType == LongType)
    assert(Tables.normalizeEventTs(asLong).select("ts").as[Long].head() ==
      1700000000000000000L)

    // TIMESTAMP_NTZ input (what the MICROS parquet generation reads as):
    // wall-clock interpreted in the session zone (UTC) —
    // 2023-11-14 22:13:20 UTC == 1700000000 epoch seconds
    val asTs = Seq(Tuple1(1L)).toDF("event_id")
      .withColumn("ts", expr("to_timestamp_ntz('2023-11-14 22:13:20')"))
    val norm = Tables.normalizeEventTs(asTs)
    assert(norm.schema("ts").dataType == LongType)
    assert(norm.select("ts").as[Long].head() == 1700000000000000000L)
  }

  test("a schema is inferred once per file: a rewritten table file is read again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    val fp = Fingerprints.of(path)
    assert(Tables.df(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(jobsDuring(Tables.df(spark, dir, "t")) == 0,
      "an unchanged file must be served from the schema cache, with no inference job")

    Seq((2L, "b", 3.0)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
    assert(Fingerprints.of(path) != fp)
    var df: DataFrame = null
    assert(jobsDuring { df = Tables.df(spark, dir, "t") } > 0,
      "a changed fingerprint must infer the schema again")
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.0)))
  }

  test("events.ts stays a nanosecond-epoch long when its schema comes from the cache") {
    Tables.df(spark, SparkTestBase.sf, "events")
    var ev: DataFrame = null
    assert(jobsDuring { ev = Tables.df(spark, SparkTestBase.sf, "events") } == 0)
    assert(ev.schema("ts").dataType == LongType)
    val (lo, hi) = ev.agg(min($"ts"), max($"ts")).as[(Long, Long)].head()
    assert(lo >= 631152000000000000L && hi <= 4102444800000000000L,
      s"ts range [$lo,$hi] outside 1990..2100")
  }
}
