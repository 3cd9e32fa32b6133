package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One verifiable query: a Spark DataFrame program plus (when SQL-expressible)
  * an equivalent ANSI-SQL oracle that DuckDB runs over the same parquet tables.
  * The driver hash-compares the two (BASELINE.md t2 gate), mirroring the
  * reference's SQLite-oracle test runner
  * (reference: src/test/lib/sql/sqlite_testrunner/sqlite_testrunner.cpp). */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}

/** Determinism helpers for oracle-exact aggregation.
  *
  * Money columns in the fixtures are 2-decimal doubles. Summing doubles is
  * order-dependent, and Spark's partial aggregation order differs from DuckDB's
  * sequential order — so raw double sums hash-mismatch in the last ulp. We instead
  * aggregate exact decimals (both engines sum decimals exactly, any order) and cast
  * the final result back to double: bit-identical on both sides.
  *
  * Cost: the casts compile into whole-stage code, but the decimal work is not
  * primitive. The optimizer turns `dec`/`dec4` into
  * `graft.plans.ExactDoubleToDecimal`, which makes the unscaled long with one
  * multiply and checks it exactly; only values that fail the check take
  * Spark's `Double.toString` → `BigDecimal` path. Decimal multiplies still go
  * through `java.math.BigDecimal`, and a `sum` over DECIMAL(18, 2) widens to
  * DECIMAL(28, 2), which the hash aggregate keeps as variable-length bytes. */
object Det {
  /** Exact 2-decimal view of a money/quantity double. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Wider scale for pre-scaled values (e.g. squared terms). */
  def dec4(c: Column): Column = c.cast(DecimalType(28, 4))
  /** Final output form: deterministic double. */
  def asDouble(c: Column): Column = c.cast(DoubleType)
}
