package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** .tbl and CSV+JSON-meta ingestion (FIXTURES.md §1-2): schema decoding,
  * nullability, NULL literals, and write/read round-trips. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-sources").resolve(name).toString

  test("JSONL ingest tolerates malformed lines: PERMISSIVE captures, DROPMALFORMED skips, FAILFAST throws") {
    // web-scale corpora always carry some broken lines; ingestion must be able
    // to quarantine them (for audit) without failing the job — and to fail
    // loudly when strictness is wanted.
    val path = tmp("docs.jsonl")
    Files.writeString(java.nio.file.Paths.get(path),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2, "text": "beta"
        |not json at all
        |{"doc_id": 3, "text": "gamma"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path).cache()
    assert(permissive.count() == 4)
    assert(permissive.filter("_corrupt_record IS NOT NULL").count() == 2,
      "both broken lines quarantined with their raw text")
    assert(permissive.filter("_corrupt_record IS NULL").count() == 2)
    permissive.unpersist()

    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(path)
    assert(dropped.count() == 2, "DROPMALFORMED keeps only parseable rows")

    val strict = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "FAILFAST").json(path)
    intercept[org.apache.spark.SparkException](strict.collect())
  }

  test(".tbl read: header types, nullability, null literal") {
    val path = tmp("mixed.tbl")
    Files.writeString(java.nio.file.Paths.get(path),
      """a|b|c|d
        |int|float_null|string|long
        |1|1.5|x|10
        |2|null|y z|20
        |3|2.25|p|30
        |""".stripMargin)
    val df = TblReader.read(spark, path)
    assert(df.schema == StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", FloatType, nullable = true),
      StructField("c", StringType, nullable = false),
      StructField("d", LongType, nullable = false))))
    val rows = df.orderBy("a").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(1), "literal null in nullable column")
    assert(rows(1).getString(2) == "y z")
    assert(rows(2).getLong(3) == 30L)
  }

  test(".tbl round-trip preserves values and schema") {
    val path = tmp("roundtrip.tbl")
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", -2.0)).toDF("k", "s", "v")
    TblReader.write(df, path)
    val back = TblReader.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq(("k", IntegerType), ("s", StringType), ("v", DoubleType)))
    assert(back.orderBy("k").collect().toSeq ==
      Seq(Row(1, "a", 1.5), Row(2, "b", -2.0)))
  }

  test("csv+meta read honors side-car schema and empty-string nulls") {
    val path = tmp("t.csv")
    Files.writeString(java.nio.file.Paths.get(path), "1,x,2.5\n2,,\n")
    Files.writeString(java.nio.file.Paths.get(s"$path.json"),
      """{"columns": [
        |  {"name": "id", "type": "int", "nullable": false},
        |  {"name": "s", "type": "string", "nullable": true},
        |  {"name": "v", "type": "double", "nullable": true}
        |]}""".stripMargin)
    val df = CsvMeta.read(spark, path)
    assert(df.schema.map(_.dataType) == Seq(IntegerType, StringType, DoubleType))
    val rows = df.orderBy("id").collect()
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("csv+meta round-trip") {
    val path = tmp("rt.csv")
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    CsvMeta.write(df, path)
    val back = CsvMeta.read(spark, path)
    assert(back.orderBy("id").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
  }
}
