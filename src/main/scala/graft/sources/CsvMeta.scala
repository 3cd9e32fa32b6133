package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CSV with a JSON side-car schema, the reference's CSV interchange format:
  * `<file>.csv` + `<file>.csv.json` holding `{"columns":[{"name","type",
  * "nullable"}], "config":{...}}` (reference: src/lib/import_export/csv/
  * csv_meta.hpp:16,48-51). Nothing is inferred — exactly like the reference.
  *
  * The side-car is parsed with Spark's own JSON reader (single small file);
  * the CSV body loads through the standard distributed csv source.
  */
object CsvMeta {

  private def toSparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case other => sys.error(s"unknown csv-meta type: $other")
  }

  private def toMetaType(t: DataType): String = t match {
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case other => sys.error(s"unsupported csv-meta type: ${other.simpleString}")
  }

  def schemaOf(spark: SparkSession, csvPath: String): StructType = {
    val meta = spark.read.option("multiLine", true).json(s"$csvPath.json")
    val cols = meta.selectExpr("explode(columns) AS c")
      .selectExpr("c.name", "c.type", "c.nullable").collect()
    StructType(cols.map(r =>
      StructField(r.getString(0), toSparkType(r.getString(1)), r.getBoolean(2))))
  }

  def read(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("sep", ",")
      .option("nullValue", "")
      .schema(schemaOf(spark, csvPath))
      .csv(csvPath)

  /** Write a single csv file + json meta (fixture-scale counterpart of Export,
    * reference: src/lib/operators/export.hpp:24). */
  def write(df: DataFrame, csvPath: String): Unit = {
    val fields = df.schema.fields
    val body = df.collect().map(_.toSeq.map {
      case null => ""
      case v => v.toString
    }.mkString(",")).mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csvPath),
      if (body.isEmpty) "" else body + "\n")
    val colsJson = fields.map(f =>
      s"""{"name": "${f.name}", "type": "${toMetaType(f.dataType)}", "nullable": ${f.nullable}}""")
      .mkString("[", ", ", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$csvPath.json"),
      s"""{"columns": $colsJson}""")
  }
}
