package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Reader/writer for the reference's `.tbl` golden-file format: pipe-separated,
  * row 1 = column names, row 2 = types (`int long float double string`, suffix
  * `_null` ⇒ nullable), literal `null` ⇒ NULL (reference:
  * src/lib/utils/load_table.cpp; type row semantics in FIXTURES.md §1).
  *
  * .tbl files are hand-written unit fixtures (KBs), so the two header lines are
  * read driver-side and the body parses distributedly via the csv reader.
  */
object TblReader {

  private def parseType(t: String): (DataType, Boolean) = {
    val nullable = t.endsWith("_null")
    val base = if (nullable) t.dropRight(5) else t
    val dt = base match {
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case other => sys.error(s"unknown .tbl type: $other")
    }
    (dt, nullable)
  }

  def schemaOf(path: String): StructType = {
    val src = scala.io.Source.fromFile(path)
    val Seq(names, types) =
      try src.getLines().take(2).toSeq
      finally src.close()
    StructType(names.split('|').zip(types.split('|')).map { case (n, t) =>
      val (dt, nullable) = parseType(t.trim)
      StructField(n.trim, dt, nullable)
    })
  }

  private def parseLine(schema: StructType)(line: String): Row = {
    val parts = line.split("\\|", -1)
    Row.fromSeq(parts.zip(schema.fields.toSeq).map { case (v, f) =>
      if (v == "null" && f.nullable) null
      else f.dataType match {
        case IntegerType => v.trim.toInt
        case LongType => v.trim.toLong
        case FloatType => v.trim.toFloat
        case DoubleType => v.trim.toDouble
        case _ => v
      }
    })
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaOf(path)
    val body = spark.sparkContext.textFile(path)
      .zipWithIndex().filter(_._2 >= 2).map(_._1) // drop name + type header lines
    spark.createDataFrame(body.map(parseLine(schema)), schema)
  }

  private def typeToken(f: StructField): String = {
    val base = f.dataType match {
      case IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case other => other.simpleString
    }
    if (f.nullable) s"${base}_null" else base
  }

  /** Byte-exact single-file fixture writer (collects driver-side — KB-scale
    * golden files ONLY). */
  def write(df: DataFrame, path: String): Unit = {
    val fields = df.schema.fields
    val header = fields.map(_.name).mkString("|")
    val types = fields.map(typeToken).mkString("|")
    val rows = df.collect().map(_.toSeq.map {
      case null => "null"
      case v => v.toString
    }.mkString("|"))
    val out = (Seq(header, types) ++ rows).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out)
  }
}
