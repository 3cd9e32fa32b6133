package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Reader/writer for the reference's `.bin` table interchange format
  * (reference: src/lib/import_export/binary/binary_parser.cpp,
  * binary_writer.cpp). Layout (little-endian):
  *
  *   header:  chunk_size u32 | chunk_count u32 | column_count u16
  *          | column type names (string array) | nullable flags (u8 array)
  *          | column names (string array)
  *   string array: lengths u64 × n, then concatenated UTF-8 bytes
  *   chunk:   row_count u32 | sorted_column_count u32
  *          | {column_id u16, sort_mode u8} × sorted_column_count
  *          | one segment per column
  *   segment: encoding u8 — 0 Unencoded | 1 Dictionary | 2 RunLength
  *          | 3 FixedStringDictionary | 4 FrameOfReference | 5 LZ4
  *     Unencoded (nullable col): seg_nullable u8 [+ null flags u8 × rows]
  *                               then values (strings as string array)
  *     Dictionary: vector_type u8 (0 bit-packed, 1/2/3 fixed-width 1/2/4B)
  *                 | dict_size u32 | dictionary values | attribute vector;
  *                 value id == dict_size ⇒ NULL
  *     RunLength: run_count u32 | run values | run null flags
  *                | inclusive end positions u32 × run_count
  *
  *     FixedStringDictionary: vector_type u8 | dict_size u32
  *                 | string_length u32 | string_length × dict_size raw chars
  *                 (zero-padded) | attribute vector; id == dict_size ⇒ NULL
  *     FrameOfReference (int32): vector_type u8 | block_count u32
  *                 | block minima i32 × block_count | nulls_stored u8
  *                 [+ null flags] | offset vector; value = minima(i/2048)+off(i)
  *     attribute/offset vectors: vector_type 0 = bit_width u8 then u64
  *                 words, values packed LSB-first; 1/2/3 = u8/u16/u32 × rows
  *     LZ4: num_elements u32 | block_count u32 | block_size u32
  *                 | last_block_size u32 | per-block compressed sizes u32
  *                 | blocks | null_count u32 [+ null flags] | dict_size u32
  *                 | zstd-trained dict | string_offsets_size u32
  *                 [+ bit-packed string offsets]; blocks decompress
  *                 independently with the dict as match history ([[Lz4Block]])
  *
  * Import supports ALL SIX segment encodings (cross-read against the
  * reference's own golden fixtures in BinFormatSpec where that tree is
  * present, and always against hand-built fixtures of this layout under
  * src/test/resources/bin-layout). Export
  * always writes Unencoded, the format's canonical interchange encoding
  * (reference: binary_writer.cpp writes the segment's current encoding; any
  * conforming parser accepts Unencoded). This is a FIXTURE interchange path —
  * KB-scale golden files, read driver-side like TblReader; parquet remains the
  * at-scale storage format. */
object BinFormat {

  private val typeNames: Map[DataType, String] = Map(
    StringType -> "string", IntegerType -> "int", LongType -> "long",
    FloatType -> "float", DoubleType -> "double")
  private val namesToType: Map[String, DataType] = typeNames.map(_.swap)

  // ------------------------------------------------------------------ read

  def read(spark: SparkSession, path: String): DataFrame = {
    val (schema, rows) = parse(Files.readAllBytes(Paths.get(path)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Single-file decode. */
  private[sources] def parse(bytes: Array[Byte]): (StructType, Array[Row]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u8(): Int = buf.get() & 0xff
    def u16(): Int = buf.getShort() & 0xffff
    def u32(): Long = buf.getInt() & 0xffffffffL
    def u64(): Long = buf.getLong()
    def strings(n: Int): Seq[String] = {
      val lens = (0 until n).map(_ => u64().toInt)
      lens.map { l => val a = new Array[Byte](l); buf.get(a); new String(a, "UTF-8") }
    }
    def bools(n: Int): Seq[Boolean] = (0 until n).map(_ => u8() != 0)
    def typed(t: DataType): Any = t match {
      case IntegerType => buf.getInt()
      case LongType => buf.getLong()
      case FloatType => buf.getFloat()
      case DoubleType => buf.getDouble()
      case _ => sys.error("typed() not used for strings")
    }
    def typedValues(t: DataType, n: Int): Seq[Any] =
      if (t == StringType) strings(n) else (0 until n).map(_ => typed(t))

    val _chunkSize = u32()
    val chunkCount = u32().toInt
    val columnCount = u16()
    val types = strings(columnCount).map(tn =>
      namesToType.getOrElse(tn, sys.error(s"unknown .bin type: $tn")))
    val nullables = bools(columnCount)
    val names = strings(columnCount)
    val schema = StructType(names.zip(types).zip(nullables).map {
      case ((n, t), nl) => StructField(n, t, nl)
    })

    // Compressed attribute/offset vector (reference: binary_parser.cpp
    // _import_attribute_vector / _import_offset_value_vector): type id 0 =
    // bit-packed compact vector (width u8, u64 words LSB-first), 1/2/3 =
    // fixed-width 1/2/4-byte integers.
    def bitPacked(n: Int): IndexedSeq[Int] = {
      val width = u8()
      val words = new Array[Long](((n.toLong * width + 63) / 64).toInt)
      words.indices.foreach(i => words(i) = buf.getLong())
      (0 until n).map { i =>
        val bit = i.toLong * width
        val w = (bit / 64).toInt
        val off = (bit % 64).toInt
        val lo = words(w) >>> off
        val v = if (off + width <= 64) lo
          else lo | (words(w + 1) << (64 - off))
        (v & ((1L << width) - 1)).toInt
      }
    }
    def idVector(vectorType: Int, n: Int): IndexedSeq[Int] = vectorType match {
      case 0 => bitPacked(n)
      case 1 => (0 until n).map(_ => u8())
      case 2 => (0 until n).map(_ => u16())
      case 3 => (0 until n).map(_ => u32().toInt)
      case other => sys.error(s"unknown compressed vector type: $other")
    }

    def readSegment(t: DataType, nullable: Boolean, rows: Int): Seq[Any] = u8() match {
      case 0 => // Unencoded
        val nulls: Seq[Boolean] =
          if (nullable && u8() != 0) bools(rows) else Seq.fill(rows)(false)
        val vals = typedValues(t, rows)
        vals.zip(nulls).map { case (v, isNull) => if (isNull) null else v }
      case 1 => // Dictionary
        val vectorType = u8()
        val dictSize = u32().toInt
        val dict = typedValues(t, dictSize)
        idVector(vectorType, rows).map(id => if (id == dictSize) null else dict(id))
      case 2 => // RunLength
        val runs = u32().toInt
        val vals = typedValues(t, runs)
        val nulls = bools(runs)
        val ends = (0 until runs).map(_ => u32().toInt)
        val out = new Array[Any](rows)
        var pos = 0
        (0 until runs).foreach { r =>
          while (pos <= ends(r) && pos < rows) { out(pos) = if (nulls(r)) null else vals(r); pos += 1 }
        }
        out.toSeq
      case 3 => // FixedStringDictionary (reference: binary_parser.cpp:223)
        require(t == StringType, s"FixedStringDictionary on non-string column: $t")
        val vectorType = u8()
        val dictSize = u32().toInt
        // fixed string vector: string_length u32, then string_length × n raw
        // chars, each value zero-padded (binary_parser.cpp:339)
        val strLen = u32().toInt
        val dict = (0 until dictSize).map { _ =>
          val a = new Array[Byte](strLen); buf.get(a)
          var n = a.length
          while (n > 0 && a(n - 1) == 0) n -= 1
          new String(a, 0, n, "UTF-8")
        }
        idVector(vectorType, rows).map(id => if (id == dictSize) null else dict(id))
      case 4 => // FrameOfReference (reference: binary_parser.cpp:245; int32 only)
        require(t == IntegerType, s"FrameOfReference on non-int column: $t")
        val vectorType = u8()
        val blockCount = u32().toInt
        val minima = (0 until blockCount).map(_ => buf.getInt())
        val nulls: Seq[Boolean] = if (u8() != 0) bools(rows) else Seq.fill(rows)(false)
        val offsets = idVector(vectorType, rows)
        // value(i) = block_minima(i / 2048) + offset(i); BLOCK_SIZE = 2048
        // (reference: frame_of_reference_segment.hpp:49)
        (0 until rows).map(i => if (nulls(i)) null else minima(i / 2048) + offsets(i))
      case 5 => // LZ4 (reference: binary_parser.cpp:263, lz4_segment.cpp decompress)
        val _numElements = u32().toInt
        val blockCount = u32().toInt
        val blockSize = u32().toInt
        val lastBlockSize = u32().toInt
        val blockSizes = (0 until blockCount).map(_ => u32().toInt)
        val blocks = blockSizes.map { sz => val a = new Array[Byte](sz); buf.get(a); a }
        val nullCount = u32().toInt
        val nulls: Seq[Boolean] = if (nullCount != 0) bools(nullCount) else Seq.fill(rows)(false)
        val dictSize = u32().toInt
        val dict = { val a = new Array[Byte](dictSize); buf.get(a); a }
        val offsetsSize = u32().toInt
        val offsets: Option[IndexedSeq[Int]] =
          if (offsetsSize > 0) Some(bitPacked(rows)) else None
        // blocks decompress independently; a nonempty dictionary (zstd-trained
        // by the encoder) preloads the match window, exactly
        // LZ4_decompress_safe_usingDict (lz4_segment.cpp:217)
        val total = if (blockCount == 0) 0 else (blockCount - 1) * blockSize + lastBlockSize
        val bytes = new Array[Byte](total)
        blocks.zipWithIndex.foreach { case (blk, i) =>
          val dlen = if (i + 1 == blockCount) lastBlockSize else blockSize
          val dec = Lz4Block.decompress(blk, dlen, dict)
          System.arraycopy(dec, 0, bytes, i * blockSize, dlen)
        }
        if (t == StringType) {
          if (blockCount == 0) Seq.fill(rows)("") // all-empty-strings segment
          else {
            val off = offsets.getOrElse(sys.error("LZ4 string segment without offsets"))
            (0 until rows).map { i =>
              if (nulls(i)) null
              else {
                val s = off(i)
                val e = if (i + 1 == rows) total else off(i + 1)
                new String(bytes, s, e - s, "UTF-8")
              }
            }
          }
        } else {
          val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          (0 until rows).map { i =>
            val v = t match {
              case IntegerType => bb.getInt()
              case LongType => bb.getLong()
              case FloatType => bb.getFloat()
              case DoubleType => bb.getDouble()
              case other => sys.error(s"LZ4 segment type: $other")
            }
            if (nulls(i)) null else v
          }
        }
      case other =>
        throw new UnsupportedOperationException(s"unknown .bin encoding: $other")
    }

    val rows = (0 until chunkCount).flatMap { _ =>
      val rowCount = u32().toInt
      val sortedCols = u32().toInt
      (0 until sortedCols).foreach { _ => u16(); u8() } // sort metadata: skipped
      val cols = types.zip(nullables).map { case (t, nl) => readSegment(t, nl, rowCount) }
      (0 until rowCount).map(i => Row.fromSeq(cols.map(_(i))))
    }
    (schema, rows.toArray)
  }

  // ----------------------------------------------------------------- write

  /** Export as a single Unencoded chunk (fixture-scale: collects driver-side
    * like TblReader.write; never the at-scale export path). */
  def write(df: DataFrame, path: String): Unit =
    Files.write(Paths.get(path), serialize(df.schema, df.collect()))

  /** Single-chunk encode. */
  private[sources] def serialize(schema: StructType, rows: Array[Row]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val b8 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b8.clear(); b8.putShort(v.toShort); out.write(b8.array(), 0, 2) }
    def u32(v: Long): Unit = { b8.clear(); b8.putInt(v.toInt); out.write(b8.array(), 0, 4) }
    def u64(v: Long): Unit = { b8.clear(); b8.putLong(v); out.write(b8.array(), 0, 8) }
    def strings(vs: Seq[String]): Unit = {
      val bytes = vs.map(_.getBytes("UTF-8"))
      bytes.foreach(a => u64(a.length.toLong))
      bytes.foreach(out.write)
    }
    def typed(t: DataType, v: Any): Unit = t match {
      case IntegerType => u32(v.asInstanceOf[Int].toLong)
      case LongType => u64(v.asInstanceOf[Long])
      case FloatType => { b8.clear(); b8.putFloat(v.asInstanceOf[Float]); out.write(b8.array(), 0, 4) }
      case DoubleType => { b8.clear(); b8.putDouble(v.asInstanceOf[Double]); out.write(b8.array(), 0, 8) }
      case _ => sys.error("typed() not used for strings")
    }

    u32(math.max(rows.length, 1).toLong) // chunk_size
    u32(1L)                              // chunk_count
    u16(schema.length)
    strings(schema.fields.map(f => typeNames.getOrElse(f.dataType,
      sys.error(s"unsupported .bin export type: ${f.dataType.simpleString}"))).toSeq)
    schema.fields.foreach(f => u8(if (f.nullable) 1 else 0))
    strings(schema.fields.map(_.name).toSeq)

    u32(rows.length.toLong) // row_count
    u32(0L)                 // no sorted columns
    schema.fields.zipWithIndex.foreach { case (f, ci) =>
      u8(0) // Unencoded
      val nulls = rows.map(_.isNullAt(ci))
      if (f.nullable) {
        val any = nulls.exists(identity)
        u8(if (any) 1 else 0)
        if (any) nulls.foreach(n => u8(if (n) 1 else 0))
      }
      if (f.dataType == StringType)
        strings(rows.zip(nulls).map { case (r, n) => if (n) "" else r.getString(ci) }.toSeq)
      else rows.zip(nulls).foreach { case (r, n) =>
        typed(f.dataType, if (n) zeroOf(f.dataType) else r.get(ci))
      }
    }
    out.toByteArray
  }

  private def zeroOf(t: DataType): Any = t match {
    case IntegerType => 0
    case LongType => 0L
    case FloatType => 0f
    case DoubleType => 0d
    case _ => ""
  }
}
