package graft.plans

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.collection.OpenHashSet

/** Native kernels of the MinHash chain (`graft.functions.TextFunctions`:
  * `tokenHashes` → `shingleKeys` → `minhashSig`). Each replaces a
  * higher-order-function formulation whose lambdas Spark interprets per
  * element (`ArrayTransform` is `CodegenFallback`), and each returns exactly
  * what that formulation returned, NULLs included, so the DuckDB twins of
  * the `*Sql` methods stay the oracle. The generated code evaluates the
  * children and hands their values to the kernel method; the loops run as
  * plain JIT-compiled Scala. */
object MinHashKernels {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(`prefix` ++ `s`): the non-negative integer that
    * `conv(substring(md5(..), 1, 15), 16, 10)` reads from the first 15 hex
    * digits. */
  private[plans] def hash60(prefix: Array[Byte], s: UTF8String): Long = {
    val md = md5.get()
    md.update(prefix)
    md.update(s.getBytes)
    val d = md.digest()
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x >>> 4
  }

  /** The first `n` values as a bigint array; `isNull` marks NULL slots when
    * `anyNull` is set. */
  private[plans] def longs(values: Array[Long], n: Int, anyNull: Boolean,
                           isNull: Array[Boolean]): ArrayData =
    if (!anyNull) UnsafeArrayData.fromPrimitiveArray(values, Platform.LONG_ARRAY_OFFSET, n, 8)
    else new GenericArrayData(Array.tabulate[Any](n)(i => if (isNull(i)) null else values(i)))
}

/** `transform(ws, w -> hash64(w, seed))`: one portable 60-bit md5 hash per
  * string element; a NULL element hashes to NULL. */
case class Hash60Array(child: Expression, seed: String) extends UnaryExpression {
  private val prefix = s"$seed:".getBytes("UTF-8")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_hash60_array"

  def kernel(ws: ArrayData): ArrayData = {
    val n = ws.numElements()
    val out = new Array[Long](n)
    val isNull = new Array[Boolean](n)
    var anyNull = false
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) { isNull(i) = true; anyNull = true }
      else out(i) = MinHashKernels.hash60(prefix, ws.getUTF8String(i))
      i += 1
    }
    MinHashKernels.longs(out, n, anyNull, isNull)
  }

  override def nullSafeEval(ws: Any): Any = kernel(ws.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hash60s", this)
    defineCodeGen(ctx, ev, ws => s"$self.kernel($ws)")
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60Array =
    copy(child = newChild)
}

/** Distinct word n-gram keys from token hashes `th`, in first-occurrence
  * order: each n-gram packs two polynomial lanes mod `modulus` (multipliers
  * `mult1`, `mult2`) as `lane1 · 2^31 + lane2`. A window holding a NULL hash
  * gives one NULL key. When `th` is NULL or shorter than `n`, the result is
  * the single whole-text key: the 60-bit hash of the non-NULL tokens `ws`
  * joined by spaces. */
case class PolyShingleKeys(left: Expression, right: Expression, n: Int,
                           mult1: Long, mult2: Long, modulus: Long, seed: String)
    extends BinaryExpression {
  require(n >= 1, s"n-gram width must be positive, got $n")
  private val prefix = s"$seed:".getBytes("UTF-8")
  private val space = UTF8String.fromString(" ")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingle_keys"

  private def windowHasNull(th: ArrayData, i: Int): Boolean = {
    var o = 0
    while (o < n && !th.isNullAt(i + o)) o += 1
    o < n
  }

  private def lane(th: ArrayData, i: Int, mult: Long): Long = {
    var acc = 0L
    var o = 0
    while (o < n) { acc = (acc * mult + th.getLong(i + o) % modulus) % modulus; o += 1 }
    acc
  }

  def kernel(ws: ArrayData, th: ArrayData): ArrayData =
    if (th == null || th.numElements() < n) {
      // concat_ws: NULL tokens are skipped, a NULL array joins to ''
      val text = if (ws == null) UTF8String.EMPTY_UTF8 else UTF8String.concatWs(space,
        (0 until ws.numElements()).map(i => if (ws.isNullAt(i)) null else ws.getUTF8String(i)): _*)
      UnsafeArrayData.fromPrimitiveArray(Array(MinHashKernels.hash60(prefix, text)))
    } else {
      val m = th.numElements() - n + 1
      val out = new Array[Long](m)
      val isNull = new Array[Boolean](m)
      val seen = new OpenHashSet[Long](m)
      var sawNull = false
      var j = 0
      var i = 0
      while (i < m) {
        if (windowHasNull(th, i)) {
          if (!sawNull) { sawNull = true; isNull(j) = true; j += 1 }
        } else {
          val key = lane(th, i, mult1) * 2147483648L + lane(th, i, mult2)
          if (!seen.contains(key)) { seen.add(key); out(j) = key; j += 1 }
        }
        i += 1
      }
      MinHashKernels.longs(out, j, sawNull, isNull)
    }

  override def eval(input: InternalRow): Any =
    kernel(left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleKeys", this)
    val (ws, th) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""
      ${ws.code}
      ${th.code}
      ArrayData ${ev.value} = $self.kernel(
        ${ws.isNull} ? null : ${ws.value}, ${th.isNull} ? null : ${th.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PolyShingleKeys =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature of the shingle-key array `child`: for each family
  * `(a, b)`, the minimum of `((h % modulus) · a + b) % modulus` over the
  * non-NULL keys `h` (NULL when there is none), as one array — the `k`
  * signature values come from one pass over the keys. */
case class MinHashSignature(child: Expression, families: Seq[(Long, Long)], modulus: Long)
    extends UnaryExpression {
  private val (as, bs) = (families.map(_._1).toArray, families.map(_._2).toArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"
  override def toString: String = s"$prettyName($child, k=${families.size})"

  def kernel(hsg: ArrayData): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < hsg.numElements()) {
      if (!hsg.isNullAt(i)) {
        any = true
        val h = hsg.getLong(i) % modulus
        var f = 0
        while (f < k) {
          val v = (h * as(f) + bs(f)) % modulus
          if (v < mins(f)) mins(f) = v
          f += 1
        }
      }
      i += 1
    }
    MinHashKernels.longs(mins, k, !any, Array.fill(k)(true))
  }

  override def nullSafeEval(hsg: Any): Any = kernel(hsg.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhash", this)
    defineCodeGen(ctx, ev, hsg => s"$self.kernel($hsg)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
