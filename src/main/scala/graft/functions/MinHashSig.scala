package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the h-member MinHash signature of a
  * (normalized) text — bitwise-equal to the h HOF columns
  * `array_min(transform(split(s, ' '), w -> md5(concat('i:', w))))`,
  * i = 0..h-1, returned as one `array<string>` (NULL for NULL input).
  *
  * Why a custom Expression: Spark runs higher-order functions as
  * CodegenFallback, so the HOF formulation ran the whole signature
  * projection interpreted, outside whole-stage codegen, and split the
  * text once per member (and again per member under the band explode).
  * This splits once, hashes every (member, token) pair with one reused
  * MessageDigest, keeps the running minima as raw digests, and hex
  * encodes only the h winners.
  *
  * Semantics: tokens split on the byte 0x20 with empty tokens kept,
  * as `split(s, ' ', -1)` does ("" is one empty token; a multi-byte
  * UTF-8 sequence never contains 0x20). Raw digests compare unsigned
  * lexicographically, which orders them exactly as their lowercase hex
  * strings compare. MinHashSigSpec pins this to the HOF formulation.
  */
case class MinHashSig(child: Expression, h: Int)
  extends UnaryExpression with Serializable {
  require(h > 0, s"minhash_sig needs at least one member, got $h")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[UTF8String], h)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.sig($c, $h)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  /** Static helper shared by eval and generated code. */
  def sig(s: UTF8String, h: Int): ArrayData = {
    val md = md5.get()
    val bytes = s.getBytes
    val prefixes = Array.tabulate(h)(i => s"$i:".getBytes("US-ASCII"))
    // all-0xFF: no digest sorts above it, and one equal to it is the same value
    val mins = Array.fill[Byte](16 * h)(-1)
    val d = new Array[Byte](16)
    var start = 0
    while (start <= bytes.length) {
      var end = start
      while (end < bytes.length && bytes(end) != ' ') end += 1
      var i = 0
      while (i < h) {
        md.update(prefixes(i))
        md.update(bytes, start, end - start)
        md.digest(d, 0, 16)
        if (less(d, mins, 16 * i)) System.arraycopy(d, 0, mins, 16 * i, 16)
        i += 1
      }
      start = end + 1
    }
    val out = new Array[AnyRef](h)
    var i = 0
    while (i < h) {
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        val b = mins(16 * i + j) & 0xFF
        hex(2 * j) = HEX(b >>> 4)
        hex(2 * j + 1) = HEX(b & 0xF)
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** d < mins[off, off + 16), unsigned byte order. */
  private def less(d: Array[Byte], mins: Array[Byte], off: Int): Boolean = {
    var j = 0
    while (j < 16) {
      val a = d(j) & 0xFF
      val b = mins(off + j) & 0xFF
      if (a != b) return a < b
      j += 1
    }
    false
  }
}
