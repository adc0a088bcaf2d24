package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The md5 of every `k`-token gram of a text as a fixed-width key, in
  * ONE pass — element `p-1` is the digest of gram `p` as two longs, the
  * same 128 bits as
  *
  * {{{
  *   unhex(md5(array_join(slice(split(text, ' '), p, k), ' ')))
  * }}}
  *
  * (hi = bytes 0–7, lo = bytes 8–15, big-endian): a bijection of the
  * 32-char hex key, so any grouping by it is unchanged.
  *
  * Tokens are `split(text, ' ')` with empties kept, so gram `p` joined
  * by ' ' is exactly a byte range of the text's UTF-8 (a 0x20 byte is
  * always a space: multi-byte sequences have the high bit set). Each
  * gram is hashed straight from that range — no token array, joined
  * string or hex string. Fewer than `k` tokens → empty array.
  *
  * CodegenFallback is fine: one eval per DOCUMENT; hashing dominates.
  */
case class GramKeys(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"gram_keys: k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(Md5Longs.KeyType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gram_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    // token i spans [starts(i), starts(i+1) - 1); the sentinel after the
    // last token keeps that formula valid for it too
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') n += 1; i += 1 }
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](n + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(n) = bytes.length + 1
    val out = new Array[Any](n - k + 1)
    var p = 0
    while (p < out.length) {
      out(p) = Md5Longs.key(bytes, starts(p), starts(p + k) - 1 - starts(p))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** md5 of a whole string as the same two-long key as [[GramKeys]]:
  * `struct(hi, lo)` of `unhex(md5(s))`.
  */
case class Md5Key(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = Md5Longs.KeyType
  override def nullable: Boolean = true
  override def prettyName: String = "md5_key"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    Md5Longs.key(bytes, 0, bytes.length)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one digest-to-longs core: md5 of a byte range as a
  * `struct<hi: long, lo: long>` row.
  */
object Md5Longs {
  val KeyType: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  // shared across tasks in one JVM → digest state must be per-thread
  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))
  private val bufLocal =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16))

  @inline private def long8(d: Array[Byte], from: Int): Long = {
    var v = 0L
    var i = from
    while (i < from + 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  def key(bytes: Array[Byte], off: Int, len: Int): InternalRow = {
    val md = mdLocal.get()
    val d = bufLocal.get()
    md.reset()
    md.update(bytes, off, len)
    md.digest(d, 0, 16)
    InternalRow(long8(d, 0), long8(d, 8))
  }
}

object GramKeyFunctions {
  def gram_keys(text: Column, k: Int): Column =
    GraftSqlBridge.column(GramKeys(GraftSqlBridge.expression(text), k))

  def md5_key(s: Column): Column =
    GraftSqlBridge.column(Md5Key(GraftSqlBridge.expression(s)))
}
