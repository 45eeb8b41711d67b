package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The repo's shared 60-bit hash — the first 60 bits of md5 as a
  * non-negative BIGINT — as ONE native expression.
  *
  * Value-identical to the composed SQL spelling
  * `conv(substring(md5(x), 1, 15), 16, 10)` (the first 15 hex chars of a
  * digest ARE its first 8 bytes big-endian, dropped one nibble —
  * `HashingSpec` pins the equality), but the composed form allocates a
  * 32-char hex string, a 15-char substring, and then PARSES it back in
  * base 16, per call — three string allocations for a number the digest
  * already held. This expression computes the long straight from the
  * digest bytes: one `MessageDigest` (thread-local, reused), zero
  * intermediate strings. On hash-dense operators (shingles hash every
  * n-gram of the corpus; SimHash/fingerprints/splits hash per row or per
  * token) the composed spelling's string round-trip was the dominant
  * per-hash cost.
  *
  * Accepts string or binary input (strings hash their UTF-8 bytes,
  * exactly like SQL `md5` over an implicit string→binary cast). */
case class Md5Prefix60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_prefix60 argument must be string or binary, got ${other.simpleString}")
    }
  override protected def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => Md5Prefix60.hashUtf8(s)
    case b: Array[Byte] => Md5Prefix60.hashBytes(b)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev,
          c => s"graft.expressions.Md5Prefix60.hashUtf8($c)")
      case _ =>
        defineCodeGen(ctx, ev,
          c => s"graft.expressions.Md5Prefix60.hashBytes($c)")
    }
  override protected def withNewChildInternal(newChild: Expression)
      : Md5Prefix60 = copy(child = newChild)
  override def prettyName: String = "md5_prefix60"
}

object Md5Prefix60 {
  private val localDigest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Static kernel (called from generated code): digest → first 8 bytes
    * big-endian >>> 4 — numerically the first 15 hex chars in base 16. */
  def hashBytes(bytes: Array[Byte]): Long = hashBytes(bytes, 0, bytes.length)

  /** [[hashBytes]] of the `len` bytes of `bytes` from `off`. */
  def hashBytes(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = localDigest.get()
    d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    (((h(0) & 0xFFL) << 56) | ((h(1) & 0xFFL) << 48) |
      ((h(2) & 0xFFL) << 40) | ((h(3) & 0xFFL) << 32) |
      ((h(4) & 0xFFL) << 24) | ((h(5) & 0xFFL) << 16) |
      ((h(6) & 0xFFL) << 8) | (h(7) & 0xFFL)) >>> 4
  }

  /** String input hashes its UTF-8 bytes (= SQL md5 over the implicit
    * string→binary cast). UTF8String.getBytes avoids a String hop. */
  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)
}
