package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The token `n`-gram shingle — the one definition every shingle consumer
  * reads — as ONE native expression: the [[Md5Prefix60]] hash of each
  * window of `n` consecutive tokens, joined with single spaces, in order.
  * Tokens are the non-empty pieces of `split(text, '\\s+')` (Java `\s`:
  * space, tab, newline, vertical tab, form feed, carriage return; not
  * NBSP). Null text or fewer than `n` tokens gives an empty array, never
  * null.
  *
  * Value-identical to the composed spelling
  * `transform(sequence(0, size(t) - n), i -> md5_prefix60(concat_ws(' ',
  * t[i], …, t[i + n - 1])))` over `t = filter(split(text, '\\s+'), x ->
  * length(x) > 0)`, which Spark runs interpreted (`ArrayTransform` is
  * `CodegenFallback`) and which allocates a string per token and per
  * window. Here the text is encoded once; a window whose tokens are
  * separated by single spaces is hashed in place. */
case class TokenGramHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "token_gram_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName argument must be string, got ${other.simpleString}")
    }

  override def eval(input: InternalRow): Any =
    TokenGramHashes.hashArray(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.expressions.TokenGramHashes.hashArray(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenGramHashes =
    copy(child = newChild)
}

object TokenGramHashes {

  /** [[hashes]] as an array value (called from generated code). */
  def hashArray(text: UTF8String, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(hashes(text, n))

  /** The hashes of `text`'s token `n`-grams, in order. Decoding to a Java
    * string first keeps malformed UTF-8 decoded exactly as `split` does. */
  def hashes(text: UTF8String, n: Int): Array[Long] =
    if (text == null) Array.emptyLongArray else hashes(text.toString, n)

  def hashes(text: String, n: Int): Array[Long] = {
    // every `\s` character is ASCII and every byte of a multi-byte UTF-8
    // sequence is not, so the tokens of the encoded bytes are the
    // encodings of the tokens
    val bytes = text.getBytes(UTF_8)
    val start = new scala.collection.mutable.ArrayBuilder.ofInt
    val end = new scala.collection.mutable.ArrayBuilder.ofInt
    var p = 0
    while (p < bytes.length) {
      while (p < bytes.length && isSpace(bytes(p))) p += 1
      if (p < bytes.length) {
        start += p
        while (p < bytes.length && !isSpace(bytes(p))) p += 1
        end += p
      }
    }
    val (s, e) = (start.result(), end.result())
    if (s.length < n) return Array.emptyLongArray
    // wide(k): tokens k and k + 1 are not separated by exactly one space;
    // a window with no wide gap inside is one slice of `bytes`
    val wide = new Array[Int](s.length + 1)
    for (k <- 0 until s.length - 1)
      wide(k + 1) = wide(k) + (if (s(k + 1) - e(k) == 1 && bytes(e(k)) == ' ') 0 else 1)
    var buf = Array.emptyByteArray
    Array.tabulate(s.length - n + 1) { i =>
      if (n <= 0) Md5Prefix60.hashBytes(bytes, 0, 0)
      else if (wide(i + n - 1) == wide(i))
        Md5Prefix60.hashBytes(bytes, s(i), e(i + n - 1) - s(i))
      else {
        var len = 0
        for (k <- i until i + n) {
          val w = e(k) - s(k)
          if (buf.length < len + w + 1) buf = java.util.Arrays.copyOf(buf, 2 * (len + w + 1))
          if (k > i) { buf(len) = ' '; len += 1 }
          System.arraycopy(bytes, s(k), buf, len, w)
          len += w
        }
        Md5Prefix60.hashBytes(buf, 0, len)
      }
    }
  }

  /** Java regex `\s`: space, tab, newline, vertical tab, form feed,
    * carriage return (bytes 32 and 9–13). */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')
}
