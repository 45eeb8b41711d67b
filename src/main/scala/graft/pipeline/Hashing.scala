package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The pipeline's one shared hash: the first 60 bits of md5, as a
  * non-negative BIGINT. Chosen because every engine can compute it
  * identically — Spark `conv(substr(md5(x), 1, 15), 16, 10)`, DuckDB
  * `('0x' || substr(md5(x), 1, 15))::BIGINT`, plain JVM `MessageDigest` —
  * which is what makes MinHash/SimHash/fingerprint results hash-comparable
  * across the DuckDB oracle boundary. 15 hex chars = 60 bits, so the value
  * is always positive in a signed 64-bit integer. */
object Hashing {

  val Bits = 60

  /** Column form — a native codegen expression computing the long
    * straight from the digest bytes. Value-identical to the previous
    * composed spelling `conv(substring(md5(c), 1, 15), 16, 10)` (pinned
    * by `HashingSpec`), which allocated and re-parsed two hex strings
    * per call — the dominant per-hash cost on shingle/token-dense
    * operators. */
  def hash60(c: Column): Column = {
    import org.apache.spark.sql.{graftglue => glue}
    glue.column(graft.expressions.Md5Prefix60(glue.expression(c)))
  }

  /** The [[hash60]]s of `text`'s token `n`-grams, in order — the one
    * shingle definition ([[graft.expressions.TokenGramHashes]]) as a
    * Column: empty under `n` tokens and for null text. */
  def tokenGramHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.{graftglue => glue}
    glue.column(graft.expressions.TokenGramHashes(glue.expression(text), n))
  }

  /** JVM form, bit-identical to [[hash60]]. */
  def hash60(s: String): Long = hash60(s.getBytes("UTF-8"))

  /** JVM form over raw bytes (for binary/multimodal payloads).
    * The first 15 HEX CHARS of the digest are numerically the first 8
    * bytes read big-endian, dropped one nibble — computed directly
    * (the earlier per-byte format-string hex spelling dominated the
    * profile of hash-heavy JVM paths like the stub decoder at ~10× the
    * digest's own cost). `HashingSpec` pins equality with the string
    * spelling the engines use. */
  def hash60(bytes: Array[Byte]): Long = {
    val d = localDigest.get()
    d.reset()
    val h = d.digest(bytes)
    (((h(0) & 0xFFL) << 56) | ((h(1) & 0xFFL) << 48) |
      ((h(2) & 0xFFL) << 40) | ((h(3) & 0xFFL) << 32) |
      ((h(4) & 0xFFL) << 24) | ((h(5) & 0xFFL) << 16) |
      ((h(6) & 0xFFL) << 8) | (h(7) & 0xFFL)) >>> 4
  }

  /** Lowercase 32-char hex md5 of raw bytes — the JVM spelling of SQL
    * `md5(x)` (Spark and DuckDB both emit lowercase hex), for chained
    * hashing schemes like the stub decoder's digest-once-then-mix. */
  def md5Hex(bytes: Array[Byte]): String = {
    val d = localDigest.get()
    d.reset()
    val h = d.digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((h(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(h(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  private val localDigest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
}
