package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Driver-built, broadcast-probed Bloom filter over 60-bit hashes — the
  * scale seam for set-membership prefilters whose probe set outgrows a
  * broadcast HASH table but whose *bits* still fit everywhere: a billion
  * benchmark n-grams are ~30 GB as a broadcast join table but ~2 GB as
  * 16-bit-per-key Bloom words, and the probe is a handful of codegen'd
  * array/bit ops — no UDF, no shuffle, no join node.
  *
  * Correct use is always PREFILTER + exact verify: membership may
  * false-positive (never false-negative), so a consumer joins the
  * surviving rows against the exact set afterwards — by then the row
  * volume is `fp·N + true hits`, so even a SHUFFLED verify join moves
  * almost nothing ([[TextOps.decontaminateBloom]] is the worked example).
  *
  * Probing uses classic double hashing on a power-of-two table:
  * `g_i = (h1 + i·h2) & (m-1)` with `h1` = low bits of the 60-bit key
  * hash, `h2` = high bits forced odd (odd step ⇒ the probe sequence
  * walks distinct slots of a power-of-two table). The JVM insert path
  * and the Column probe path compute the identical `g_i` — a paired
  * property spec pins no-false-negatives and the fp-rate ballpark.
  */
object Bloom {

  /** `words` is the bit table (m = 64·words.length, power of two),
    * `k` the probe count. */
  final case class BloomBits(words: Array[Long], k: Int) {
    def m: Long = words.length.toLong * 64L
  }

  private def nextPow2(x: Long): Long = {
    var p = 64L // floor: one word
    while (p < x) p <<= 1
    p
  }

  /** Build from the exact key-hash set (e.g. distinct benchmark shingle
    * hashes — driver-bounded by definition of a benchmark suite).
    * `bitsPerKey`=16 with `k`=4 gives fp ≈ 0.24%. */
  def build(hashes: Array[Long], bitsPerKey: Int = 16, k: Int = 4): BloomBits = {
    require(bitsPerKey >= 1 && k >= 1)
    val m = nextPow2(math.max(64L, hashes.length.toLong * bitsPerKey))
    val words = new Array[Long]((m / 64L).toInt)
    val mask = m - 1L
    hashes.foreach { h =>
      val h1 = h & mask
      val h2 = (h >>> 20) | 1L
      var i = 0
      while (i < k) {
        val g = (h1 + i.toLong * h2) & mask
        words((g >>> 6).toInt) |= (1L << (g & 63L))
        i += 1
      }
    }
    BloomBits(words, k)
  }

  /** Membership probe as a pure Column over a 60-bit hash column — the
    * words array rides the plan as ONE array literal (ships with the
    * serialized plan to every task, like a broadcast variable), each
    * probe is an `element_at` + `getbit`, all codegen'd. NULL hashes
    * probe as NULL (the usual SQL three-valued filter drop). */
  def mightContain(bits: BloomBits, h: Column): Column = {
    val mask = lit(bits.m - 1L)
    val wordsCol = typedLit(bits.words.toSeq)
    val h1 = h.bitwiseAND(mask)
    val h2 = shiftrightunsigned(h, 20).bitwiseOR(lit(1L))
    (0 until bits.k).map { i =>
      val g = (h1 + lit(i.toLong) * h2).bitwiseAND(mask)
      getbit(element_at(wordsCol, (shiftrightunsigned(g, 6) + lit(1L)).cast("int")),
        g.bitwiseAND(lit(63L)).cast("int")) === lit(1)
    }.reduce(_ && _)
  }
}
