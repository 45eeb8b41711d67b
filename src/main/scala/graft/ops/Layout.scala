package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning: the z-order (Morton)
  * key over two columns. The 100 TB motivation: a table laid out by ONE
  * column prunes file scans on that column only; interleaving the bucket
  * bits of two columns keeps per-file bounding boxes tight on BOTH, so
  * predicates on either column (or both) skip most files — the
  * Delta/Iceberg `OPTIMIZE ZORDER BY` shape, a range partitioning over
  * this computed key.
  *
  * Everything is integer arithmetic on longs (fixed-width bucketing from
  * a broadcast 1-row extrema aggregate, then the classic mask-and-shift
  * bit spread), so the key is codegen-friendly, deterministic, and
  * exactly recomputable by the DuckDB oracle — no sampling, unlike
  * RangePartitioner-based spellings.
  *
  * Cites the reference's z-order use for 1-D locality in projectKnn
  * (`/root/reference/src/main/scala/.../ZOrder.scala`); this operator is
  * the table-layout generalization the reference does not have.
  */
object Layout {

  /** Fixed-width bucket id in [0, 2^bits) for `v` over the closed range
    * [mn, mx]: `(v - mn) * 2^bits div (mx - mn + 1)` — pure integer
    * math (`div` is true integral division, never Spark's DOUBLE
    * `Column./`), exact on both engines. Degenerate range (mn = mx) maps
    * to bucket 0.
    *
    * Supported range: `mx - mn < 2^(62-bits)` (2^46 at the default
    * bits=16), so the long multiply `(v - mn) * 2^bits` cannot overflow;
    * a wider range raises a runtime error from inside the plan instead
    * of silently wrapping to off-by-one buckets. Skewed or wider-range
    * columns: feed a rank instead of the raw value — that also fixes the
    * pruning-power loss from skewed buckets. */
  def fixedWidthBucket(v: Column, mn: Column, mx: Column, bits: Int): Column = {
    val maxRange = (1L << (62 - bits)) - 1L
    when(mx - mn > lit(maxRange),
      raise_error(concat(
        lit(s"fixedWidthBucket: column range exceeds 2^${62 - bits} - 1 " +
          s"at bits=$bits (range="),
        (mx - mn).cast("string"),
        lit("); rank-transform the column first"))).cast("long"))
      .otherwise(when(mx === mn, lit(0L)).otherwise(
        intDiv((v - mn) * lit(1L << bits), mx - mn + lit(1L))))
  }

  /** Exact integer division as Columns — Spark's `div` operator
    * (IntegralDivide) rather than `Column./`, which is always DOUBLE
    * division and loses exactness past 2^53. */
  private def intDiv(a: Column, d: Column): Column =
    call_function("div", a, d)

  /** Spread the low `bits` bits of a long so consecutive bits land two
    * apart (Morton spread), via the classic mask-and-shift ladder —
    * a fixed chain of codegen'd bitwise ops, no UDF. Supports bits ≤ 16
    * (two 16-bit dimensions fill a 32-bit key). */
  def mortonSpread(c: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1, 16], got $bits")
    val x0 = c.bitwiseAND(lit((1L << bits) - 1L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** The interleaved z-key of two bucket ids (`b1` gets the odd/high
    * bits): `spread(b1)·2 + spread(b2)`. */
  def zorderKey(b1: Column, b2: Column, bits: Int): Column =
    shiftleft(mortonSpread(b1, bits), 1)
      .bitwiseOR(mortonSpread(b2, bits))

  /** Append the z-key over (`c1`, `c2`) as column `zkey`: per-column
    * extrema from ONE 1-row aggregate broadcast back, fixed-width
    * buckets, interleave. Map-side except the 1-row aggregate. NULL in
    * either column → NULL key (sorts together at the range end). */
  def withZorderKey(df: DataFrame, c1: String, c2: String,
                    bits: Int = 16): DataFrame = {
    val ext = df.agg(min(c1).as("__mn1"), max(c1).as("__mx1"),
      min(c2).as("__mn2"), max(c2).as("__mx2"))
    df.crossJoin(broadcast(ext))
      .withColumn("zkey", zorderKey(
        fixedWidthBucket(col(c1).cast("long"), col("__mn1").cast("long"),
          col("__mx1").cast("long"), bits),
        fixedWidthBucket(col(c2).cast("long"), col("__mn2").cast("long"),
          col("__mx2").cast("long"), bits),
        bits))
      .drop("__mn1", "__mx1", "__mn2", "__mx2")
  }
}
