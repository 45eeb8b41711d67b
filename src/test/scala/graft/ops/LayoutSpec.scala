package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.tsne.SparkTestBase

/** Z-order layout: key math against a bit-twiddling reference, and NULL
  * handling of the appended key. */
class LayoutSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private lazy val s = spark

  /** Reference Morton interleave on the driver (bit-by-bit, independent
    * of the mask-and-shift ladder under test). */
  private def mortonRef(b1: Long, b2: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits) {
      z |= ((b2 >> i) & 1L) << (2 * i)
      z |= ((b1 >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  behavior of "Layout.zorderKey"

  it should "match a bit-by-bit reference interleave" in {
    import s.implicits._
    val rnd = new scala.util.Random(9)
    val pairs = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(40)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = pairs.toDF("b1", "b2")
      .withColumn("z", Layout.zorderKey(col("b1"), col("b2"), 16))
    df.collect().foreach { r =>
      r.getLong(2) shouldBe mortonRef(r.getLong(0), r.getLong(1), 16)
    }
  }

  it should "bucket exactly by integer math with degenerate ranges at 0" in {
    import s.implicits._
    val df = Seq((0L, 0L, 99L), (99L, 0L, 99L), (50L, 0L, 99L),
      (7L, 7L, 7L)).toDF("v", "mn", "mx")
      .withColumn("b",
        Layout.fixedWidthBucket(col("v"), col("mn"), col("mx"), 4))
    val got = df.collect().map(_.getLong(3))
    // (v-mn)*16 div (99-0+1) — and mn=mx → 0
    got shouldBe Array(0L, 15L, 8L, 0L)
  }

  behavior of "Layout.withZorderKey"

  it should "keep NULL keys out of the finite buckets but in the output" in {
    import s.implicits._
    val df = Seq((Some(1L), 1L), (None, 2L), (Some(3L), 3L))
      .toDF("c1", "c2")
    val keyed = Layout.withZorderKey(df, "c1", "c2")
    keyed.count() shouldBe 3L
    keyed.where(col("c1").isNull).select("zkey")
      .collect().head.isNullAt(0) shouldBe true
  }
}
