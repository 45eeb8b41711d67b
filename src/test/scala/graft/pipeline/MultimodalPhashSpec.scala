package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.tsne.SparkTestBase

/** Perceptual-hash image dedup through the REAL ImageIO codec: dHash must
  * be invariant under re-encode + brightness shift + resize (the
  * transformations that defeat byte-level dedup), distinguish unrelated
  * images, and the banded Hamming blocking must be lossless vs the
  * brute-force pair set. */
class MultimodalPhashSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private def png(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A deterministic smooth-gradient test image — smooth so that small
    * brightness perturbations don't flip gradient-direction bits. */
  private def smoothImage(w: Int, h: Int, seed: Int,
                          brighten: Int = 0): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(seed)
    val fx = 1 + rnd.nextInt(3); val fy = 1 + rnd.nextInt(3)
    val phase = rnd.nextDouble() * math.Pi * 2
    for (y <- 0 until h; x <- 0 until w) {
      val v = 127.5 + 110.0 * math.sin(
        phase + fx * math.Pi * x / w + fy * math.Pi * y / h)
      val c = math.max(0, math.min(255, v.toInt + brighten))
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    img
  }

  private def mmTable(rows: Seq[(Long, Array[Byte])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "payload")
      .select(col("id"), lit("image").as("modality"), col("payload"),
        struct(octet_length(col("payload")).cast("long").as("byte_len"),
          lit("test").as("source")).as("meta"))
  }

  private val decoder = Multimodal.decodeImageLumaGridFor(11, 6) _

  behavior of "Multimodal.perceptualHashes (ImageIO path)"

  it should "survive re-encode size change and brightness shift, and separate unrelated images" in {
    val base = smoothImage(64, 48, seed = 1)
    val bright = smoothImage(64, 48, seed = 1, brighten = 12)
    // same scene re-rendered at a different resolution = a resize
    val resized = smoothImage(96, 72, seed = 1)
    val other = smoothImage(64, 48, seed = 9)
    val mm = mmTable(Seq(1L -> png(base), 2L -> png(bright),
      3L -> png(resized), 4L -> png(other)))
    val h = Multimodal.perceptualHashes(mm, 11, 6, decoder)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(h(1L), h(2L)) should be <= 3
    ham(h(1L), h(3L)) should be <= 3
    ham(h(1L), h(4L)) should be > 10
  }

  it should "find exactly the perturbed copies via banded blocking, losslessly" in {
    // 12 distinct scenes; scenes 0..3 get a perturbed twin
    val imgs = (0 until 12).map(i => (i.toLong, png(smoothImage(64, 48, 100 + i)))) ++
      (0 until 4).map(i => (100L + i, png(smoothImage(96, 72, 100 + i, brighten = 10))))
    val mm = mmTable(imgs)
    val got = Multimodal.imageNearDups(mm, maxHamming = 3, 11, 6, decoder)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth over the full hash table
    val h = Multimodal.perceptualHashes(mm, 11, 6, decoder)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, hi) <- h; (j, hj) <- h
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 3
    } yield (i, j)).toSet
    got shouldBe brute
    // and the planted twins are all in it
    (0 until 4).foreach(i => got should contain((i.toLong, 100L + i)))
  }

  it should "be deterministic across partitionings" in {
    val imgs = (0 until 8).map(i => (i.toLong, png(smoothImage(48, 32, 7 * i))))
    val a = Multimodal.perceptualHashes(mmTable(imgs), 11, 6, decoder)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Multimodal.perceptualHashes(mmTable(imgs).repartition(5), 11, 6, decoder)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    b shouldBe a
  }

  it should "reject a non-image payload loudly" in {
    val mm = mmTable(Seq(1L -> "not an image".getBytes("UTF-8")))
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.perceptualHashes(mm, 11, 6, decoder).collect()
    }
    ex.getMessage should include("not an image")
  }

  // --- audio analog: envelope-gradient signatures + banded blocking ---

  private def wav(samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      bytes(2 * i) = (v & 0xFF).toByte
      bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(bytes), fmt,
        samples.length.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Segment-amplitude-modulated square wave with EVEN sample values, so
    * a 2× gain cut is exact integer arithmetic and the RMS envelope
    * halves exactly (power-of-two scaling commutes with IEEE rounding). */
  private def audio(seed: Int, nSeg: Int = 61, perSeg: Int = 40,
                    gainShift: Int = 0): Array[Short] = {
    val rnd = new scala.util.Random(seed)
    val amps = Array.fill(nSeg)(((2000 + rnd.nextInt(14000)) * 2) >> gainShift)
    Array.tabulate(nSeg * perSeg) { i =>
      val a = amps(i / perSeg)
      (if (i % 2 == 0) a else -a).toShort
    }
  }

  behavior of "Multimodal.audioSignatures (javax.sound path)"

  it should "be exactly gain-invariant on the real WAV codec and separate unrelated audio" in {
    val rows = Seq(
      1L -> wav(audio(5)),
      2L -> wav(audio(5, gainShift = 1)), // the same audio at half gain
      3L -> wav(audio(9)))                // unrelated audio
    val sigs = Multimodal.audioSignatures(mmTable(rows), 61,
        Multimodal.decodeWavWaveform)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(2L) shouldBe sigs(1L) // bit-identical, not merely close
    java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) should be > 10
  }
}
