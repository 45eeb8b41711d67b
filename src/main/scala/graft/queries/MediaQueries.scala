package graft
package queries

import org.apache.spark.sql.functions._

/** Binary sources: image, audio and video signatures and the container
  * probes (MP4, EXIF, ZIP, tar, PDF, MIME). */
object MediaQueries {

  /** Deterministic smooth grayscale test scene for `q_phash_invariance`
    * (the spec's sine-pattern generator with doc_id-derived frequencies
    * and phase instead of a Random), encoded through the REAL ImageIO
    * codec as `fmt` (\"png\" lossless / \"jpg\" lossy). Smooth gradients
    * are the regime dHash is designed for — its re-encode invariance
    * contract holds there, not on per-pixel noise. */
  private def synthImageBytes(id: Long, fmt: String, brighten: Int)
      : Array[Byte] = {
    val (w, h) = (64, 48)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val fx = 1 + (id % 3).toInt
    val fy = 1 + ((id / 3) % 3).toInt
    val phase = (id % 7).toDouble / 7.0 * math.Pi * 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = 127.5 + 110.0 * math.sin(
          phase + fx * math.Pi * x / w + fy * math.Pi * y / h)
        val c = math.max(0, math.min(255, v.toInt + brighten))
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  val specs: Seq[QuerySpec] = Seq(
    // EXIF probe (round 12): real JPEG marker walk + real TIFF IFD walk
    // over synthesized-but-conforming Exif segments in BOTH byte orders
    // (II and MM), with an out-of-line ASCII Make value and a no-Exif
    // residue the walk must classify as absence, not error; the oracle
    // predicts every field closed form
    QuerySpec("q_exif_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val payload =
            if (id % 11 == 10)
              // a JPEG with a COM segment but no APP1: exercises the
              // marker walk's skip-by-declared-length path
              Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
                0xFE.toByte, 0, 4, 'a'.toByte, 'b'.toByte,
                0xFF.toByte, 0xD9.toByte)
            else pipeline.Multimodal.buildExifJpeg(
              64 + (id % 32).toInt, 48 + (id % 16).toInt,
              1 + (id % 8).toInt, "Cam" + (id % 5),
              bigEndian = id % 2 == 0,
              // sub-IFDs (round 13): DateTimeOriginal one pointer
              // behind 0x8769, d°m's'' GPS rationals behind 0x8825 —
              // each with its own absence residue
              dateTimeOriginal = if (id % 3 != 1)
                Some(f"2026:03:${1 + id % 28}%02d 10:00:00") else None,
              gps = if (id % 4 != 2)
                Some((if (id % 2 == 0) "N" else "S", (id % 90).toInt,
                  (id % 60).toInt, (id % 6000).toInt,
                  if (id % 3 == 0) "E" else "W", (id % 180).toInt,
                  ((id + 7) % 60).toInt, ((id * 3) % 6000).toInt))
              else None)
          (id, payload)
        }
      }.toDF("id", "payload")
      pipeline.Multimodal.exifProbe(mm)
        .select(col("id").as("doc_id"),
          col("exif_found").cast("long").as("exif_found"),
          col("big_endian").cast("long").as("big_endian"),
          col("width"), col("height"), col("orientation"), col("make"),
          col("date_original"),
          col("has_gps").cast("long").as("has_gps"),
          col("gps_lat_cs"), col("gps_lon_cs"))
        .orderBy("doc_id")
    }, oracle =
      // every EXIF field closed form; the no-Exif residue zeroes them,
      // date/GPS have their OWN absence residues (id%3=1 / id%4=2); GPS
      // in signed centiarcseconds = sign·((deg·3600 + min·60)·100 + cs)
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 1 END AS BIGINT) AS exif_found,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0
        |                 WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS big_endian,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 64 + doc_id % 32 END AS BIGINT) AS width,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 48 + doc_id % 16 END AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 1 + doc_id % 8 END AS BIGINT) AS orientation,
        |       CASE WHEN doc_id % 11 = 10 THEN '' ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
        |       CASE WHEN doc_id % 11 = 10 OR doc_id % 3 = 1 THEN ''
        |            ELSE '2026:03:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |                 || ' 10:00:00' END AS date_original,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE 1 END AS BIGINT) AS has_gps,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
        |                      ((doc_id % 90) * 360000 + (doc_id % 60) * 6000
        |                       + doc_id % 6000) END AS BIGINT) AS gps_lat_cs,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END) *
        |                      ((doc_id % 180) * 360000 + ((doc_id + 7) % 60) * 6000
        |                       + (doc_id * 3) % 6000) END AS BIGINT) AS gps_lon_cs
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ZIP listing probe (round 12): archives from the REAL JDK encoder
    // (STORED members, so sizes are closed-form), walked by OUR
    // central-directory arithmetic — EOCD from the tail, entries by
    // declared lengths; the manifest that shards an archive into
    // member-tasks without inflating anything
    QuerySpec("q_zip_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      // residue id%9==7 (round 13): the SAME members in a ZIP64 archive
      // (sentinel EOCD + locator + 0x0001 extras — the >4 GiB/>65k-member
      // form) — the listing must come out identical, so the closed-form
      // oracle pins the whole ZIP64 resolution path with zero new rows
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val names = (0 to (id % 4).toInt)
            .map(j => (s"f$j.txt", f"c$id%07d-$j".getBytes("UTF-8")))
          if (id % 9 == 7) (id, sources.Archive.buildZip64(names))
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val zos = new java.util.zip.ZipOutputStream(bos)
            names.foreach { case (name, bytes) =>
              val e = new java.util.zip.ZipEntry(name)
              e.setMethod(java.util.zip.ZipEntry.STORED)
              e.setSize(bytes.length)
              val crc = new java.util.zip.CRC32(); crc.update(bytes)
              e.setCrc(crc.getValue)
              zos.putNextEntry(e); zos.write(bytes); zos.closeEntry()
            }
            zos.close()
            (id, bos.toByteArray)
          }
        }
      }.toDF("id", "payload")
      sources.Archive.zipProbe(mm)
        .select(col("id").as("doc_id"), col("member"), col("name"),
          col("method"), col("compressed_size"), col("uncompressed_size"))
        .orderBy("doc_id", "member")
    }, oracle =
      // STORED members make every size closed form; names/counts from the
      // residue plan
      """SELECT doc_id, CAST(j AS BIGINT) AS member,
        |       'f' || CAST(j AS VARCHAR) || '.txt' AS name,
        |       CAST(0 AS BIGINT) AS method,
        |       CAST(10 AS BIGINT) AS compressed_size,
        |       CAST(10 AS BIGINT) AS uncompressed_size
        |FROM (SELECT doc_id,
        |        unnest(range(0, CAST(doc_id % 4 AS INTEGER) + 1)) AS j
        |      FROM documents)
        |ORDER BY doc_id, member""".stripMargin),

    // TAR listing probe (round 13): ustar streams walked by 512-byte
    // block arithmetic — octal size fields, verified checksums, data
    // skipped by declared length; residue id%7==3 uses >100-byte member
    // paths, so the listing only comes out right if the pax `x`
    // extended-header `path` override is honored (the truncated ustar
    // name field would mismatch the closed-form oracle)
    QuerySpec("q_tar_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val pax = id % 7 == 3
          val names = (0 to (id % 4).toInt).map { j =>
            val name =
              if (pax) "deep" + "/sub" * 30 + s"/f$j.txt"
              else s"f$j.txt"
            (name, f"c$id%07d-$j".getBytes("UTF-8"))
          }
          (id, sources.Archive.buildTar(names))
        }
      }.toDF("id", "payload")
      sources.Archive.tarProbe(mm)
        .select(col("id").as("doc_id"), col("member"), col("name"),
          col("typeflag"), col("size"), col("data_offset"))
        .orderBy("doc_id", "member")
    }, oracle =
      // 512-byte block arithmetic closed form: a plain entry is
      // header+one data block (1024 B), a pax'd entry is pax-header +
      // pax-record block + real header + data block (2048 B); data_offset
      // points just past the member's real header; the pax arm's name is
      // the full >100-byte path only the `x`-record override can produce
      """SELECT doc_id, CAST(j AS BIGINT) AS member,
        |       CASE WHEN doc_id % 7 = 3
        |            THEN 'deep' || repeat('/sub', 30) || '/f' ||
        |                 CAST(j AS VARCHAR) || '.txt'
        |            ELSE 'f' || CAST(j AS VARCHAR) || '.txt' END AS name,
        |       '0' AS typeflag,
        |       CAST(10 AS BIGINT) AS size,
        |       CAST(CASE WHEN doc_id % 7 = 3 THEN j * 2048 + 1536
        |                 ELSE j * 1024 + 512 END AS BIGINT) AS data_offset
        |FROM (SELECT doc_id,
        |        unnest(range(0, CAST(doc_id % 4 AS INTEGER) + 1)) AS j
        |      FROM documents)
        |ORDER BY doc_id, member""".stripMargin),

    // PDF structure probe (round 12, +xref-stream arm round 13):
    // build→walk round-trip through the classic xref machinery — header
    // version, tail-first startxref, 20-byte-entry census arithmetic,
    // offset-resolved trailer /Root → catalog /Pages → /Count — plus a
    // 1.5 cross-reference-STREAM residue class (k % 5 == 2) the probe
    // must DETECT (census from the plain-text /Size) and route to the
    // decode seam (page_count −1) instead of failing; every field
    // predicted closed form
    QuerySpec("q_pdf_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val pages = 1 + (id % 9).toInt
          val pdf =
            if (id % 5 == 2) sources.Pdf.buildXrefStreamPdf(pages)
            else sources.Pdf.buildPdf(pages,
              if (id % 3 == 0) "1.4" else "1.7")
          (id, pdf)
        }
      }.toDF("id", "payload")
      sources.Pdf.pdfProbe(mm)
        .select(col("id").as("doc_id"), col("version"), col("kind"),
          col("n_objects"), col("page_count"))
        .orderBy("doc_id")
    }, oracle =
      // census = pages + catalog + page tree + free object 0 (classic),
      // +1 for the xref stream object itself in the stream arm (whose
      // page_count is -1: compressed table → decode-seam routing)
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 2 THEN '1.5'
        |            WHEN doc_id % 3 = 0 THEN '1.4' ELSE '1.7' END AS version,
        |       CASE WHEN doc_id % 5 = 2 THEN 'xref-stream'
        |            ELSE 'xref-table' END AS kind,
        |       CAST(CASE WHEN doc_id % 5 = 2 THEN 5 + doc_id % 9
        |                 ELSE 4 + doc_id % 9 END AS BIGINT) AS n_objects,
        |       CAST(CASE WHEN doc_id % 5 = 2 THEN -1
        |                 ELSE 1 + doc_id % 9 END AS BIGINT) AS page_count
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MIME email probe (round 13): mail archives as a corpus source —
    // RFC 5322 headers, multipart/alternative split on the declared
    // boundary, and BOTH 7-bit transfer codings decoded as pure Column
    // work: base64 via unbase64, quoted-printable via byte-level hex
    // reassembly (the € in the plain part crosses as =E2=82=AC — three
    // BYTES — and the builder's 40-char soft line breaks land mid-word,
    // so a code-point-wise or unfold-less decode corrupts every row);
    // the oracle predicts the DECODED text closed form, no MIME anywhere
    QuerySpec("q_mime_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mail = ids.mapPartitions { it =>
        it.map { id =>
          val k = id % 127
          (id, sources.Mime.buildEml(
            s"billing${k % 5}@example.com", s"Invoice $k", s"bnd${k % 7}",
            s"Total: 42.50 € = order $k net",
            s"<p>Order $k — detail</p>"))
        }
      }.toDF("doc_id", "payload")
      sources.Mime.mimeParts(mail)
        .select(col("doc_id"), col("part").cast("long").as("part"),
          col("part_type"), col("cte"), col("text"), col("from_addr"),
          col("subject"))
        .orderBy("doc_id", "part")
    }, oracle =
      // decoded part text predicted closed form — the oracle never sees
      // MIME, base64, or quoted-printable; a decode slip in either
      // coding (or a boundary/framing slip) lands as a text mismatch
      """WITH k AS (SELECT doc_id, doc_id % 127 AS k FROM documents),
        |p AS (SELECT doc_id, k, unnest([0, 1]) AS j FROM k)
        |SELECT doc_id, CAST(j AS BIGINT) AS part,
        |       CASE j WHEN 0 THEN 'text/plain' ELSE 'text/html' END AS part_type,
        |       CASE j WHEN 0 THEN 'quoted-printable' ELSE 'base64' END AS cte,
        |       CASE j WHEN 0
        |         THEN 'Total: 42.50 € = order ' || CAST(k AS VARCHAR) || ' net'
        |         ELSE '<p>Order ' || CAST(k AS VARCHAR) || ' — detail</p>'
        |       END AS text,
        |       'billing' || CAST(k % 5 AS VARCHAR) || '@example.com' AS from_addr,
        |       'Invoice ' || CAST(k AS VARCHAR) AS subject
        |FROM p ORDER BY doc_id, part""".stripMargin),

    // multimodal plumbing: binary payloads + stub decode + frame samples
    QuerySpec("q_multimodal_features", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the oracle samples characters (substr/ascii) where Spark samples
      // payload BYTES at byte offsets — only equivalent while every
      // document is ASCII. The guard is part of the hash-checked output
      // (ascii_ok, mirrored in the oracle SQL) instead of an eager
      // pre-scan, so the check costs no extra job and a non-ASCII fixture
      // fails the CORRECTNESS hash loudly.
      val asciiOk = docs.select(col("doc_id").as("id"),
        (octet_length(col("text")) === length(col("text"))).cast("long").as("ascii_ok"))
      val mm = pipeline.Multimodal.fromDocuments(docs)
      val feats = pipeline.Multimodal.decodeFeatures(mm, featureDim = 4)
        .select(col("id") +: (0 until 4).map(m =>
          round(col("features")(m), 9).as(s"f${m}_r")): _*)
      val samples = pipeline.Multimodal.frameSample(mm, n = 4)
        .select((col("id") :: col("byte_len") :: (0 until 4).map(i =>
          col("samples")(i).as(s"s$i")).toList): _*)
      feats.join(samples, "id").join(asciiOk, "id").orderBy("id")
    }, oracle =
      """SELECT doc_id AS id,
        |  ROUND((('0x' || substr(md5(md5(text) || '#0'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f0_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#1'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f1_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#2'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f2_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#3'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f3_r,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 0 / 4) AS INT) + 1, 1)) AS BIGINT) AS s0,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 1 / 4) AS INT) + 1, 1)) AS BIGINT) AS s1,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 2 / 4) AS INT) + 1, 1)) AS BIGINT) AS s2,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 3 / 4) AS INT) + 1, 1)) AS BIGINT) AS s3,
        |  CAST(strlen(text) = length(text) AS BIGINT) AS ascii_ok
        |FROM documents ORDER BY id""".stripMargin),

    // JPEG re-encode invariance as a DRIVER row (the contract
    // MultimodalPhashSpec pins in specs, machine-checked per scale):
    // each doc renders a deterministic smooth grayscale scene seeded by
    // doc_id, encoded once as lossless PNG and once as a
    // brightness-shifted lossy JPEG — both through the REAL ImageIO
    // codec; the dHash of the two encodings must land within Hamming 3.
    // The oracle is the contract itself (within = 1 for every doc) —
    // the flag is earned by real codec work, the gate-row pattern of
    // q_ann_sq's recall floor.
    QuerySpec("q_phash_invariance", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      // ONE pass: the two encodings ride as two rows (kind bit in the
      // id) through a single decode+hash, then pair up in one map-side-
      // combinable aggregate — the two-branch spelling re-ran the
      // synthesis+encode per branch and paid a join (r11: 7.6 s → the
      // minimum 2 encodes + 2 decodes per doc)
      val mm = ids.flatMap { id => Seq(
          (id * 2, synthImageBytes(id, "png", brighten = 0)),
          (id * 2 + 1, synthImageBytes(id, "jpg", brighten = 10)))
        }.toDF("id", "payload")
        .select(col("id"), lit("image").as("modality"), col("payload"),
          struct(octet_length(col("payload")).cast("long").as("byte_len"),
            lit("synth").as("source")).as("meta"))
      val dec = pipeline.Multimodal.decodeImageLumaGridFor(11, 6) _
      pipeline.Multimodal.perceptualHashes(mm, 11, 6, dec)
        .groupBy(shiftright(col("id"), 1).as("doc_id"))
        .agg(max(when(col("id") % 2 === 0, col("phash"))).as("h1"),
          max(when(col("id") % 2 === 1, col("phash"))).as("h2"))
        .select(col("doc_id"),
          (call_function("bit_count", col("h1").bitwiseXOR(col("h2"))) <= 3)
            .cast("long").as("within"))
        .orderBy("doc_id")
    }, oracle =
      // the invariance CONTRACT is the oracle: every doc's PNG and
      // brightness-shifted JPEG encodings must dHash within Hamming 3 —
      // the flag on the Spark side is earned by real ImageIO decode work
      """SELECT doc_id, CAST(1 AS BIGINT) AS within
        |FROM documents ORDER BY doc_id""".stripMargin),

    // perceptual image hashing (dHash) through the multimodal decode
    // seam: stub decoder so the DuckDB oracle replays decode + bit-pack
    // exactly; the REAL ImageIO path and the banded Hamming near-dup
    // blocking are pinned in MultimodalPhashSpec on synthesized PNGs
    QuerySpec("q_phash", (s, dir) => {
      pipeline.Multimodal.perceptualHashes(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id")
    }, oracle =
      // the dHash replayed from scratch: stub features
      // v(k) = hash60(md5hex(text)‖'#'‖k)/2^60 on a 6-row × 11-col grid, bit
      // r·10+c set iff v(r,c) > v(r,c+1) — identical double division and
      // strict comparison on both engines
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 65) t(k)),
        |p AS (
        |  SELECT l.doc_id, ((l.k // 11) * 10 + (l.k % 11)) AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.k % 11 < 10 AND l.v > r.v)
        |SELECT d.doc_id AS id,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS phash
        |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY id""".stripMargin),

    // envelope-gradient audio signatures (perceptual hashing's audio
    // analog, gain-invariant by construction): stub decoder so the
    // oracle replays decode + bit-pack exactly; the REAL WAV codec path
    // and the banded near-dup blocking are pinned in MultimodalPhashSpec
    QuerySpec("q_audio_sig", (s, dir) => {
      pipeline.Multimodal.audioSignatures(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id")
    }, oracle =
      // identical stub-feature replay, temporal gradient: bit k iff
      // env(k) > env(k+1) over 61 bins
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 60) t(k)),
        |p AS (
        |  SELECT l.doc_id, l.k AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.v > r.v)
        |SELECT d.doc_id AS id,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS asig
        |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY id""".stripMargin),

    // per-frame video fingerprints (frame-sampled dHash, 4 frames × 56
    // bits): stub decoder so the oracle replays decode + bit-pack exactly;
    // the real animated-GIF path + the per-frame banded near-dup vote are
    // pinned in MultimodalPhashSpec
    QuerySpec("q_video_sig", (s, dir) => {
      pipeline.Multimodal.videoSignatures(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id", "frame")
    }, oracle =
      // per-frame replay: feature index k = frame*64 + r*8 + c; horizontal
      // gradient bits r*7+c for c < 7, one signature row per (doc, frame)
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 255) t(k)),
        |p AS (
        |  SELECT l.doc_id, l.k // 64 AS frame,
        |         ((l.k % 64) // 8) * 7 + (l.k % 8) AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.k % 8 < 7 AND l.v > r.v),
        |fr AS (SELECT doc_id, unnest(range(4)) AS frame FROM documents)
        |SELECT fr.doc_id AS id, CAST(fr.frame AS BIGINT) AS frame,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS fsig
        |FROM fr LEFT JOIN p ON p.doc_id = fr.doc_id AND p.frame = fr.frame
        |GROUP BY 1, 2 ORDER BY id, frame""".stripMargin),

    // MP4 container probe end-to-end: per doc a synthetic ISO BMFF file
    // is assembled (3..7 samples of md5-derived ASCII bytes split into 2
    // chunks), the REAL box-walk parser locates the strided samples, and
    // the extracted bytes are emitted. The oracle predicts every value in
    // CLOSED FORM — no parsing — so a mis-walked offset (wrong chunk run,
    // wrong size sum) surfaces as a hash mismatch on the extracted text.
    QuerySpec("q_mp4_probe", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val n = 3 + (id % 5).toInt
          val samples = (0 until n).map { k =>
            val len = 5 + ((k + id) % 7).toInt
            pipeline.Hashing.md5Hex(s"$id#$k".getBytes("UTF-8"))
              .substring(0, len).getBytes("ISO-8859-1")
          }
          val c1 = (n + 1) / 2
          (id, pipeline.Multimodal.buildMp4(samples, Seq(c1, n - c1))._1)
        }
      }.toDF("id", "payload")
      pipeline.Multimodal.mp4FrameProbe(mm, nFrames = 4)
        .select(col("id").as("doc_id"), col("frame"), col("sample_index"),
          col("sample_bytes").cast("string").as("sample_text"))
        .orderBy("doc_id", "frame")
    }, oracle =
      // closed-form replay of the synthetic sample table: n = 3 + id%5
      // samples, probe index floor(n·f/4), sample k's text = the first
      // 5 + (k+id)%7 chars of md5(id‖'#'‖k) — no box parsing anywhere,
      // so the Spark side's parser is checked against independent math
      """SELECT doc_id, f AS frame,
        |       ((3 + doc_id % 5) * f) // 4 AS sample_index,
        |       substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
        |                  CAST(((3 + doc_id % 5) * f) // 4 AS VARCHAR)),
        |              1,
        |              CAST(5 + (((3 + doc_id % 5) * f) // 4 + doc_id) % 7 AS INT))
        |         AS sample_text
        |FROM documents CROSS JOIN generate_series(0, 3) t(f)
        |ORDER BY doc_id, frame""".stripMargin)
  )
}
