package graft.pipeline

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.{Messages, Outbox, Release, ReduceShare, SuperstepPartitioner}
import graft.Outbox.sortedDistinct
import graft.expressions.TokenGramHashes

/** Deduplication operators over the `documents` table — exact, n-gram
  * Jaccard, MinHash+LSH and SimHash. The four standard tiers of a
  * web-scale corpus dedup stage, each with a different cost/recall point:
  *
  *   - exact: one hash aggregation — O(N);
  *   - Jaccard similarity join: explode to (doc, shingle), self-join on
  *     shingle, count — exact pairwise scores but cost ∝ Σ df(shingle)²;
  *   - MinHash+LSH: constant-size signatures, band-bucket join — the
  *     100 TB path: no all-pairs anywhere, shuffle ∝ N·bands, and the
  *     verify step touches only bucket-collision candidates;
  *   - SimHash: one 60-bit signature per doc; near-dups differ in ≤ a few
  *     bits, found by banded exact-match blocking.
  *
  * All shingle/token hashing uses [[Hashing.hash60]], so every stage is
  * reproducible in the DuckDB oracle.
  */
object Dedup {

  // ---------------- shingling ------------------------------------------

  /** Token `n`-gram shingle table: `(doc_id, [pos,] sh_hash)`, distinct per
    * doc when positions are dropped. Docs with < n tokens produce no rows
    * (nothing to compare). Pure array expressions — one narrow projection. */
  def shingles(docs: DataFrame, n: Int = 3, keepPos: Boolean = false,
               carry: Seq[String] = Nil): DataFrame = {
    val exploded = gramHashes(docs, n, "doc_id" +: carry).select(
      col("doc_id") +: posexplode(col("g")).as(Seq("pos", "sh_hash")) +: carry.map(col): _*)
    if (keepPos) exploded
    else exploded.select("doc_id", "sh_hash").distinct()
  }

  /** `docs`' `keep` columns plus `g`: the hashes of the token `n`-grams of
    * its `text`, in order ([[TokenGramHashes]], the one definition of a
    * shingle) — empty under `n` tokens and for null text. Repartitioned
    * round-robin before the tokenize map. */
  private[pipeline] def gramHashes(docs: DataFrame, n: Int, keep: Seq[String]): DataFrame = {
    // repartition first: the tokenize+hash map is the CPU hot spot of
    // every shingle consumer, and a small-file scan would run it all on
    // one core
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(("text" +: keep).map(col): _*)
      .repartition(parallelism)
      .select(keep.map(col) :+ Hashing.tokenGramHashes(col("text"), n).as("g"): _*)
  }

  /** N-gram novelty of a candidate batch against a reference corpus: per
    * batch document, the fraction of its distinct shingles NOT present
    * anywhere in the corpus — the data-valuation / crawl-prioritization
    * signal ("is this new text or re-crawl paraphrase"), the additive
    * complement of the dedup family (dedup asks "is this a copy of ONE
    * doc"; novelty asks "how much of this exists ANYWHERE").
    *
    * Shape: two shingle tables joined by hash — a left-semi equi-join
    * co-partitioned on `sh_hash` (never an all-pairs form), then two
    * doc-keyed counts. The ratio is two integer operands under one IEEE
    * division, exact cross-engine. Batch shingles are materialized (localCheckpoint) across
    * their two consumers. Documents shorter than `n` tokens have no
    * shingles and emit no row. */
  def noveltyVsCorpus(batch: DataFrame, corpus: DataFrame,
                      n: Int = 3): DataFrame = {
    val b = shingles(batch, n).localCheckpoint()
    val corpusSh = shingles(corpus, n).select("sh_hash").distinct()
    val seen = b.join(corpusSh, Seq("sh_hash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    b.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        round((col("n_sh") - coalesce(col("n_seen"), lit(0L))).cast("double")
          / col("n_sh"), 6).as("novelty_r"))
  }

  // ---------------- exact dedup ----------------------------------------

  /** Exact dedup: canonical id = min doc_id per content hash. One hash
    * aggregation + one broadcast-friendly join back; no N² anywhere. */
  def exactCanonical(docs: DataFrame): DataFrame =
    exactCanonicalBy(docs, col("text"))

  /** [[exactCanonical]] over an arbitrary content expression — e.g.
    * `TextOps.normalizeText(col("text"))` for case/punctuation/whitespace-
    * insensitive "fuzzy-exact" dedup, or a concat of several columns for
    * composite identity. Same one-hash-aggregation shape. */
  def exactCanonicalBy(docs: DataFrame, content: org.apache.spark.sql.Column): DataFrame = {
    val hashed = docs.select(col("doc_id"), Hashing.hash60(content).as("h"))
    val canon = hashed.groupBy("h").agg(min("doc_id").as("canon_id"))
    hashed.join(canon, "h").select(col("doc_id"), col("canon_id"))
  }

  /** Incremental exact dedup — THE production dedup shape: a batch of new
    * documents filtered against an existing corpus (keep only docs whose
    * content hash is unseen). A `left_anti` join on the content hash: when
    * the corpus hash set fits the broadcast threshold it is a map-local
    * probe with zero shuffle of the new side; past it Spark plans a
    * shuffled anti join — either way nothing is ever materialized per
    * match, and at 100 TB the corpus side is one slim 8-byte-hash column,
    * not the corpus. (Intra-batch duplicates are kept — first-seen
    * semantics within a batch is [[exactCanonical]]'s job; compose both
    * for full ingest dedup.) */
  def exactIncremental(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(Hashing.hash60(col("text")).as("h")).distinct()
    newDocs.withColumn("h", Hashing.hash60(col("text")))
      .join(corpusHashes, Seq("h"), "left_anti")
      .drop("h")
  }

  // ---------------- exact n-gram Jaccard similarity join ----------------

  /** All pairs with Jaccard(shingles) ≥ θ, via the sparse similarity join:
    * self-join the (doc, shingle) table on shingle with `i < j`, count
    * intersections, look up set sizes. No cartesian product — cost is
    * Σ over shingles of df², which is near-linear when shingles are rare
    * (n-grams are). For skewed corpora, cap df first ([[withDfCap]]). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, theta: Double = 0.5): DataFrame = {
    val sh = shingles(docs, n)
    jaccardOfShingles(sh, theta)
  }

  /** Exact Jaccard from a shingle table, over all `i < j` pairs sharing a
    * shingle. */
  private[pipeline] def jaccardOfShingles(sh: DataFrame, theta: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")) // |A| per doc
    sh.as("a")
      .join(sh.as("b"), col("a.sh_hash") === col("b.sh_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("i"), col("n_sh").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n_sh").as("nj")), "j")
      .select(col("i"), col("j"),
        (col("c").cast("double") / (col("ni") + col("nj") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= theta)
  }

  /** Optional skew guard: drop shingles appearing in more than `cap` docs
    * (stopword-grams carry no dedup signal but quadratic join cost). */
  def withDfCap(sh: DataFrame, cap: Int): DataFrame = {
    val rare = sh.groupBy("sh_hash").agg(count(lit(1)).as("df"))
      .where(col("df") <= cap).select("sh_hash")
    sh.join(rare, "sh_hash")
  }

  // ---------------- MinHash + LSH --------------------------------------

  /** Seeded affine MinHash family over 31-bit shingle hashes:
    * h_k(x) = (a_k·x + b_k) mod (2³¹−1). 31-bit domain keeps a_k·x inside
    * a signed 64-bit product. */
  final case class MinHashFamily(seed: Long, numHashes: Int) {
    import MinHashFamily.{mix64, modP}
    val (as, bs) = {
      val rnd = new Random(seed)
      (Array.fill(numHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong),
        Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong))
    }
    /** Fold one shingle hash into a running signature, in place. */
    def update(s: Array[Long], h: Long): Unit = {
      val x = h & 0x7FFFFFFFL
      var k = 0
      while (k < numHashes) {
        val v = modP(as(k) * x + bs(k))
        if (v < s(k)) s(k) = v
        k += 1
      }
    }
    /** The LSH band keys of the shingle set `sh(from until until)`,
      * `numHashes / rowsPerBand` of them: key b is one 64-bit mix of (b,
      * the band's minhashes), so two sets that agree on band b share key
      * b. A mix collision can only add a candidate, which the exact verify
      * then drops. */
    def bandKeys(sh: Array[Long], from: Int, until: Int, rowsPerBand: Int): Array[Long] = {
      val s = Array.fill(numHashes)(Long.MaxValue)
      for (x <- from until until) update(s, sh(x))
      Array.tabulate(numHashes / rowsPerBand) { b =>
        var h = mix64(b.toLong)
        for (r <- 0 until rowsPerBand) h = mix64(h ^ s(b * rowsPerBand + r))
        h
      }
    }
  }

  object MinHashFamily {
    private[pipeline] final val P = 2147483647L // 2^31 − 1
    /** `t mod P` for `t ≥ 0` without a division: 2³¹ ≡ 1 (mod P), so the
      * high bits fold onto the low ones; two folds leave at most P + 3. */
    private[pipeline] def modP(t: Long): Long = {
      val y = (t & P) + (t >>> 31)
      val z = (y & P) + (y >>> 31)
      if (z >= P) z - P else z
    }
    /** The SplitMix64 finalizer, a bijection on 64 bits. */
    private def mix64(v: Long): Long = {
      val a = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
      val b = (a ^ (a >>> 27)) * 0x94D049BB133111EBL
      b ^ (b >>> 31)
    }
  }

  /** Near-duplicate pairs by MinHash + banded LSH, exact-verified:
    * `bands` bands of `rowsPerBand` minhashes each; docs colliding in any
    * band become candidates; candidates are re-scored with the *exact*
    * shingle Jaccard and filtered at θ. With r=2, b=64 the probability of
    * missing a pair at s=0.7 is (1−0.49)⁶⁴ ≈ 1e−19 — the output is the
    * exact ≥θ pair set with overwhelming probability, which is what the
    * DuckDB oracle checks. Plan: a kernel over packed blocks of primitive
    * arrays, one job. One exchange of the `(doc_id, text)` rows builds each
    * document's shingle set ([[shingleSets]], `localCheckpoint`ed); one
    * exchange of `(bkey, doc_id)` blocks gathers each band bucket, which
    * emits its `i < j` pairs; [[verify]] scores each distinct pair by a
    * sorted merge of the two sets. Every shuffle moves one block per map
    * task and reduce partition; no SQL join, no UDF, no row per shingle.
    * Eager: returns the verified `(i, j, jaccard)` pairs `localCheckpoint`ed,
    * ids in `doc_id`'s type, and releases the rest. A row with a null
    * `doc_id` or null text is ignored. */
  def minHashNearDups(docs: DataFrame, n: Int = 3, theta: Double = 0.7,
                      bands: Int = 64, rowsPerBand: Int = 2,
                      seed: Long = 42L): DataFrame = {
    val part = SuperstepPartitioner.of(docs.sparkSession)
    val fam = MinHashFamily(seed, bands * rowsPerBand)
    // read by the band keys and by both sides of the verify
    val sets = shingleSets(docs, n, part).localCheckpoint()
    val cands = bandKeyBlocks(sets, fam, rowsPerBand, part).partitionBy(part)
      .mapPartitions { ms =>
        val (keys, ids) = concat(ms)
        val buckets = group(keys, ids)
        val out = new Outbox(part)
        for (g <- buckets.keys.indices if buckets.size(g) > 1) {
          val members = buckets.distinctValues(g)
          for (b <- 1 until members.length; a <- 0 until b) out.send(members(b), members(a))
        }
        out.blocks(0L)
      }
    val pairs = verify(sets, cands, theta, part)
    Release.rdd(sets)
    pairFrame(pairs, idField(docs), docs.sparkSession)
  }

  /** One map task's texts for one reduce partition: text `k`, of document
    * `ids(k)`, is the UTF-8 bytes `off(k) until off(k + 1)` of `bytes`. */
  private final case class Texts(ids: Array[Long], off: Array[Int], bytes: Array[Byte])

  /** One partition's documents that have shingles, ids ascending: the
    * sorted distinct shingle hashes of document `ids(k)` are
    * `off(k) until off(k + 1)` of `sh`. */
  private[pipeline] final case class ShingleSets(ids: Array[Long], off: Array[Int], sh: Array[Long])

  /** `docs`' shingle sets, one [[ShingleSets]] per partition of `part`,
    * each document in the partition that owns its id: one narrow pass
    * packs the `(doc_id, text)` rows, read as the plan's rows, into one
    * [[Texts]] block per reduce partition; after one exchange each reduce
    * task hashes its texts' shingles ([[TokenGramHashes]], as [[shingles]]
    * does), and the rows of one id give the union of their shingles. Rows
    * with a null id or text are dropped; a document without shingles has
    * no entry. */
  private[pipeline] def shingleSets(docs: DataFrame, n: Int,
                                    part: SuperstepPartitioner): RDD[ShingleSets] = {
    idField(docs)
    docs.select(col("doc_id").cast("long"), col("text")).queryExecution.toRdd
      .mapPartitions { rows =>
        val ids = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
        val off = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofInt += 0)
        val bytes = Array.fill(part.numPartitions)(new java.io.ByteArrayOutputStream)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val q = part.partitionOf(r.getLong(0))
            ids(q) += r.getLong(0)
            r.getUTF8String(1).writeTo(bytes(q))
            off(q) += bytes(q).size
          }
        }
        Iterator.range(0, part.numPartitions).collect { case q if ids(q).length > 0 =>
          (ReduceShare(q), Texts(ids(q).result(), off(q).result(), bytes(q).toByteArray))
        }
      }
      .partitionBy(part)
      .mapPartitions { ts =>
        val texts = ts.map(_._2).toSeq
        val docIds = sortedDistinct(Array.concat(texts.map(_.ids): _*))
        val union = Array.fill(docIds.length)(new mutable.ArrayBuilder.ofLong)
        for (t <- texts; k <- t.ids.indices) {
          val text = UTF8String.fromBytes(t.bytes, t.off(k), t.off(k + 1) - t.off(k))
          union(java.util.Arrays.binarySearch(docIds, t.ids(k))) ++= TokenGramHashes.hashes(text, n)
        }
        val (ids, off, sh) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofInt,
          new mutable.ArrayBuilder.ofLong)
        off += 0
        for (d <- docIds.indices) {
          val set = sortedDistinct(union(d).result())
          if (set.nonEmpty) { ids += docIds(d); sh ++= set; off += sh.length }
        }
        Iterator(ShingleSets(ids.result(), off.result(), sh.result()))
      }
  }

  /** Each document's band keys ([[MinHashFamily.bandKeys]]) as `bkey →
    * doc_id` messages, routed by key. */
  private def bandKeyBlocks(sets: RDD[ShingleSets], fam: MinHashFamily, rowsPerBand: Int,
                            part: SuperstepPartitioner): RDD[(Any, Messages)] =
    sets.mapPartitions { ss =>
      val s = ss.next()
      val out = new Outbox(part)
      for (k <- s.ids.indices)
        fam.bandKeys(s.sh, s.off(k), s.off(k + 1), rowsPerBand).foreach(out.send(_, s.ids(k)))
      out.blocks(0L)
    }

  /** The keys and values of a reduce task's messages, concatenated. */
  private def concat(ms: Iterator[(Any, Messages)]): (Array[Long], Array[Long]) = {
    val blocks = ms.map(_._2).toSeq
    (Array.concat(blocks.map(_.ids): _*), Array.concat(blocks.map(_.values): _*))
  }

  /** Entries grouped by key: group `g` is key `keys(g)` (ascending) with
    * the values `off(g) until off(g + 1)` of `values`. */
  private final case class Groups(keys: Array[Long], off: Array[Int], values: Array[Long]) {
    def size(g: Int): Int = off(g + 1) - off(g)
    def distinctValues(g: Int): Array[Long] =
      sortedDistinct(java.util.Arrays.copyOfRange(values, off(g), off(g + 1)))
  }

  /** `values(e)` grouped by `keys(e)`, a counting sort. */
  private def group(keys: Array[Long], values: Array[Long]): Groups = {
    val distinct = sortedDistinct(keys.clone())
    val at = keys.map(java.util.Arrays.binarySearch(distinct, _))
    val off = new Array[Int](distinct.length + 1)
    at.foreach(g => off(g + 1) += 1)
    for (g <- distinct.indices) off(g + 1) += off(g)
    val grouped = new Array[Long](values.length)
    val fill = java.util.Arrays.copyOf(off, distinct.length)
    for (e <- at.indices) { grouped(fill(at(e))) = values(e); fill(at(e)) += 1 }
    Groups(distinct, off, grouped)
  }

  /** Candidate pairs for one reduce partition, by their greater id: `js(t)`
    * with its shingle set, `shOff(t) until shOff(t + 1)` of `sh`, and the
    * lesser ids `iOff(t) until iOff(t + 1)` of `is`, which the partition
    * owns. */
  private final case class Probes(js: Array[Long], shOff: Array[Int], sh: Array[Long],
                                  iOff: Array[Int], is: Array[Long])

  /** A map task's [[Probes]] buffers, one set per reduce partition. */
  private final class ProbeBox(part: SuperstepPartitioner) {
    private def longs = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    private def offsets = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofInt += 0)
    private val (js, sh, is) = (longs, longs, longs)
    private val (shOff, iOff) = (offsets, offsets)

    /** Sends `j`'s set, `set(from until until)`, to the owner of each id in
      * `lesser`. */
    def add(j: Long, set: Array[Long], from: Int, until: Int, lesser: Array[Long]): Unit = {
      val owner = lesser.map(part.partitionOf)
      for (q <- owner.distinct) {
        js(q) += j
        sh(q).addAll(set, from, until - from)
        shOff(q) += sh(q).length
        for (x <- lesser.indices if owner(x) == q) is(q) += lesser(x)
        iOff(q) += is(q).length
      }
    }

    def blocks: Iterator[(Any, Probes)] =
      Iterator.range(0, part.numPartitions).collect { case q if js(q).length > 0 =>
        (ReduceShare(q), Probes(js(q).result(), shOff(q).result(), sh(q).result(),
          iOff(q).result(), is(q).result()))
      }
  }

  /** A partition's verified pairs. */
  private final case class Pairs(i: Array[Long], j: Array[Long], jaccard: Array[Double])

  /** The exact Jaccard of the candidate pairs, those ≥ θ kept. `cands`
    * holds each candidate `(i, j)`, `i < j`, as the message `j → i`,
    * repeats allowed; `sets` is read twice, so the caller persists it. The
    * owner of `j` drops repeats and sends `j`'s set to the owner of `i`
    * ([[Probes]]), where `c = |si ∩ sj|` is a sorted merge and `jaccard =
    * c / (ni + nj − c)`, as [[jaccardOfShingles]]. A pair with an id that
    * has no set is dropped. Returns the pairs `localCheckpoint`ed and
    * materialized: one job. */
  private def verify(sets: RDD[ShingleSets], cands: RDD[(Any, Messages)], theta: Double,
                     part: SuperstepPartitioner): RDD[Pairs] = {
    val probes = sets.zipPartitions(cands.partitionBy(part)) { (ss, ms) =>
      val s = ss.next()
      val (js, is) = concat(ms)
      val byJ = group(js, is)
      val out = new ProbeBox(part)
      for (g <- byJ.keys.indices) {
        val k = java.util.Arrays.binarySearch(s.ids, byJ.keys(g))
        if (k >= 0) out.add(byJ.keys(g), s.sh, s.off(k), s.off(k + 1), byJ.distinctValues(g))
      }
      out.blocks
    }.partitionBy(part)
    val pairs = sets.zipPartitions(probes) { (ss, ps) =>
      val s = ss.next()
      val (is, js, jaccards) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong,
        new mutable.ArrayBuilder.ofDouble)
      ps.foreach { case (_, p) =>
        for (t <- p.js.indices; x <- p.iOff(t) until p.iOff(t + 1)) {
          val k = java.util.Arrays.binarySearch(s.ids, p.is(x))
          if (k >= 0) {
            val c = common(s.sh, s.off(k), s.off(k + 1), p.sh, p.shOff(t), p.shOff(t + 1))
            val ni = s.off(k + 1) - s.off(k)
            val nj = p.shOff(t + 1) - p.shOff(t)
            val jaccard = c.toDouble / (ni + nj - c)
            if (jaccard >= theta) { is += p.is(x); js += p.js(t); jaccards += jaccard }
          }
        }
      }
      Iterator(Pairs(is.result(), js.result(), jaccards.result()))
    }.localCheckpoint()
    pairs.count()
    pairs
  }

  /** How many values the ascending ranges `a(af until au)` and
    * `b(bf until bu)` share. */
  private def common(a: Array[Long], af: Int, au: Int, b: Array[Long], bf: Int, bu: Int): Int = {
    var x = af
    var y = bf
    var c = 0
    while (x < au && y < bu) {
      if (a(x) < b(y)) x += 1
      else if (a(x) > b(y)) y += 1
      else { c += 1; x += 1; y += 1 }
    }
    c
  }

  /** `docs`' `doc_id` field. The kernels carry ids as longs and give them
    * back in this type. */
  private def idField(docs: DataFrame): StructField = {
    val f = docs.schema("doc_id")
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"doc_id must be an integral type, got ${f.dataType.simpleString}")
    f
  }

  /** A long id as a value of `id`'s type. */
  private def idValue(id: StructField): Long => Any = id.dataType match {
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
    case _ => identity
  }

  /** The verified pairs as `(i, j, jaccard)`: `i` and `j` are fields like
    * `id`, and `jaccard` is nullable, as the join spelling gave them. */
  private def pairFrame(pairs: RDD[Pairs], id: StructField, spark: SparkSession): DataFrame = {
    val toId = idValue(id)
    val rows = pairs.flatMap(p =>
      p.i.indices.iterator.map(k => Row(toId(p.i(k)), toId(p.j(k)), p.jaccard(k))))
    spark.createDataFrame(rows, StructType(Seq(id.copy(name = "i"), id.copy(name = "j"),
      StructField("jaccard", DoubleType))))
  }

  /** The corpus's MinHash band keys `(doc_id, band, bkey)` as a standalone
    * table — the SIGNATURE STORE a production ingest pipeline persists
    * between crawls (parquet keyed by the `bigint` `bkey`): `bands` rows
    * per corpus doc with shingles, so a batch probe touches corpus text
    * only to verify the candidates LSH surfaces. Valid only for probes
    * with the same (n, bands, rowsPerBand, seed). Lazy; rows with a null
    * `doc_id` are dropped, as no probe could match them. */
  def signatureStore(docs: DataFrame, n: Int = 3, bands: Int = 64,
                     rowsPerBand: Int = 2, seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    val fam = MinHashFamily(seed, bands * rowsPerBand)
    val id = idField(docs)
    val toId = idValue(id)
    val rows = shingleSets(docs, n, SuperstepPartitioner.of(spark)).flatMap { s =>
      s.ids.indices.iterator.flatMap { k =>
        val keys = fam.bandKeys(s.sh, s.off(k), s.off(k + 1), rowsPerBand)
        keys.indices.iterator.map(b => Row(toId(s.ids(k)), b, keys(b)))
      }
    }
    spark.createDataFrame(rows, StructType(Seq(id,
      StructField("band", IntegerType, nullable = false),
      StructField("bkey", LongType, nullable = false))))
  }

  /** Incremental near-duplicate detection — the MinHash twin of
    * [[exactIncremental]]: find every (corpus doc, new doc) pair with
    * shingle Jaccard ≥ θ, WITHOUT recomputing anything corpus×corpus.
    * The new batch's band keys probe the corpus signature store
    * (`corpusStore`; omitted, the corpus's band keys are computed in this
    * call); candidates are exact-verified on shingle sets, touching corpus
    * TEXT only for candidate docs (an id semi join). Only cross pairs are
    * emitted — intra-batch near-dups are [[minHashNearDups]]'s job. Eager
    * like it, on the same set builder and [[verify]]: `(i, j, jaccard)`
    * with i < j, `localCheckpoint`ed; ids must be unique across corpus ∪
    * batch. Shuffle ∝ batch·bands + candidates — nothing scales with
    * corpus size but the store probe itself. */
  def minHashIncremental(newDocs: DataFrame, corpus: DataFrame,
                         corpusStore: Option[DataFrame] = None,
                         n: Int = 3, theta: Double = 0.7,
                         bands: Int = 64, rowsPerBand: Int = 2,
                         seed: Long = 42L): DataFrame = {
    val spark = newDocs.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val fam = MinHashFamily(seed, bands * rowsPerBand)
    val newSets = shingleSets(newDocs, n, part)
    val storeKeys = corpusStore.fold(bandKeyBlocks(shingleSets(corpus, n, part), fam, rowsPerBand, part)) {
      store =>
        store.select(col("bkey"), col("doc_id").cast("long")).na.drop().queryExecution.toRdd
          .mapPartitions { rows =>
            val out = new Outbox(part)
            rows.foreach(r => out.send(r.getLong(0), r.getLong(1)))
            out.blocks(0L)
          }
    }
    // store side × batch side: every candidate is a cross pair by
    // construction (no corpus×corpus, no batch×batch). Read twice: for the
    // candidate corpus ids and for the verify
    val cross = storeKeys.partitionBy(part)
      .zipPartitions(bandKeyBlocks(newSets, fam, rowsPerBand, part).partitionBy(part)) { (cs, bs) =>
        val (keys, cids) = concat(cs)
        val (batchKeys, nids) = concat(bs)
        val batch = group(batchKeys, nids)
        val (cand, fresh) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
        for (e <- keys.indices) {
          val g = java.util.Arrays.binarySearch(batch.keys, keys(e))
          if (g >= 0) for (x <- batch.off(g) until batch.off(g + 1) if batch.values(x) != cids(e)) {
            cand += cids(e)
            fresh += batch.values(x)
          }
        }
        Iterator(Messages(cand.result(), fresh.result(), 0L))
      }
      .localCheckpoint()
    val corpusId = idField(corpus)
    val candIds = spark.createDataset(cross.flatMap(m => sortedDistinct(m.ids.clone())))(
      Encoders.scalaLong).toDF("doc_id").select(col("doc_id").cast(corpusId.dataType))
    val candCorpus = corpus.join(candIds, Seq("doc_id"), "left_semi")
    // read by both sides of the verify
    val sets = shingleSets(newDocs.select("doc_id", "text")
      .unionByName(candCorpus.select("doc_id", "text")), n, part).localCheckpoint()
    val cands = cross.mapPartitions { ms =>
      val m = ms.next()
      val out = new Outbox(part)
      for (x <- m.ids.indices)
        out.send(math.max(m.ids(x), m.values(x)), math.min(m.ids(x), m.values(x)))
      out.blocks(0L)
    }
    val pairs = verify(sets, cands, theta, part)
    Seq(cross, sets).foreach(Release.rdd)
    val storeId = corpusStore.fold(corpusId)(_.schema("doc_id"))
    pairFrame(pairs, leastField(storeId, idField(newDocs)), spark)
  }

  /** The field `least(a, b)` of two integral id fields gives: the wider
    * type, nullable when both are. */
  private def leastField(a: StructField, b: StructField): StructField = {
    val widths = Seq(ByteType, ShortType, IntegerType, LongType)
    StructField("doc_id", widths(math.max(widths.indexOf(a.dataType), widths.indexOf(b.dataType))),
      a.nullable && b.nullable)
  }

  /** Duplicate-cluster assignment — the step a real dedup pipeline runs
    * AFTER any pair generator here (near-dup pairs are edges; keeping one
    * canonical doc per transitive group needs the connected component):
    * min-label propagation with the path-halving step of classic PRAM CC
    * (the O(log D) trick of large-star/small-star, Kiveris et al. 2014).
    * Each round every node takes the minimum label among itself and its
    * neighbors; from the third round it also chases one hop of the label
    * graph (l(v) <- min(l(v), l(l(v)))), so chain depth halves per round.
    * Converged when no label changes, after O(log diameter) rounds; the
    * 50-round cap guards only adversarial inputs, and hitting it fails.
    * One Spark job per round ([[graft.ops.Graph.components]]). Fully
    * deterministic (min is order-independent).
    *
    * `nodes`: one integral id column (every doc — singletons cluster to
    * themselves). `pairs`: two id columns; a pair with a null id is
    * ignored, and only ids in `nodes` hold or relay a label. Returns
    * `(id, cluster)` in `nodes`' id type, cluster = the component's min id.
    */
  def duplicateClusters(nodes: DataFrame, pairs: DataFrame): DataFrame =
    graft.ops.Graph.components(nodes, pairs)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over an embedding
    * corpus: k-means-cell candidate generation with exact cosine
    * verification ([[Ann.semanticNearDupPairs]]), connected components
    * over the verified pair graph ([[duplicateClusters]]), keep the
    * minimum-id document of each semantic cluster. The embedding-space
    * counterpart of [[minHashNearDups]]+clusters for text: one corpus
    * pass to train the quantizer, candidate volume ≈ probes·N²/nlist, CC
    * rounds bounded by cluster diameter. Returns (id, cluster, keep) for
    * EVERY corpus row — keep = 1 on cluster representatives (singletons
    * keep themselves). */
  def semanticDedup(corpus: org.apache.spark.sql.Dataset[graft.tsne.Point],
                    theta: Double, nlist: Int, probes: Int = 2,
                    iters: Int = 5, seed: Long = 42L): DataFrame = {
    val pairs = Ann.semanticNearDupPairs(corpus, theta, nlist, probes, iters, seed)
    duplicateClusters(corpus.toDF().select("id"), pairs.select("i", "j"))
      .select(col("id"), col("cluster"),
        (col("id") === col("cluster")).cast("long").as("keep"))
  }

  // ---------------- SimHash --------------------------------------------

  /** 60-bit SimHash signatures over (occurrence-weighted) tokens, fully
    * relational: explode tokens → hash → explode bit positions → per-bit
    * majority vote → pack. Three hash aggregations, no UDF, and byte-for-
    * byte reproducible in SQL (the oracle recomputes it). */
  def simHashes(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Hashing.hash60(col("tok")).as("h"))
    toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(Hashing.Bits - 1))).as("b"))
      .select(col("doc_id"), col("b"),
        when(expr("shiftright(h, cast(b as int)) & 1") === 1, 1)
          .otherwise(-1).as("v"))
      .groupBy("doc_id", "b").agg(sum("v").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(cast(1 as bigint), cast(b as int))"))
        .otherwise(0L)).as("simhash"))
  }

  /** Near-dup pairs by SimHash: banded exact-match blocking (split the
    * signature into `maxHamming + 1` chunks — any pair within the Hamming
    * radius must agree exactly on at least one chunk), then verify the true
    * Hamming distance. No all-pairs. */
  def simHashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val width = Hashing.Bits / chunks // 15-bit chunks for maxHamming=3
    val sigs = simHashes(docs)
    val chunkArr = array((0 until chunks).map(c =>
      shiftright(col("simhash"), c * width).bitwiseAND((1L << width) - 1)): _*)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(chunkArr).as(Seq("chunk", "ckey")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---------------- shared verbatim spans ------------------------------

  /** Span-level exact-substring dedup — pairs of docs sharing a VERBATIM
    * character run of at least `minLen` chars, the boilerplate/mirror/
    * quotation signal that token-set similarity (Jaccard, MinHash) is
    * blind to: two docs sharing one long quoted paragraph inside
    * otherwise-unrelated text score near-zero Jaccard but must be flagged
    * by a span-level pass (the exact-substring stage of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — theirs
    * via a corpus suffix array; here as a two-phase anchor/verify
    * dataflow, the shape that distributes).
    *
    * Phase 1 — anchors (winnowing, Schleimer et al. 2003): hash every
    * `gramWidth`-char window, slide a window of `k = minLen - gramWidth
    *  + 1` consecutive hashes, keep each window's minimum. Any shared run
    * of `gramWidth + k - 1 = minLen` chars contains k consecutive shared
    * hash positions, i.e. one full hash window inside the run on BOTH
    * sides — same content, same minimum, selected by both: every
    * qualifying pair shares an anchor (lossless; hash collisions only ADD
    * candidates). The index carries ~2/(k+1) of positions, not all of
    * them — the 100 TB lever vs indexing every offset.
    *
    * `gramWidth` trades index density against candidate precision, and on
    * repetitive corpora precision wins decisively: 16-char grams recur
    * across hundreds of documents (and window-min selection is biased
    * toward globally small hash values, so exactly those recurring grams
    * become anchors), which at sf0.1 made ~every document a candidate;
    * 32-char anchors (k=9, ~20% index) cut the candidate pair set from
    * 250k to 322 against 259 true pairs. Widen the gram before shrinking
    * the window when candidates blow up.
    *
    * Phase 2 — exact relational verify, candidate DOCS only: semi-join
    * the corpus to the candidate id set, explode those docs' distinct
    * `minLen`-grams (actual strings, no hashes — collision-free), equi-
    * join and count per pair. Only documents that collided on an anchor
    * ever pay the full per-offset explosion.
    *
    * Returns `(i, j, n_shared)` — `n_shared` = number of distinct shared
    * `minLen`-grams (an alignment-free overlap measure; `>= 1` IS the
    * shared-span predicate, larger means a longer or repeated run). A
    * pair found by phase 2 shares a true span, so its membership in the
    * anchor candidate set is implied — no final re-filter is needed. */
  def sharedSpanPairs(docs: DataFrame, minLen: Int = 40,
                      gramWidth: Int = 32): DataFrame = {
    val cands = spanCandidatePairs(docs, minLen, gramWidth)
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val candIds = cands.select(col("i").as("doc_id"))
      .unionByName(cands.select(col("j").as("doc_id")))
      .distinct()
    val cdocs = docs.join(candIds, Seq("doc_id"), "left_semi")
      .where(length(col("text")) >= minLen)
      .repartition(parallelism) // same explode-spread as the anchor side
    val gIdxs = sequence(lit(0), length(col("text")) - minLen)
    // per-doc array_distinct again — the exploded output is already
    // (doc, gram)-distinct, so no corpus-wide DISTINCT exchange
    val grams = cdocs.select(col("doc_id"),
      explode(array_distinct(
        transform(gIdxs, i => col("text").substr(i + 1, lit(minLen)))))
        .as("gram"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
  }

  /** The winnowing anchor front end shared by [[sharedSpanPairs]] and
    * [[removeSharedSpans]]: candidate `(i, j)` doc pairs that collide on
    * a window-minimum fingerprint — a lossless superset of the pairs
    * sharing a verbatim ≥ `minLen` run (the winnowing guarantee; hash
    * collisions only ADD candidates). */
  private[pipeline] def spanCandidatePairs(docs: DataFrame, minLen: Int,
                                           gramWidth: Int): DataFrame = {
    require(gramWidth >= 1 && minLen > gramWidth,
      s"need minLen > gramWidth >= 1, got minLen=$minLen gramWidth=$gramWidth")
    val k = minLen - gramWidth + 1

    // spread the slim (id, text) projection over the full parallelism
    // BEFORE the per-offset md5 work — the CPU hot spot; a small-file scan
    // would otherwise run it on one core.
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val txt = docs.select(col("doc_id"), col("text"))
      .where(col("text").isNotNull && length(col("text")) >= gramWidth)
      .repartition(parallelism)
    // the whole winnowing selection runs INSIDE one codegen'd projection,
    // array-at-a-time per document: hash every offset, slide the k-window
    // minimum, dedupe — then explode only the ~2/(k+1) selected anchors.
    // No exploded-offsets shuffle, no Window node, no per-group sort, and
    // the per-doc array_distinct replaces a corpus-wide DISTINCT exchange.
    val hArr = transform(sequence(lit(0), length(col("text")) - gramWidth),
      i => Hashing.hash60(col("text").substr(i + 1, lit(gramWidth))))
    val fpArr = {
      val h = col("__h")
      // guard: sequence(0, x) with x < 0 is DESCENDING (same trap as
      // shingles). Docs with < k hash windows are shorter than minLen and
      // can never carry a qualifying span — no anchors for them.
      array_distinct(transform(
        when(size(h) >= k, sequence(lit(0), size(h) - lit(k)))
          .otherwise(array().cast("array<int>")),
        p => array_min(slice(h, p + 1, lit(k)))))
    }
    // localCheckpoint: the anchor table sits under both sides of the
    // candidate self-join; cutting the lineage guarantees the hash
    // pipeline is evaluated once (exchange reuse is AQE-dependent), and
    // the checkpoint is 2 longs × ~2/(k+1) of the corpus offsets — small
    val anchors = txt.select(col("doc_id"), hArr.as("__h"))
      .select(col("doc_id"), explode(fpArr).as("fp"))
      .localCheckpoint()

    // localCheckpoint, not lineage: the candidate list feeds candIds twice
    // and sits under BOTH sides of the verify self-join — with a lazy plan
    // the whole hash→window→join anchor pipeline would be re-evaluated ~4×
    // (the same consumed-many-times seam as minHashNearDups' shingle table)
    anchors.as("a")
      .join(anchors.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .localCheckpoint()
  }

  /** Span-level duplicate REMOVAL — the production completion of
    * [[sharedSpanPairs]] (the removal step of Lee et al. 2022: cut the
    * duplicated bytes, keep one occurrence): every character of a
    * document covered by some `minLen`-gram that also occurs in a
    * LOWER-id document is removed — the lowest doc_id containing a gram
    * owns it and keeps its text — and the uncovered stretches are
    * concatenated in order. Returns `(doc_id, clean_text, n_removed)`
    * for EVERY input document (non-candidates pass through with
    * n_removed = 0).
    *
    * Scale shape: the winnowing anchor front end
    * ([[spanCandidatePairs]]) nominates candidate docs, so the exact
    * per-offset gram table is built for candidates only — everything
    * else passes through without ever being exploded. Ownership is a
    * per-gram `min(doc_id)` hash aggregate (shuffle ∝ candidate-doc
    * grams; no self-join, so a boilerplate gram shared by 10⁴ docs costs
    * 10⁴ rows, not 10⁸ pairs), and the cut itself is one codegen'd
    * `aggregate()` interval-merge over each doc's sorted covered
    * offsets — O(len + spans) per doc, no char-level fan-out. */
  def removeSharedSpans(docs: DataFrame, minLen: Int = 40,
                        gramWidth: Int = 32): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val cands = spanCandidatePairs(docs, minLen, gramWidth)
    val candIds = cands.select(col("i").as("doc_id"))
      .unionByName(cands.select(col("j").as("doc_id")))
      .distinct()
    val cdocs = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
      .where(col("text").isNotNull && length(col("text")) >= minLen)
      .repartition(parallelism) // spread the per-offset explode
    // every offset, positions kept (coverage needs them) — unlike the
    // distinct gram table of the pair counter
    val grams = cdocs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), length(col("text")) - minLen),
        i => col("text").substr(i + 1, lit(minLen)))).as(Seq("p", "gram")))
    val owner = grams.groupBy("gram").agg(min("doc_id").as("__mn"))
    val covered = grams.join(owner, "gram")
      .where(col("doc_id") > col("__mn"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("p"))).as("__ps"))
    docs.join(covered, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("__ps").isNull, col("text")).otherwise(expr(
          s"""aggregate(__ps,
             |  named_struct('e', 0, 'acc', ''),
             |  (st, p) -> named_struct(
             |    'e', greatest(st.e, p + $minLen),
             |    'acc', concat(st.acc,
             |      substr(text, st.e + 1, greatest(p - st.e, 0)))),
             |  st -> concat(st.acc, substr(text, st.e + 1)))""".stripMargin)))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long")
          .as("n_removed"))
  }

  // ---------------- content-defined chunking ---------------------------

  /** Content-defined chunking (the rsync/LBFS shape — Muthitacharoen et
    * al., SOSP'01): cut each document where a rolling `window`-char hash
    * lands on a `maskBits`-bit zero — boundaries depend only on LOCAL
    * content, so an insertion early in a document shifts every byte but
    * re-aligns the cut points within one chunk, and identical passages
    * shared across documents produce identical chunks at any offset.
    * That alignment-invariance is what fixed-size blocking can never
    * give, and it makes `chunk_hash` the unit of cross-corpus storage
    * dedup ("how many of these 100 TB are literally the same bytes").
    *
    * Expected chunk length ≈ 2^maskBits chars (geometric); this is the
    * PURE form — no min/max chunk clamps, so every cut decision is a
    * function of its own window alone and the whole operator is one
    * map-side generator expression (positions → window hashes → cuts →
    * segment substrings), embarrassingly parallel with nothing sequential
    * per document. (Production CDC adds min/max clamps, which chain cut
    * decisions left-to-right; the unclamped form keeps the operator
    * deterministic-per-window and SQL-replayable.)
    *
    * Emits `(doc_id, chunk_idx, start, chunk_len, chunk_hash)` with
    * 1-based `start`, hash = [[Hashing.hash60]] of the chunk text.
    * Empty documents emit no chunks. */
  def contentDefinedChunks(docs: DataFrame, window: Int = 16,
                           maskBits: Int = 5): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(maskBits >= 1 && maskBits <= 30,
      s"maskBits must be in [1, 30], got $maskBits")
    val mask = (1L << maskBits) - 1
    val w = window
    val spark = docs.sparkSession
    import spark.implicits._
    // one JVM pass per document: the cut rule costs one md5 per character
    // position, and [[Hashing.hash60]]'s numeric fast path (per-thread
    // digest, no hex strings) is what makes that affordable — the first
    // generator-expression spelling of the same rule spent ~10× the
    // digest cost on per-window substring/conv/format overhead (measured
    // 11.6 s → 1.3 s warm at sf0.1)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val len = if (text == null) 0 else text.length
          val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
          var p = 0 // 0-based window start; cut after char p+w-1, inside only
          while (p + w < len) {
            if ((Hashing.hash60(text.substring(p, p + w)) & mask) == 0L)
              cuts += p + w
            p += 1
          }
          if (len > 0) cuts += len
          Iterator.tabulate(cuts.length - 1) { i =>
            val s0 = cuts(i); val e0 = cuts(i + 1)
            (id, i.toLong, (s0 + 1).toLong, (e0 - s0).toLong,
              Hashing.hash60(text.substring(s0, e0)))
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "start", "chunk_len", "chunk_hash")
  }

  /** Leakage-safe train/val/test split: assign splits per NEAR-DUP CLUSTER,
    * not per document, so two near-copies can never land on opposite sides
    * of the train/eval boundary — the contamination channel a per-doc hash
    * split leaves wide open (a benchmark answer deduped imperfectly, a
    * boilerplate family straddling the fence — each is memorization leaking
    * into eval). Composition: [[duplicateClusters]] over any pair set →
    * every member keys [[graft.ops.Sampling.assignSplit]] by its cluster
    * label (the component's min id), inheriting all of assignSplit's
    * contracts — disjoint, exhaustive, append-stable — at cluster
    * granularity. Singletons cluster to themselves, so a pair-free corpus
    * degrades to exactly the per-doc split.
    *
    * Scale: the split itself is a pure map-side projection over the CC
    * output; cost is dominated by the pair generator + the O(log D) CC
    * rounds, both already bounded (see [[duplicateClusters]]). */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       fractions: Seq[(String, Double)],
                       salt: String = "split"): DataFrame = {
    val clusters = duplicateClusters(docs, pairs)
    graft.ops.Sampling.assignSplit(clusters, "cluster", fractions, salt)
      .select(col("id"), col("cluster"), col("split"))
  }

  /** Label backfill across near-dup clusters: documents whose metadata
    * label is missing (the `unlabeled` predicate) inherit the MAJORITY
    * label of the LABELED members of their duplicate cluster — the
    * production label-hygiene move for scraped corpora, where a re-crawl
    * or mirror often lost the tag its near-copy still carries. Ties break
    * to the lexicographically smallest label and an unlabeled document
    * with no labeled cluster peer (singletons included) reports the
    * sentinel `fallback` — both rules deterministic, so the output is a
    * pure function of (docs, pairs).
    *
    * Returns one row per document: `(doc_id, lang_out, backfilled)` where
    * `backfilled` is 1 exactly when a majority label was inherited.
    *
    * Scale: [[duplicateClusters]] bounds the graph work (O(log D)
    * rounds); the vote is one (cluster, label) hash aggregation over
    * LABELED MEMBERS OF NON-SINGLETON CLUSTERS ONLY — far smaller than
    * the corpus — ranked through Spark's `WindowGroupLimit` (k=1, never a
    * window over a whole cluster), then joined back id-keyed. No step
    * touches text. */
  def labelBackfill(docs: DataFrame, pairs: DataFrame,
                    labelCol: String = "lang",
                    unlabeled: org.apache.spark.sql.Column,
                    fallback: String = "und"): DataFrame = {
    val clusters = duplicateClusters(docs.select("doc_id"), pairs)
    val labeled = clusters
      .join(docs.where(!unlabeled).select(col("doc_id"), col(labelCol)),
        col("id") === col("doc_id"))
      .groupBy("cluster", labelCol).agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("votes").desc, col(labelCol))
    val majority = labeled
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("cluster"), col(labelCol).as("maj_label"))
    docs.select(col("doc_id"), col(labelCol), unlabeled.as("unl"))
      .join(clusters, col("doc_id") === col("id"), "left")
      .join(majority, Seq("cluster"), "left")
      .select(
        col("doc_id"),
        when(!col("unl"), col(labelCol))
          .otherwise(coalesce(col("maj_label"), lit(fallback)))
          .as("lang_out"),
        (col("unl") && col("maj_label").isNotNull).cast("long")
          .as("backfilled"))
  }

  /** Cross-source duplication matrix: for every unordered source pair,
    * the number of verified near-dup pairs straddling it (diagonal =
    * within-source duplication). THE overlap diagnostic before corpus
    * mixing — two crawls with a heavy off-diagonal cell are re-scrapes of
    * the same sites, and their mixing weights double-count unless one is
    * deduped against the other.
    *
    * Scale: two id-keyed equi-joins decorate the verified pair set (far
    * smaller than the corpus — LSH banding bounds it) with a slim
    * `(doc_id, source)` projection, then one hash aggregation over at
    * most |sources|² cells. Nothing is all-pairs in the corpus. */
  def sourceOverlapMatrix(docs: DataFrame, pairs: DataFrame,
                          sourceCol: String = "source"): DataFrame = {
    val src = docs.select(col("doc_id"), col(sourceCol))
    val decorated = pairs
      .join(src.select(col("doc_id").as("i"), col(sourceCol).as("src_i")), "i")
      .join(src.select(col("doc_id").as("j"), col(sourceCol).as("src_j")), "j")
    decorated
      .groupBy(
        least(col("src_i"), col("src_j")).as("src_a"),
        greatest(col("src_i"), col("src_j")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** C4-style GLOBAL line-level dedup (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more
    * than once", applied at line granularity like the public C4
    * scripts): every distinct line keeps exactly its FIRST occurrence —
    * smallest `(doc_id, line_index)` corpus-wide — and every later
    * occurrence in ANY document is removed; each doc's survivors are
    * re-joined in order. The cross-document rule is what kills sitewide
    * chrome and license blurbs that per-doc dedup can't see.
    *
    * Scale shape: one positional explode (rows ∝ total lines), the
    * first-occurrence winner as ONE map-side-combinable `min` of the
    * packed key `doc_id·2²⁰ + idx` (no window, no sort), one
    * hash-co-partitioned join back, and one per-doc rebuild
    * aggregation. Docs must have < 2²⁰ lines (a million-line "doc" is
    * a concatenation bug; guarded). Emits
    * `(doc_id, cleaned, n_kept, n_dropped)`; fully-deduped docs keep
    * their row with an empty `cleaned`. */
  def dedupLines(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val split_ = split(col(textCol), "\n", -1)
    val lines = docs
      .select(col(idCol), posexplode(split_).as(Seq("idx", "line")))
    val hashed = lines
      .withColumn("h", Hashing.hash60(col("line")))
      .withColumn("pk",
        when(col("idx") >= (1L << 20),
          raise_error(lit("dedupLines: doc has >= 2^20 lines")).cast("long"))
          .otherwise(col(idCol) * (1L << 20) + col("idx")))
    val first = hashed.groupBy("h").agg(min(col("pk")).as("fk"))
    val kept = hashed.join(first, "h").where(col("pk") === col("fk"))
    val rebuilt = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("cleaned"))
    val totals = lines.groupBy(idCol).agg(count(lit(1)).as("n_lines"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .join(totals, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_lines"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }
}
