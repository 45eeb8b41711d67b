package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.Release

/** A verbatim copy of the `Dedup` MinHash code as it stood before the
  * packed-block kernel: shingle sets by a `collect_list`/`flatten`/
  * `array_distinct` aggregate over the lambda-built gram arrays, band keys
  * by a UDF, and the candidate and verify steps as SQL joins.
  * `DedupKernelSpec` pins the current kernel `==` to it.
  */
private[pipeline] object FormerDedup {

  /** `docs`' `keep` columns plus `g`: the hashes of the token `n`-grams of
    * its `text`, in order — empty under `n` tokens and for null text. The
    * one definition of a shingle. Repartitioned on `by` (round-robin when
    * empty) before the tokenize map. */
  def gramHashes(docs: DataFrame, n: Int, keep: Seq[String],
                         by: Seq[Column]): DataFrame = {
    // repartition first: the tokenize+hash map is the CPU hot spot of
    // every shingle consumer, and a small-file scan would run it all on
    // one core. The token array gets its own projection: a lambda that
    // references the raw split(...) expression re-evaluates the regex
    // split on every element_at inside the transform (3n× per shingle)
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tokenized = docs.select(("text" +: keep).map(col): _*)
      .repartition(parallelism, by: _*)
      .select(keep.map(col) :+ TextOps.tokens(col("text")).as("t"): _*)
    val t = col("t")
    // guard: sequence(0, x) with x < 0 generates a *descending* sequence
    val idxs = when(size(t) >= n, sequence(lit(0), size(t) - n))
      .otherwise(array().cast("array<int>"))
    val grams = transform(idxs,
      i => Hashing.hash60(
        concat_ws(" ", (0 until n).map(o => element_at(t, i + o + 1)): _*)))
    tokenized.select(keep.map(col) :+ grams.as("g"): _*)
  }

  /** One row per document, `(doc_id, sh)`: `sh` is the sorted, distinct
    * `array<bigint>` of the shingle hashes [[shingles]] gives it. Rows
    * sharing a `doc_id` give the union of their shingles; a document
    * without shingles has no row. Hashed on `doc_id` before the tokenize
    * map, so the merge needs no second exchange. */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    gramHashes(docs, n, Seq("doc_id"), Seq(col("doc_id")))
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(flatten(collect_list("g")))).as("sh"))
      .where(size(col("sh")) > 0)

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
    /** The LSH band keys of a shingle set, `numHashes / rowsPerBand` of
      * them: key b is one 64-bit mix of (b, the band's minhashes), so two
      * sets that agree on band b share key b. A mix collision can only add
      * a candidate, which the exact verify then drops. */
    def bandKeys(shingleHashes: Iterable[Long], rowsPerBand: Int): Array[Long] = {
      val s = Array.fill(numHashes)(Long.MaxValue)
      shingleHashes.foreach(update(s, _))
      Array.tabulate(numHashes / rowsPerBand) { b =>
        var h = mix64(b.toLong)
        for (r <- 0 until rowsPerBand) h = mix64(h ^ s(b * rowsPerBand + r))
        h
      }
    }
  }

  object MinHashFamily {
    final val P = 2147483647L // 2^31 − 1
    /** `t mod P` for `t ≥ 0` without a division: 2³¹ ≡ 1 (mod P), so the
      * high bits fold onto the low ones; two folds leave at most P + 3. */
    def modP(t: Long): Long = {
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
    * DuckDB oracle checks. Plan: one row per document with its shingle
    * set and band keys ([[keyedSets]]: the docs' one exchange, on
    * `doc_id`); one exchange of the N·bands band keys for the bucket
    * self-join; the verify joins the set table on `i` and on `j`. No
    * all-pairs, no row per shingle. Eager: returns the verified
    * `(i, j, jaccard)` pairs `localCheckpoint`ed and releases the rest. */
  def minHashNearDups(docs: DataFrame, n: Int = 3, theta: Double = 0.7,
                      bands: Int = 64, rowsPerBand: Int = 2,
                      seed: Long = 42L): DataFrame = {
    // read three times (band keys, both verify sides): checkpointed, the
    // tokenize+hash+minhash map runs once and every read plans against a leaf
    val sets = keyedSets(docs, n, bands, rowsPerBand, seed).localCheckpoint()
    val keys = bandRows(sets)
    val cands = keys.as("a")
      .join(keys.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // checkpointed: each consumer (collect, clusters, keep-best, backfill,
    // source overlap) would otherwise re-run the band join and the verify
    val pairs = verifySets(cands, sets, theta).localCheckpoint()
    Release.checkpoint(sets)
    pairs
  }

  /** [[shingleSets]] plus `bk`, the document's band keys
    * ([[MinHashFamily.bandKeys]]), computed in the same narrow pass. */
  private def keyedSets(docs: DataFrame, n: Int, bands: Int, rowsPerBand: Int,
                        seed: Long): DataFrame = {
    val fam = MinHashFamily(seed, bands * rowsPerBand)
    val keysOf = udf((sh: scala.collection.Seq[Long]) => fam.bandKeys(sh, rowsPerBand))
    shingleSets(docs, n).withColumn("bk", keysOf(col("sh")))
  }

  /** `(doc_id, band, bkey)` rows of a [[keyedSets]] table; `bkey` encodes
    * its band, so an equi-join on `bkey` alone finds every band collision. */
  private def bandRows(keyed: DataFrame): DataFrame =
    keyed.select(col("doc_id"), posexplode(col("bk")).as(Seq("band", "bkey")))

  /** Exact Jaccard of candidate pairs `(i, j)` on a shingle-set table:
    * c = |si ∩ sj|, jaccard = c / (ni + nj − c), as [[jaccardOfShingles]]. */
  private def verifySets(cands: DataFrame, sets: DataFrame, theta: Double): DataFrame = {
    def side(k: String) = sets.select(col("doc_id").as(k), col("sh").as(s"s$k"))
    val c = size(array_intersect(col("si"), col("sj")))
    cands.join(side("i"), "i").join(side("j"), "j")
      .select(col("i"), col("j"),
        (c.cast("double") / (size(col("si")) + size(col("sj")) - c)).as("jaccard"))
      .where(col("jaccard") >= theta)
  }

  /** The corpus's MinHash band keys `(doc_id, band, bkey)` as a standalone
    * table — the SIGNATURE STORE a production ingest pipeline persists
    * between crawls (parquet keyed by the `bigint` `bkey`): `bands` rows
    * per corpus doc, so a batch probe touches corpus text only to verify
    * the candidates LSH surfaces. Valid only for probes with the same
    * (n, bands, rowsPerBand, seed). */
  def signatureStore(docs: DataFrame, n: Int = 3, bands: Int = 64,
                     rowsPerBand: Int = 2, seed: Long = 42L): DataFrame =
    bandRows(keyedSets(docs, n, bands, rowsPerBand, seed))

  /** Incremental near-duplicate detection — the MinHash twin of
    * [[exactIncremental]]: find every (corpus doc, new doc) pair with
    * shingle Jaccard ≥ θ, WITHOUT recomputing anything corpus×corpus.
    * The new batch's band keys probe the corpus signature store
    * (`corpusStore`; omitted, it is built from `corpus` in this call);
    * candidates are exact-verified on shingle sets, touching corpus TEXT
    * only for candidate docs (an id semi join). Only cross pairs are
    * emitted — intra-batch near-dups are [[minHashNearDups]]'s job. Eager
    * like it: `(i, j, jaccard)` with i < j, `localCheckpoint`ed; ids must
    * be unique across corpus ∪ batch. Shuffle ∝ batch·bands + candidates
    * — nothing scales with corpus size but the store probe itself. */
  def minHashIncremental(newDocs: DataFrame, corpus: DataFrame,
                         corpusStore: Option[DataFrame] = None,
                         n: Int = 3, theta: Double = 0.7,
                         bands: Int = 64, rowsPerBand: Int = 2,
                         seed: Long = 42L): DataFrame = {
    val newSets = keyedSets(newDocs, n, bands, rowsPerBand, seed).localCheckpoint()
    val store = corpusStore.getOrElse(
      signatureStore(corpus, n, bands, rowsPerBand, seed))
    // store side × batch side: every candidate is a cross pair by
    // construction (no corpus×corpus, no batch×batch)
    val cands0 = store.as("a")
      .join(bandRows(newSets).as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("cid"), col("b.doc_id").as("nid"))
      .distinct()
    val candCorpus = corpus.join(
      cands0.select(col("cid").as("doc_id")).distinct(), Seq("doc_id"),
      "left_semi")
    val sets = newSets.select("doc_id", "sh").unionByName(shingleSets(candCorpus, n))
    val cands = cands0.select(least(col("cid"), col("nid")).as("i"),
      greatest(col("cid"), col("nid")).as("j")).distinct()
    val pairs = verifySets(cands, sets, theta).localCheckpoint()
    Release.checkpoint(newSets)
    pairs
  }
}
