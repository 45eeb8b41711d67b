package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Sampling

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): select raw-corpus documents whose hashed n-gram distribution
  * looks like a small high-quality target distribution, by importance
  * weight under bag-of-hashed-ngrams unigram models.
  *
  * The pipeline is three bounded aggregations — nothing materializes
  * per-pair or per-(doc × vocab):
  *
  *  1. hashed features: every token unigram and bigram occurrence maps to
  *     `hash60(gram) % buckets` (a pure projection, fan-out ∝ tokens);
  *  2. the two bucket distributions (target, raw) are ONE hash aggregate
  *     whose key space is `buckets` — map-side combine collapses each
  *     partition to ≤ `buckets` rows, so the shuffle is bounded by the
  *     bucket count, not the corpus;
  *  3. per-doc weights join the gram stream to the ≤ `buckets`-row
  *     log-ratio table (broadcast) and sum per doc — map-side combinable,
  *     shuffle ∝ distinct (doc, bucket) pairs.
  *
  * Engine-exactness (the repo's cross-engine oracle contract): the
  * per-bucket log-ratio is quantized ONCE to integer micro-units —
  * `floor(lr · 1e6 + 0.5)` — and every downstream sum is a LONG sum, so
  * no float addition order exists anywhere. Laplace smoothing keeps every
  * bucket finite: `p(b) = (c_b + 1) / (total + buckets)`.
  *
  * Not a reference port: the reference engine (tsne-flink) has no text
  * surface at all (SURVEY.md §2.3); this is the data-selection stage a
  * 100 TB curation pipeline runs between dedup and sampling.
  */
object Dsir {

  /** One row per token-unigram and token-bigram OCCURRENCE:
    * `(doc_id, is_target, bucket)` with `bucket = hash60(gram) % buckets`,
    * the grams being the shared token shingles at n = 1 and n = 2
    * ([[Hashing.tokenGramHashes]]), unigrams first.
    * The target flag rides the projection (a boolean per row) so neither
    * consumer needs a corpus-scale join to recover it. Docs with no
    * tokens produce no rows. */
  private[pipeline] def gramBuckets(docs: DataFrame, isTarget: Column,
                                    buckets: Int): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val text = col("text")
    docs
      .select(col("doc_id"), isTarget.as("is_target"), text)
      .repartition(parallelism)
      .select(col("doc_id"), col("is_target"),
        explode(concat(Hashing.tokenGramHashes(text, 1),
          Hashing.tokenGramHashes(text, 2))).as("gh"))
      .select(col("doc_id"), col("is_target"),
        (col("gh") % buckets).as("bucket"))
  }

  /** Per-document integer log-importance weight
    * `logw_u = Σ_grams floor_micro( ln p_target(bucket) − ln p_raw(bucket) )`
    * (micro-units, summed as longs). `isTarget` marks the rows of `docs`
    * that form the target distribution; the raw distribution is the whole
    * input. Returns every input doc: `(doc_id, n_feats, logw_u)` with
    * `(0, 0)` for token-less docs. */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val grams = gramBuckets(docs, isTarget, buckets)
    val dist = grams.groupBy("bucket").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = dist.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    // one quantized log-ratio per bucket; ≤ `buckets` rows, broadcast
    val lr = dist.crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor(
          (log((col("ct") + 1L).cast("double") /
               (col("tt") + buckets.toLong).cast("double")) -
           log((col("cr") + 1L).cast("double") /
               (col("tr") + buckets.toLong).cast("double"))) * 1e6 + 0.5)
          .cast("long").as("lr_u"))
    val perDoc = grams.join(broadcast(lr), "bucket")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_feats"),
        sum("lr_u").as("logw_u"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw_u"), lit(0L)).as("logw_u"))
  }

  /** Gumbel-top-k importance resampling — the paper's
    * sampling-without-replacement, made engine-exact: each doc's score is
    * `logw_u + floor_micro(Gumbel(hash))` (a seeded Gumbel perturbation,
    * `g = −ln(−ln(u))` with `u = (hash60(doc_id#salt!g) + 0.5) / 2⁶⁰`),
    * and the kept set is the top `keepNum/keepDen` fraction by
    * `(score_u DESC, hash, doc_id)` through the shared two-phase
    * distributed prefix scan — no single-task window at any corpus size.
    * Returns kept docs: `(doc_id, n_feats, logw_u, score_u, sample_rank)`. */
  def resample(docs: DataFrame, isTarget: Column, buckets: Int,
               keepNum: Long, keepDen: Long, salt: String): DataFrame = {
    val w = importanceWeights(docs, isTarget, buckets)
    // materialize the slim scored frame (4 longs/doc) before the prefix
    // scan: the selection machinery evaluates its input several times
    // (stratum counts, range sampling, the sorted scan) and each pass
    // would otherwise re-run the whole two-aggregation weights pipeline —
    // the same lineage-cut-at-the-consumed-many-times-seam discipline as
    // the MinHash and CC loops. Measured warm: 15.5 s → 2.9 s at sf0.1
    // (5k docs, where recompute overhead dominated); at 100k docs the two
    // inherent gram passes dominate and the win is ~12%.
    val scored = w.withColumn("score_u",
      col("logw_u") + Sampling.gumbelMicroU(col("doc_id"), salt))
      .localCheckpoint()
    Sampling.topFractionPerStratum(
        scored.withColumn("all", lit("all")),
        "doc_id", "all", col("score_u"), keepNum, keepDen, salt)
      .select(col("doc_id"), col("n_feats"), col("logw_u"), col("score_u"),
        col("stratum_rank").as("sample_rank"))
  }
}
