package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A verbatim copy of `Dsir.gramBuckets` as it stood before it read the
  * shared shingler: unigram and bigram hashes built by its own
  * `transform` lambdas over `TextOps.tokens`, `element_at` and
  * `concat_ws`. `importanceWeights` is the unchanged body of
  * `Dsir.importanceWeights` over that copy. `DsirSpec` pins the current
  * weights `==` to it.
  */
private[pipeline] object FormerDsir {

  /** One row per token-unigram and token-bigram OCCURRENCE:
    * `(doc_id, is_target, bucket)` with `bucket = hash60(gram) % buckets`.
    * The target flag rides the projection (a boolean per row) so neither
    * consumer needs a corpus-scale join to recover it. Docs with no
    * tokens produce no rows. */
  def gramBuckets(docs: DataFrame, isTarget: Column,
                  buckets: Int): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tokenized = docs
      .select(col("doc_id"), isTarget.as("is_target"), col("text"))
      .repartition(parallelism)
      .select(col("doc_id"), col("is_target"),
        TextOps.tokens(col("text")).as("t"))
    val t = col("t")
    val bigramIdxs = when(size(t) >= 2, sequence(lit(0), size(t) - 2))
      .otherwise(array().cast("array<int>"))
    val bigrams = transform(bigramIdxs, i =>
      Hashing.hash60(concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
    val unigrams = transform(t, w => Hashing.hash60(w))
    tokenized
      .select(col("doc_id"), col("is_target"),
        explode(concat(unigrams, bigrams)).as("gh"))
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
}
