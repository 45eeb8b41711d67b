package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity join: every pair `(i < j)` with
  * `levenshtein(key_i, key_j) <= maxDist`, found WITHOUT an all-pairs
  * comparison — the entity-resolution / fuzzy-dedup primitive the
  * reference's exact-equality world has no answer for (its nearest
  * relative is the shingle Jaccard join, `Dedup.jaccardNearDups`, which
  * is token-set, not character-edit, similarity).
  *
  * Shape (Ed-Join family — positional q-gram prefix filtering):
  *
  *   1. q-gram the keys positionally: `(id, gram, pos)` — one narrow
  *      projection, like [[Dedup.shingles]].
  *   2. Global gram order by document frequency (rare grams first). ANY
  *      total order is lossless; df-ascending makes the inverted index
  *      smallest where it matters — hot grams never enter the index, so
  *      the classic "the gram `the` joins everything with everything"
  *      skew blow-up cannot happen.
  *   3. Prefix filter: a string with `G` grams keeps only its first
  *      `q*maxDist + 1` grams in that order. Two strings within edit
  *      distance d differ in at most `q*d` grams (each edit touches ≤ q
  *      grams), so their (qd+1)-prefixes under a shared total order must
  *      intersect — dropping the rest of the index is lossless.
  *   4. Candidate join: equi-join on gram with the two lossless
  *      side-conditions `|pos_a - pos_b| <= d` (an edit shifts positions
  *      by at most d) and `|len_a - len_b| <= d`.
  *   5. Verify: `levenshtein(key_a, key_b, maxDist)` on candidates only —
  *      Spark's thresholded variant, which abandons the DP once the band
  *      exceeds d.
  *
  * Keys too short for the prefix theorem (`len < q*(maxDist+1)`: fewer
  * than `q*d + 1` grams, so prefixes need not intersect) take a dense
  * side path: broadcast nested-loop of the short set against everything
  * within the length band. Lossless split: a qualifying pair has either
  * both members long (gram path) or ≥ 1 short member (dense path) —
  * disjoint by construction, no double counting.
  *
  * 100 TB shape: shuffle is `O(N·(q·d+1))` index rows joined on gram;
  * the verify touches candidates only; the dense path broadcasts a set
  * that is small by definition (strings under ~q·(d+1) chars). No
  * cartesian product anywhere on the long path. The prefix ranking runs
  * through `row_number() <= k`, which Spark plans as `WindowGroupLimit` —
  * each doc's grams are cut to k per task before the exchange, so no
  * doc's full gram list is shuffled or ranked.
  */
object FuzzyJoin {

  /** All pairs `(i, j, dist)` with `i < j` and
    * `dist = levenshtein(key_i, key_j) <= maxDist`, over
    * `keyed(idCol, keyCol)`. `q` is the gram width (q=4 with maxDist=4
    * keeps 17 index grams per key). Null keys never match. */
  def editDistanceJoin(keyed: DataFrame, idCol: String, keyCol: String,
                       maxDist: Int, q: Int = 4): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val d = maxDist
    val prefixLen = q * d + 1
    val minLongLen = q * (d + 1) // below this the prefix theorem is void

    val keys = keyed
      .select(col(idCol).cast("long").as("id"), col(keyCol).as("key"))
      .where(col("key").isNotNull)
      .withColumn("len", length(col("key")))
    // spread the slim key table over the full parallelism before the
    // ~len× gram explode — a small-file scan would otherwise run the
    // whole explode on one core
    val longKeys = keys.where(col("len") >= minLongLen)
      .repartition(keyed.sparkSession.sessionState.conf.numShufflePartitions)
    val shortKeys = keys.where(col("len") < minLongLen)

    // (id, gram, pos, len) — positional q-grams of the long keys, pure
    // array expressions (same substring-over-sequence shape as
    // Dedup.shingles, character- instead of token-level)
    val idxs = sequence(lit(0), col("len") - q)
    val grams = longKeys
      .select(col("id"), col("len"),
        posexplode(transform(idxs, i => col("key").substr(i + 1, lit(q))))
          .as(Seq("pos", "gram")))

    // global order: document frequency ascending, ties by (gram, pos) —
    // deterministic, and rare grams first keeps the index cold-key-only
    val df_ = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("gram"), col("pos"))
    val prefix = grams.join(df_, "gram")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= prefixLen)
      .select("id", "gram", "pos", "len")

    val candsLong = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.id") < col("b.id") &&
          abs(col("a.pos") - col("b.pos")) <= d &&
          abs(col("a.len") - col("b.len")) <= d)
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()

    val verified = verifyPairs(candsLong, keys, d)

    // dense side: short × everything in the length band. Short keys are
    // < q*(d+1) chars, so this set is small by definition — broadcast it.
    // Every pair here has >= 1 short member (one side IS the short set),
    // so it is disjoint from the gram path (both members long) and a
    // plain union is exact. Both-short pairs arrive twice ((a,b) and
    // (b,a)); least/greatest + distinct canonicalizes.
    val candsShort = broadcast(
        shortKeys.select(col("id").as("sid"), col("len").as("slen")))
      .join(keys.select(col("id").as("oid"), col("len").as("olen")),
        col("sid") =!= col("oid") && abs(col("slen") - col("olen")) <= d)
      .select(least(col("sid"), col("oid")).as("i"),
        greatest(col("sid"), col("oid")).as("j"))
      .distinct()

    // both sides are distinct pair sets and mutually disjoint — union
    // needs no final dedup shuffle
    verified.unionByName(verifyPairs(candsShort, keys, d))
  }

  /** Exact verify: join the pair list back to its keys and keep pairs
    * within the threshold. `levenshtein(l, r, t)` returns -1 past t —
    * the banded DP never fills the full matrix for far-apart strings. */
  private def verifyPairs(cands: DataFrame, keys: DataFrame, d: Int): DataFrame =
    cands
      .join(keys.select(col("id").as("i"), col("key").as("ka")), "i")
      .join(keys.select(col("id").as("j"), col("key").as("kb")), "j")
      .withColumn("dist", levenshtein(col("ka"), col("kb"), d).cast("long"))
      .where(col("dist") >= 0)
      .select("i", "j", "dist")
}
