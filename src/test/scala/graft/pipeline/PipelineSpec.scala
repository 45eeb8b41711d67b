package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.Inspectors

import org.apache.spark.sql.functions._

import graft.tsne.SparkTestBase

/** Unit tests for the LLM-data-pipeline operators (dedup, text analysis,
  * ANN, multimodal plumbing) on small synthetic corpora with hand-checkable
  * expectations; the DuckDB harness covers the full-table oracle parity.
  */
class PipelineSpec extends AnyFlatSpec with Matchers with Inspectors with SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** [[Dedup.shingleSets]] at n = 3 as a map from id to set. */
  private def setsOf(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    Dedup.shingleSets(d, 3, graft.SuperstepPartitioner.of(spark)).collect().toSeq
      .flatMap(s => s.ids.indices.map(k => s.ids(k) -> s.sh.slice(s.off(k), s.off(k + 1)).toSeq))
      .toMap

  "Hashing.hash60" should "agree between the JVM and Column forms" in {
    val s = spark
    import s.implicits._
    val words = Seq("hello", "the quick brown fox", "", "ümlaut")
    val byCol = words.toDF("w").select(Hashing.hash60(col("w"))).as[Long].collect()
    byCol.toSeq shouldBe words.map(Hashing.hash60)
    forAll(byCol.toSeq) { h => h should be >= 0L }
  }

  "Dedup.shingles" should "emit distinct n-gram hashes and skip short docs" in {
    val d = docs((1L, "a b c d"), (2L, "a b"), (3L, "a b c a b c"))
    val sh = Dedup.shingles(d, n = 3).collect()
    sh.filter(_.getLong(0) == 1L).length shouldBe 2 // "a b c", "b c d"
    sh.filter(_.getLong(0) == 2L).length shouldBe 0 // < n tokens
    sh.filter(_.getLong(0) == 3L).length shouldBe 3 // {abc, bca, cab} distinct of 4 grams
    Dedup.shingles(d, n = 3, keepPos = true).collect()
      .filter(_.getLong(0) == 3L).length shouldBe 4 // positions kept, no dedupe
  }

  "Dedup.exactCanonical" should "group byte-identical docs under the min id" in {
    val d = docs((1L, "same text"), (2L, "other"), (5L, "same text"))
    val canon = Dedup.exactCanonical(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    canon shouldBe Map(1L -> 1L, 2L -> 2L, 5L -> 1L)
  }

  "Dedup.jaccardPairs" should "score overlapping shingle sets exactly" in {
    // doc1: grams {abc, bcd, cde}; doc2: grams {abc, bcd, cdX} → J = 2/4
    val d = docs((1L, "a b c d e"), (2L, "a b c d X"))
    val pairs = Dedup.jaccardPairs(d, n = 3, theta = 0.0).collect()
    pairs.length shouldBe 1
    pairs.head.getDouble(2) shouldBe 0.5 +- 1e-12
  }

  "TextOps.redactPii" should "replace emails and long digit runs" in {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "mail a.b+c@ex-ample.org now, card 4111111111111111, zip 12345"))
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(d).select("text").head.getString(0)
    out shouldBe "mail [EMAIL] now, card [NUM], zip 12345"
  }

  "Dedup.withDfCap" should "drop only shingles above the document-frequency cap" in {
    // "x y z" appears in all 3 docs (df=3); the remaining shingles are rare
    val d = docs(
      (1L, "x y z a b"), (2L, "x y z c d"), (3L, "x y z e f"))
    val sh = Dedup.shingles(d, n = 3)
    val capped = Dedup.withDfCap(sh, cap = 2)
    // the df=3 shingle is gone; each doc keeps its 2 rare shingles
    capped.count() shouldBe 6
    // without the hot shingle, no pair shares anything → no Jaccard pairs
    Dedup.jaccardOfShingles(capped, theta = 0.0).count() shouldBe 0
    // uncapped, every pair shares the hot shingle
    Dedup.jaccardOfShingles(sh, theta = 0.0).count() shouldBe 3
  }

  "Dedup.minHashNearDups" should "find exactly the >= theta pairs" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
    val exact = Dedup.jaccardPairs(d, 3, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashNearDups(d, 3, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe exact
    lsh should contain((1L, 4L)) // identical
    lsh should contain((1L, 2L)) // one-token edit
    forAll(lsh.toSeq) { p => p._2 should not be 3L }
  }

  it should "equal the exact jaccardPairs pair-for-pair" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(12L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 60L).map(i => (i, text(20)))
    // plant near-dups: copies with one token appended
    val dups = (0L until 12L).map(i => (100L + i, base(i.toInt)._2 + " eta"))
    val d = (base ++ dups).toDF("doc_id", "text")
    val got = Dedup.minHashNearDups(d, n = 3, theta = 0.5)
      .orderBy("i", "j").collect()
    // ground truth: the full (unbanded) exact jaccard join
    val want = Dedup.jaccardPairs(d, n = 3, theta = 0.5)
      .orderBy("i", "j").collect()
    got shouldBe want
  }

  it should "give IntegerType doc ids the same pairs as LongType" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minHashNearDups(df, 3, 0.7)
        .select(col("i").cast("long"), col("j").cast("long"), col("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val asLong = pairs(d)
    asLong should not be empty
    pairs(d.withColumn("doc_id", col("doc_id").cast("int"))) shouldBe asLong
  }

  it should "give the same pairs at 1 and 7 shuffle partitions" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 50L).map(i => (i, text(25)))
    val dups = (0L until 10L).map(i => (200L + i, base(i.toInt)._2 + " theta"))
    val d = (base ++ dups).toDF("doc_id", "text")
    def pairs(p: Int) = withShufflePartitions(p) {
      Dedup.minHashNearDups(d, n = 3, theta = 0.5).orderBy("i", "j").collect().toSeq
    }
    val one = pairs(1)
    one should not be empty
    pairs(7) shouldBe one
  }

  it should "give no row and no pair for null text or fewer than n tokens" in {
    val s = spark
    import s.implicits._
    val d = Seq[(Long, String)]((1L, null), (2L, null), (3L, "a b"), (4L, "a b"),
      (5L, "x y z w"), (6L, "x y z w")).toDF("doc_id", "text")
    setsOf(d).keys.toSeq.sorted shouldBe Seq(5L, 6L)
    Dedup.minHashNearDups(d, 3, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((5L, 6L))
  }

  "Dedup.shingleSets" should "equal shingles grouped by doc_id, sorted" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(9L)
    val vocab = Vector("a", "b", "c", "d", "e")
    val d = (0L until 40L).map(i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val want = Dedup.shingles(d, 3).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).sorted.toSeq }
    val got = setsOf(d)
    want should not be empty
    got shouldBe want
  }

  it should "give a doc_id present in two rows the union of their shingles" in {
    val d = docs((1L, "a b c d"), (1L, "x y z a b c"), (2L, "a b c d"))
    val sets = setsOf(d)
    val one = Dedup.shingles(docs((1L, "a b c d"), (1L, "x y z a b c")), 3)
      .collect().map(_.getLong(1)).sorted.toSeq
    sets(1L) shouldBe one
    sets(1L).length shouldBe 5 // abc, bcd, xyz, yza, zab
    sets(2L).toSet.subsetOf(sets(1L).toSet) shouldBe true
  }

  "Dedup.MinHashFamily.modP" should "equal % (2^31 - 1) on edge values and random triples" in {
    import Dedup.MinHashFamily.{P, modP}
    def viaMod(a: Long, x: Long, b: Long) = (a * x + b) % P
    val xs = Seq(0L, 1L, P - 1, P) // x = h & 0x7FFFFFFF reaches P itself
    for (a <- Seq(1L, 2L, P - 1); x <- xs; b <- Seq(0L, 1L, P - 1))
      withClue(s"a=$a x=$x b=$b") { modP(a * x + b) shouldBe viaMod(a, x, b) }
    val rnd = new scala.util.Random(31L)
    for (_ <- 0 until 100000) {
      val a = 1L + rnd.nextInt(Int.MaxValue - 1)
      val x = rnd.nextLong() & 0x7FFFFFFFL
      val b = rnd.nextInt(Int.MaxValue).toLong
      modP(a * x + b) shouldBe viaMod(a, x, b)
    }
  }

  "Dedup.minHashIncremental" should "equal the full-corpus pair set restricted to cross pairs" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (50 to 90).map(i => s"q$i").mkString(" ")
    val otherDup = (50 to 90).map(i => if (i == 70) "EDIT" else s"q$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"w$i").mkString(" ")
    // corpus: 1..3; batch: 10..13. Cross near-dups (1,10) (1,11 identical),
    // (2,12); batch-internal near-dup (10,11) must NOT appear; corpus-
    // internal pair (none here) must not either
    val corpus = docs((1L, base), (2L, other), (3L, unrelated))
    val batch = docs((10L, nearDup), (11L, base), (12L, otherDup),
      (13L, "nothing in common at all"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairs(Dedup.minHashIncremental(batch, corpus, None, 3, 0.7))
    // truth: the full-corpus near-dup pair set, restricted to cross pairs
    val all = pairs(Dedup.minHashNearDups(corpus.unionByName(batch), 3, 0.7))
    val cross = all.filter(p => (p._1 < 10L) != (p._2 < 10L))
    inc shouldBe cross
    inc should contain((1L, 10L))
    inc should contain((1L, 11L))
    inc should contain((2L, 12L))
    // the batch-internal (10,11) pair exists in the full set but not here
    all should contain((10L, 11L))
    // a PRE-BUILT signature store (what production persists) gives the
    // same answer as computing it from the corpus in-call
    val store = Dedup.signatureStore(corpus).localCheckpoint()
    pairs(Dedup.minHashIncremental(batch, corpus, Some(store), 3, 0.7)) shouldBe inc
  }

  "Dedup.exactIncremental" should "drop exactly the docs whose text exists in the corpus" in {
    val newDocs = docs((10L, "alpha alpha alpha"), (11L, "beta beta beta"),
      (12L, "alpha alpha alpha"), (13L, "delta delta delta"))
    val corpus = docs((1L, "beta beta beta"), (2L, "gamma gamma gamma"))
    val out = Dedup.exactIncremental(newDocs, corpus)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 11 is a re-crawl of corpus text → dropped; the intra-batch duplicate
    // pair (10, 12) both survive — first-seen-within-batch is
    // exactCanonical's job, by contract
    out.toSeq shouldBe Seq(10L, 12L, 13L)
    // schema passes through unchanged (no helper columns leak)
    Dedup.exactIncremental(newDocs, corpus).columns shouldBe newDocs.columns
  }

  "Dedup.duplicateClusters" should "find connected components incl. multi-round chains" in {
    val s = spark
    import s.implicits._
    // a 5-node chain (label must propagate over 4 rounds), a 2-node pair,
    // and a singleton — min-label of each component wins
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L))
      .toDF("i", "j")
    val got = Dedup.duplicateClusters(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    // deterministic under different partitioning (min is order-independent)
    val again = Dedup.duplicateClusters(nodes.repartition(7),
      pairs.repartition(5)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    again shouldBe got
  }

  "Dedup.leakageSafeSplit" should "keep every near-dup cluster on one side of the fence" in {
    val s = spark
    import s.implicits._
    val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val nodes = (0L until 200L).toDF("doc_id")
    // 40 clusters of 5 — every pair chains consecutive members
    val pairs = (0L until 200L).filter(_ % 5 != 4)
      .map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.leakageSafeSplit(nodes, pairs, fracs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    got.length shouldBe 200
    // cluster atomicity: one split label per cluster — the leakage pin
    got.groupBy(_._2).values.foreach(_.map(_._3).distinct.length shouldBe 1)
    // a pair-free corpus degrades to exactly the per-doc assignSplit
    // (cluster = self, same key string, same salt)
    val noPairs = Dedup.leakageSafeSplit(nodes,
      s.emptyDataset[(Long, Long)].toDF("i", "j"), fracs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val perDoc = graft.ops.Sampling.assignSplit(nodes, "doc_id", fracs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    noPairs shouldBe perDoc
    // stable under repartitioning (CC min-labels and the hash are both
    // order-independent)
    val again = Dedup.leakageSafeSplit(nodes.repartition(7),
      pairs.repartition(5), fracs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    again shouldBe got.toSet
  }

  "Dedup.duplicateClusters" should "converge on a 300-deep chain (pointer jumping beats the round cap)" in {
    val s = spark
    import s.implicits._
    // a path graph of diameter 299: min-label propagation alone needs 299
    // rounds and would hit the 50-round convergence guard; path halving
    // must finish in O(log 300) ≈ 9 rounds. Ids descend so the min label
    // (0) sits at the far end — the worst case for propagation.
    val n = 300L
    val nodes = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.duplicateClusters(nodes, pairs).collect()
    got.length shouldBe n
    all(got.map(_.getLong(1))) shouldBe 0L
  }

  it should "agree with a BFS reference on random graphs (property)" in {
    val s = spark
    import s.implicits._
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed * 7919)
      val n = 60
      val m = 40 + rng.nextInt(40)
      val nodeIds = (0 until n).map(_.toLong)
      val edges = Seq.fill(m)((rng.nextLong(n), rng.nextLong(n)))
        .filter { case (a, b) => a != b }
      val got = clusterMap(nodeIds.toDF("doc_id"), edges.toDF("i", "j"))
      withClue(s"seed=$seed edges=${edges.size}: ") {
        got shouldBe bfsClusters(nodeIds, edges)
      }
    }
  }

  /** Reference components: plain BFS on the driver, labelled by min id. */
  private def bfsClusters(nodeIds: Seq[Long],
                          edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- nodeIds if !expected.contains(start)) {
      val comp = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty) {
        for (nb <- adj.getOrElse(queue.dequeue(), Set.empty) if !comp(nb)) {
          comp += nb; queue += nb
        }
      }
      val lbl = comp.min
      comp.foreach(c => expected(c) = lbl)
    }
    expected.toMap
  }

  private def clusterMap(nodes: org.apache.spark.sql.DataFrame,
                         pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.duplicateClusters(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  it should "match the BFS reference at 1 and 7 shuffle partitions" in {
    val s = spark
    import s.implicits._
    // random components plus a 40-deep chain, so path halving runs
    val rng = new scala.util.Random(41)
    val nodeIds = (0L until 120L)
    val edges = Seq.fill(60)((rng.nextLong(80), rng.nextLong(80))) ++
      (80L until 119L).map(i => (i + 1, i))
    val expected = bfsClusters(nodeIds, edges)
    withShufflePartitions(1)(
      clusterMap(nodeIds.toDF("doc_id"), edges.toDF("i", "j"))) shouldBe expected
    withShufflePartitions(7)(clusterMap(nodeIds.toDF("doc_id").repartition(3),
      edges.toDF("i", "j").repartition(2))) shouldBe expected
  }

  it should "keep IntegerType ids and ignore pairs with a null id" in {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.IntegerType
    val pairs = Seq((1, 2), (2, 3), (5, 6))
    val withNulls = pairs.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(3), None), (None, Some(7)), (None, None))
    val got = Dedup.duplicateClusters((1 to 8).toDF("doc_id"),
      withNulls.toDF("i", "j"))
    got.schema.map(_.dataType) shouldBe Seq(IntegerType, IntegerType)
    val longRun = clusterMap((1L to 8L).toDF("doc_id"),
      pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("i", "j"))
    got.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong)
      .toMap shouldBe longRun
    longRun shouldBe bfsClusters(1L to 8L,
      pairs.map { case (a, b) => (a.toLong, b.toLong) })
  }

  it should "not join two nodes through a pair endpoint outside the node set" in {
    val s = spark
    import s.implicits._
    // 9 is not a node: (1, 9), (9, 2) connect nothing; 2 ~ 3 still does
    clusterMap(Seq(1L, 2L, 3L).toDF("doc_id"),
      Seq((1L, 9L), (9L, 2L), (3L, 2L)).toDF("i", "j")) shouldBe
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L)
  }

  it should "compose with minHashNearDups into canonical groups" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => if (i == 5) "EDITED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"w$i").mkString(" ")
    // 2~1 and 4~1 but 2~4 may or may not pass θ directly — the component
    // merges them transitively either way
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated), (4L, other))
    val pairs = Dedup.minHashNearDups(d, 3, 0.7)
    val clusters = Dedup.duplicateClusters(
      d.select("doc_id"), pairs.select("i", "j")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters(1L) shouldBe 1L
    clusters(2L) shouldBe 1L
    clusters(4L) shouldBe 1L
    clusters(3L) shouldBe 3L // unrelated doc stays its own singleton
  }

  it should "keep every node a singleton when there are no pairs" in {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val nodes = Seq(3L, 1L, 2L).toDF("doc_id")
    val noPairs = s.emptyDataset[(Long, Long)].toDF("i", "j")
    // an empty working set must still count 0 changed labels and end
    // the loop
    val got = Await.result(Future(
      Dedup.duplicateClusters(nodes, noPairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)(ExecutionContext.global),
      2.minutes)
    got shouldBe Map(1L -> 1L, 2L -> 2L, 3L -> 3L)
  }

  "Dedup.simHash near-dups" should "equal the all-pairs Hamming filter" in {
    // NOTE an added token flips every signature bit whose majority sum sat
    // at 0/±1, so even a one-word edit can exceed Hamming 3 — the pinned
    // contract is blocking ≡ all-pairs, plus the exact-dup case
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (200 to 260).map(i => s"z$i").mkString(" ")
    val d = docs((1L, base), (2L, base), (3L, other))
    val sigs = Dedup.simHashes(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expected = (for {
      i <- sigs.keys; j <- sigs.keys if i < j && ham(sigs(i), sigs(j)) <= 3
    } yield (i, j)).toSet
    val found = Dedup.simHashNearDups(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    found shouldBe expected
    found should contain((1L, 2L))
  }

  "TextOps.textStats" should "count chars, tokens, types" in {
    val st = TextOps.textStats(docs((1L, "a bb a ccc"))).collect().head
    st.getAs[Long]("n_chars") shouldBe 10L
    st.getAs[Long]("n_tokens") shouldBe 4L
    st.getAs[Long]("n_types") shouldBe 3L
    st.getAs[Long]("n_bpeish") shouldBe 4L
    st.getAs[Double]("avg_token_len_r") shouldBe 1.75 +- 1e-9
  }

  "TextOps.langMix" should "detect code-switched documents chunk-wise" in {
    val en = Seq.fill(8)("the cat of and is").mkString(" ")   // 40 en tokens
    val de = Seq.fill(8)("der hund und die ist").mkString(" ") // 40 de tokens
    val out = TextOps.langMix(docs(
      (1L, en),             // 2 chunks, all en
      (2L, en + " " + de),  // ~3 chunks: en, en/de boundary, de
      (3L, de)), chunkTokens = 32)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2L, 1L, "en"))
    out(3L) shouldBe ((2L, 1L, "de"))
    out(2L)._2 shouldBe 2L // both languages seen among its chunks
  }

  it should "break majority ties toward the higher language code" in {
    // exactly one 32-token en chunk + one 32-token de chunk → 1:1 tie;
    // the (count, lang) struct max picks the higher code: 'en' > 'de'
    val en = (Seq.fill(6)("the cat of and is") :+ "x y").mkString(" ")
    val de = (Seq.fill(6)("der hund und die ist") :+ "q r").mkString(" ")
    val out = TextOps.langMix(docs((1L, en + " " + de)), chunkTokens = 32)
      .collect().head
    out.getLong(1) shouldBe 2L // two chunks
    out.getLong(2) shouldBe 2L // two languages
    out.getString(3) shouldBe "en"
  }

  "TextOps.tokenEntropy" should "match hand-computed entropy and skip token-less docs" in {
    val out = TextOps.tokenEntropy(docs(
      (1L, "a a a a"),        // one type → H = 0
      (2L, "a b c d"),        // uniform over 4 → H = ln 4
      (3L, "a a b"),          // H = ln 3 − (2 ln 2)/3
      (4L, "")))              // no tokens → no row
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out(1L) shouldBe 0.0
    out(2L) shouldBe r6(math.log(4))
    out(3L) shouldBe r6(math.log(3) - 2 * math.log(2) / 3)
    out.contains(4L) shouldBe false
  }

  it should "split BPE-ish runs on symbol boundaries" in {
    val st = TextOps.textStats(docs((1L, "ab12,cd!"))).collect().head
    st.getAs[Long]("n_bpeish") shouldBe 5L // ab | 12 | , | cd | !
  }

  "TextOps.langId" should "prefer the highest marker score with first-wins ties" in {
    val out = TextOps.langId(docs(
      (1L, "the cat and the dog"),
      (2L, "der hund und die katze ist"),
      (3L, "xyz qqq"))).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
    out(3L) shouldBe "en" // all scores 0 → first in list order
  }

  "TextOps.luhnValidPii" should "validate candidates by the Luhn checksum on published vectors" in {
    val s = spark
    import s.implicits._
    // 4111111111111111 / 5500005555555559 are classic valid test PANs;
    // flipping the check digit must invalidate; runs outside [13,19]
    // digits are not candidates at all
    val d = docs(
      (1L, "pay with 4111111111111111 now"),
      (2L, "pay with 4111111111111112 now"),
      (3L, "two cards 4111111111111111 and 5500005555555559"),
      (4L, "short 411111 run and no other digits"),
      (5L, "no digits at all"),
      (6L, "a 25-digit run 1111111111111111111111111 is one overlong candidate"))
    val out = TextOps.luhnValidPii(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    out(1L) shouldBe ((1L, 1L, 1L))
    out(2L) shouldBe ((1L, 0L, 0L))
    out(3L) shouldBe ((2L, 2L, 1L))
    out(4L) shouldBe ((0L, 0L, 0L))
    out(5L) shouldBe ((0L, 0L, 0L))
    // the 25-digit run yields a greedy 19-digit candidate + a 6-digit
    // remainder below minLen — one candidate, and 19 ones is Luhn-checked
    // on its own merits (sum 1*10 + 2*9 = 28 → invalid)
    out(6L) shouldBe ((1L, 0L, 0L))
    // luhnSum Column agrees with a plain-Scala Luhn on random digit strings
    val rnd = new scala.util.Random(7)
    val cases = (0 until 50).map(_ =>
      (1 to (13 + rnd.nextInt(7))).map(_ => rnd.nextInt(10)).mkString)
    def scalaLuhn(v: String): Int =
      v.reverse.zipWithIndex.map { case (ch, i) =>
        val d = ch - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
    val got = cases.toDF("c").select(TextOps.luhnSum(col("c"))).as[Int].collect()
    got.toSeq shouldBe cases.map(scalaLuhn)
  }

  it should "mask only the validated numbers, format-preserving" in {
    val d = docs(
      (1L, "pay 4111111111111111 or 4111111111111112 then 5500005555555559 ok"),
      (2L, "no digits"))
    val out = TextOps.luhnMaskValid(d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe
      "pay ************1111 or 4111111111111112 then ************5559 ok"
    out(2L) shouldBe "no digits"
  }

  "TextOps.bm25TopK" should "match a plain-Scala BM25 replay and rank deterministically" in {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "spark engine query plan spark"),
      (2L, "spark scala library"),
      (3L, "query planner costs"),
      (4L, "zebra topic entirely unrelated"),
      (5L, "spark spark spark spark spark spark spark spark"))
    val d = docs(corpus: _*)
    val q = Seq((100L, "spark query"), (200L, "zebra")).toDF("query_id", "qtext")
    val got = TextOps.bm25TopK(d, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // plain-Scala replay with the same association order
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length).sum.toDouble / n
    def contrib(term: String, id: Long): Long = {
      val tf = toks.toMap.apply(id).count(_ == term).toDouble
      if (tf == 0) 0L
      else {
        val df = toks.count(_._2.contains(term)).toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val dl = toks.toMap.apply(id).length.toDouble
        val c = idf * ((tf * (1.2 + 1.0)) /
          (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl))))
        math.floor(c * 1000000.0 + 0.5).toLong
      }
    }
    val expect = Seq(100L -> Seq("spark", "query"), 200L -> Seq("zebra")).flatMap {
      case (qid, terms) =>
        corpus.map(_._1)
          .map(id => (id, terms.map(t => contrib(t, id)).sum))
          .filter(_._2 != 0L)
          .sortBy { case (id, su) => (-su, id) }
          .take(3).zipWithIndex
          .map { case ((id, su), i) => (qid, (i + 1).toLong, id, su) }
    }
    got.toSeq.sorted shouldBe expect.sorted
    // doc 5 is pure spark-spam but long; length norm must keep doc 1
    // (two distinct matching terms) on top for query 100
    got.filter(r => r._1 == 100L && r._2 == 1L).map(_._3).toSeq shouldBe Seq(1L)
    // partition invariance
    TextOps.bm25TopK(d.repartition(7), q.repartition(3), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted shouldBe got.toSeq.sorted
    // ranking runs on a group limit, not a window over every candidate
    val ranked = TextOps.bm25TopK(d, q, k = 3)
    ranked.collect()
    ranked.queryExecution.executedPlan.toString should include("WindowGroupLimit")
    graft.RankLimits.unboundedRankingWindows(ranked.queryExecution.executedPlan) shouldBe empty
  }

  "TextOps.tfidf" should "assemble vectors that scatter the long format and bridge text into cosine space" in {
    val s = spark
    import s.implicits._
    val a = "spark scala engine " * 5 + "query plan"
    val aNear = "spark scala engine " * 5 + "query planner"
    val far = "unrelated words entirely different topic zebra"
    val d = docs((1L, a), (2L, aNear), (3L, far))
    val dim = 32
    // the dense form is exactly the per-doc scatter of the long form
    val long = TextOps.tfidfBuckets(d, dim).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = TextOps.tfidfVectors(d, dim, l2Normalize = false)
      .collect().map(p => p.id -> p.vec).toMap
    for ((id, b, w) <- long)
      vecs(id)(b.toInt) shouldBe w +- 1e-12
    long.groupBy(_._1).foreach { case (id, rows) =>
      vecs(id).count(_ != 0.0) shouldBe rows.map(_._2).distinct.size
    }
    // L2-normalized cosine separates near-dup text from unrelated text —
    // the bridge the semantic dedup path needs
    val nv = TextOps.tfidfVectors(d, dim).collect().map(p => p.id -> p.vec).toMap
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (u, v) => u * v }.sum
    dot(nv(1L), nv(2L)) should be > 0.9
    dot(nv(1L), nv(3L)) should be < 0.5
    // empty docs have no vector; invalid dim fails loudly
    TextOps.tfidfVectors(docs((9L, "  ")), dim).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      TextOps.tfidfBuckets(d, 0)
  }

  "TextOps.chunkDocuments" should "tile with stride overlap and a short tail" in {
    // 10 tokens, maxTokens=4, stride=3 → starts 0,3,6,9; the last window
    // is 1 token (short, not padded)
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextOps.chunkDocuments(docs((7L, text)), maxTokens = 4,
      stride = 3).orderBy("chunk_index").collect()
    out.map(_.getAs[Long]("chunk_index")).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out.map(_.getAs[String]("chunk_text")).toSeq shouldBe Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10")
    out.map(_.getAs[Long]("chunk_tokens")).toSeq shouldBe Seq(4L, 4L, 4L, 1L)
    // disjoint tiling when stride == maxTokens: chunks concatenate back to
    // the original token stream
    val tiled = TextOps.chunkDocuments(docs((7L, text)), maxTokens = 4,
      stride = 4).orderBy("chunk_index").collect()
    tiled.map(_.getAs[String]("chunk_text")).mkString(" ") shouldBe text
    // zero-token documents produce no chunks; invalid knobs fail loudly
    TextOps.chunkDocuments(docs((8L, "   ")), 4, 3).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      TextOps.chunkDocuments(docs((9L, "a")), 0, 3)
    an[IllegalArgumentException] should be thrownBy
      TextOps.chunkDocuments(docs((9L, "a")), 4, 0)
  }

  "TextOps.fingerprints" should "be position-robust" in {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val prefixed = "zz " + a
    val fa = TextOps.fingerprints(docs((1L, a))).collect().map(_.getLong(1)).toSet
    val fb = TextOps.fingerprints(docs((2L, prefixed))).collect().map(_.getLong(1)).toSet
    // winnowed fingerprints of a shifted copy share most minima
    (fa intersect fb).size.toDouble / fa.size should be >= 0.5
  }

  "Ann.bruteTopK and lshTopK" should "rank by cosine with LSH recall" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val pts = (0L until 200L).map(i => graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(20))
    val exact = Ann.bruteTopK(corpus, queries, 5)
    exact.groupBy("i").count().collect().foreach(_.getLong(1) shouldBe 5L)
    // rank 1 is the most similar non-self neighbor
    val approx = Ann.lshTopK(corpus, queries, 5, tables = 48, bits = 5, dim = 16, seed = 1L)
    val hits = approx.join(exact.select("i", "j"), Seq("i", "j"), "left_semi").count()
    hits.toDouble / exact.count() should be >= 0.8
  }

  "Ann.ivfBuild/ivfTopK" should "index deterministically and reach useful recall" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(9)
    // clustered corpus: 10 centers ± small noise — the regime IVF is for
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian() * 5))
    val pts = (0L until 300L).map { i =>
      val c = centers((i % 10).toInt)
      graft.tsne.Point(i, c.map(_ + rnd.nextGaussian() * 0.3))
    }
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(30))
    val idx = Ann.ivfBuild(corpus, nlist = 10, iters = 5, seed = 1L)
    idx.centroids.length shouldBe 10
    // same seed → identical index
    val idx2 = Ann.ivfBuild(corpus, nlist = 10, iters = 5, seed = 1L)
    idx.centroids.map(_.toSeq).toSeq shouldBe idx2.centroids.map(_.toSeq).toSeq
    val exact = Ann.bruteTopK(corpus, queries, 5).select("i", "j")
    val approx = Ann.ivfTopK(idx, queries, 5, nprobe = 2)
    val hits = approx.join(exact, Seq("i", "j"), "left_semi").count()
    // on clustered data, probing 2/10 cells recovers nearly all neighbors
    hits.toDouble / exact.count() should be >= 0.9
  }

  "Ann.pqBuild/pqTopK" should "quantize deterministically and reach useful recall" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val pts = (0L until 300L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(30))
    val idx = Ann.pqBuild(corpus, m = 8, ksub = 32, iters = 5, seed = 1L)
    idx.codebook.length shouldBe 8
    idx.codebook(0).length shouldBe 32
    // same seed, same input → identical codebook AND identical codes (like
    // the IVF pin; across partitionings the centroid means can differ in
    // final ulps from reduceByKey's partial-sum order)
    val idx2 = Ann.pqBuild(corpus, m = 8, ksub = 32, iters = 5, seed = 1L)
    idx.codebook.map(_.map(_.toSeq).toSeq).toSeq shouldBe
      idx2.codebook.map(_.map(_.toSeq).toSeq).toSeq
    val c1 = idx.codes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c2 = idx2.codes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    c2 shouldBe c1
    // ADC recall vs exact cosine on isotropic data (the hard case): fine
    // quantization (2-dim subspaces, 32 centroids) recovers most of top-5
    val exact = Ann.bruteTopK(corpus, queries, 5).select("i", "j")
    val approx = Ann.pqTopK(idx, queries, 5)
    val hits = approx.join(exact, Seq("i", "j"), "left_semi").count()
    hits.toDouble / exact.count() should be >= 0.6
    idx.release(); idx2.release()
  }

  "Ann.ivfPqBuild/ivfPqTopK" should "compose both quantizers and only scan probed cells" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // isotropic corpus, like the PQ spec: tightly-clustered unit vectors
    // share one PQ code, so ADC cannot rank WITHIN a cluster and composed
    // recall is undefined there — the honest regime for the composition is
    // the one PQ itself can rank (the routing guide sends clustered-data
    // queries to ivfTopK, which rescores exact vectors)
    val pts = (0L until 300L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(30))
    val idx = Ann.ivfPqBuild(corpus, nlist = 10, m = 8, ksub = 32,
      iters = 5, seed = 1L)
    // the coded table is (id, cell, codes): m bytes + a cell per vector
    idx.coded.columns.toSeq shouldBe Seq("id", "cell", "codes")
    idx.coded.count() shouldBe 300L
    idx.coded.collect().foreach(r => r.getAs[Array[Byte]](2).length shouldBe 8)
    // deterministic: same seed → identical coded table
    val idx2 = Ann.ivfPqBuild(corpus, nlist = 10, m = 8, ksub = 32,
      iters = 5, seed = 1L)
    idx2.coded.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getAs[Array[Byte]](2).toSeq)).toSet shouldBe
      idx.coded.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    // composed recall: 6/10 probes on isotropic data — pays BOTH
    // quantizers' losses, so the floor sits under pqTopK's 0.6
    val exact = Ann.bruteTopK(corpus, queries, 5).select("i", "j")
    val approx = Ann.ivfPqTopK(idx, queries, 5, nprobe = 6)
    val hits = approx.join(exact, Seq("i", "j"), "left_semi").count()
    hits.toDouble / exact.count() should be >= 0.5
    // every returned neighbor lies in a cell the query probed — the scan
    // really is bounded by the probe set, not just reranked afterwards
    val cellOf = idx.coded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = idx.centroids
    val probed = queries.collect().map { q =>
      val u = q.vec.clone()
      val n = math.sqrt(u.map(x => x * x).sum); u.indices.foreach(i => u(i) /= n)
      q.id -> cents.indices.map(c =>
        (c, graft.tsne.Distances.sqEuclidean(u, cents(c))))
        .sortBy { case (c, d) => (d, c) }.take(6).map(_._1).toSet
    }.toMap
    approx.collect().foreach { r =>
      probed(r.getLong(0)) should contain(cellOf(r.getLong(1)))
    }
    idx.release(); idx2.release()
  }

  "Ann.hardNegatives" should "rank the closest rows below the near-dup bar and never leak a positive" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val base = (0L until 100L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    // plant exact copies of the first 5 points — cosine 1.0 near-dups
    // that MUST be excluded from their own negative sets
    val dups = (0L until 5L).map(i =>
      graft.tsne.Point(1000L + i, base(i.toInt).vec.clone()))
    val corpus = s.createDataset(base ++ dups)
    val queries = s.createDataset(base.take(5))
    val got = Ann.hardNegatives(corpus, queries, 5, thetaDup = 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(2).toInt) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    got.size shouldBe 25
    // brute reference: cosine to every other row, band-filtered, ranked
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val all = base ++ dups
    queries.collect().foreach { q =>
      val expect = all.filter(_.id != q.id)
        .map(p => (p.id, cos(q.vec, p.vec)))
        .filter(_._2 < 0.45)
        .sortBy { case (j, sim) => (-sim, j) }
        .take(5)
      (1 to 5).foreach { rn =>
        val (j, sim) = got((q.id, rn))
        j shouldBe expect(rn - 1)._1
        sim shouldBe expect(rn - 1)._2 +- 1e-9
        sim should be < 0.45
        // the planted duplicate (cosine 1.0) never appears
        j should not be (1000L + q.id)
      }
    }
  }

  "Ann.sqBuild/sqTopK" should "encode near-losslessly and score by the folded affine decode" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val pts = (0L until 300L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(30))
    val idx = Ann.sqBuild(corpus)
    idx.mins.length shouldBe 16
    val codes = idx.codes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    codes.size shouldBe 300
    codes.values.foreach(_.length shouldBe 16)
    // min/max training is exact (no float-sum order anywhere), so codes
    // are bit-identical across partitionings — the determinism pin
    val idx2 = Ann.sqBuild(corpus.repartition(7))
    idx2.mins.toSeq shouldBe idx.mins.toSeq
    idx2.deltas.toSeq shouldBe idx.deltas.toSeq
    idx2.codes.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap shouldBe
      codes.map { case (k, v) => k -> v.toSeq }
    // round-trip fidelity: every decoded dim within half a quantization
    // step of the unit vector (|v − v̂| ≤ Δ/510, the 8-bit error bound)
    // mirror Ann.unit's exact formulation (multiply by the reciprocal —
    // dividing instead lands 1 ulp off and breaks the bit-parity pin)
    def unit(v: Array[Double]): Array[Double] = {
      val inv = 1.0 / math.sqrt(v.map(x => x * x).sum); v.map(_ * inv)
    }
    pts.foreach { p =>
      val u = unit(p.vec)
      val c = codes(p.id)
      u.indices.foreach { d =>
        val dec = idx.mins(d) + (c(d) & 0xFF) / 255.0 * idx.deltas(d)
        math.abs(dec - u(d)) should be <= idx.deltas(d) / 510.0 + 1e-12
      }
    }
    // score exactness: sqTopK's sim equals the same base + Σ w·code fold
    // computed by a plain-Scala reference, bit-for-bit
    val approx = Ann.sqTopK(idx, queries, 5)
    val got = approx.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    got.foreach { case ((i, j), sim) =>
      val u = unit(pts(i.toInt).vec)
      val c = codes(j)
      var base = 0.0
      val w = new Array[Double](u.length)
      u.indices.foreach { d => base += u(d) * idx.mins(d); w(d) = u(d) * idx.deltas(d) / 255.0 }
      var acc = base
      u.indices.foreach(d => acc += w(d) * (c(d) & 0xFF))
      sim shouldBe acc
    }
    // 8 bits/dim on 16-dim unit vectors is near-lossless: recall ≈ 1
    val exact = Ann.bruteTopK(corpus, queries, 5).select("i", "j")
    val hits = approx.join(exact, Seq("i", "j"), "left_semi").count()
    hits.toDouble / exact.count() should be >= 0.9
    idx.release(); idx2.release()
  }

  "Ann.ivfPqRefineTopK" should "lift recall to the probe ceiling by exact rescore of the shortlist" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val pts = (0L until 300L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val queries = s.createDataset(pts.take(30))
    val idx = Ann.ivfPqBuild(corpus, nlist = 10, m = 8, ksub = 32,
      iters = 5, seed = 1L)
    val exact = Ann.bruteTopK(corpus, queries, 5).select("i", "j")
    val adc = Ann.ivfPqTopK(idx, queries, 5, nprobe = 6)
    val refined = Ann.ivfPqRefineTopK(idx, corpus, queries, 5, nprobe = 6,
      refine = 4)
    val adcHits = adc.join(exact, Seq("i", "j"), "left_semi").count()
    val refHits = refined.join(exact, Seq("i", "j"), "left_semi").count()
    // exact rescore can only add recall over ADC ranking of the same
    // probe set, and must clear the contract floor with margin
    refHits should be >= adcHits
    refHits.toDouble / exact.count() should be >= 0.75
    // the refined neighbors still come from probed cells only — refine
    // reorders the shortlist, it cannot resurrect unprobed rows
    val cellOf = idx.coded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = idx.centroids
    val probed = queries.collect().map { q =>
      val u = q.vec.clone()
      val n = math.sqrt(u.map(x => x * x).sum); u.indices.foreach(i => u(i) /= n)
      q.id -> cents.indices.map(c =>
        (c, graft.tsne.Distances.sqEuclidean(u, cents(c))))
        .sortBy { case (c, d) => (d, c) }.take(6).map(_._1).toSet
    }.toMap
    refined.collect().foreach { r =>
      probed(r.getLong(0)) should contain(cellOf(r.getLong(1)))
    }
    idx.release()
  }

  "Ann.pqTopK" should "score a 10k-query batch fully distributed, invariant to query blocking" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val pts = (0L until 200L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = s.createDataset(pts)
    val idx = Ann.pqBuild(corpus, m = 8, ksub = 32, iters = 3, seed = 1L)
    // 10k queries as a genuine distributed Dataset — the round-8 design
    // would have collected all of them and built 10k LUTs driver-side;
    // the rewrite only ever ships the codebook broadcast, so this runs
    // with per-task LUT memory of |Q|/queryParts blocks
    val queries = s.createDataset((10000L until 20000L).map(i =>
      graft.tsne.Point(i, Array.fill(16)(rnd.nextGaussian())))).repartition(16)
    val r8 = Ann.pqTopK(idx, queries, 3, queryParts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    r8.size shouldBe 10000 * 3
    // block height must not change results: same scores whatever the
    // query partitioning (the per-task LUT build is per-query arithmetic)
    val sub = queries.filter(_.id < 10100L)
    val r1 = Ann.pqTopK(idx, sub, 3, queryParts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val r4 = Ann.pqTopK(idx, sub, 3, queryParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    r4 shouldBe r1
    r1.subsetOf(r8) shouldBe true
    idx.release()
  }

  "Dedup.semanticDedup" should "match the brute-force semantic clustering" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    // 10 tight true clusters; nlist = 25 OVER-segments them, so true
    // near-dup pairs straddle k-means cell boundaries — the case the
    // second probe exists for
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian() * 5))
    val pts = (0L until 300L).map { i =>
      val c = centers((i % 10).toInt)
      graft.tsne.Point(i, c.map(_ + rnd.nextGaussian() * 0.3))
    }
    val corpus = s.createDataset(pts)
    val theta = 0.99
    // ground truth: exact all-pairs cosine >= theta, then the same CC
    val va = corpus.toDF().select(col("id").as("i"), col("vec").as("va"))
    val vb = corpus.toDF().select(col("id").as("j"), col("vec").as("vb"))
    val exactPairs = va.crossJoin(vb).where(col("i") < col("j"))
      .where(graft.tsne.Distances.cosineSimCol(col("va"), col("vb")) >= theta)
      .select("i", "j")
    exactPairs.count() should be > 0L
    val truth = Dedup.duplicateClusters(corpus.toDF().select("id"), exactPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.semanticDedup(corpus, theta, nlist = 25, probes = 2,
      iters = 5, seed = 17L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.length shouldBe 300
    got.map(t => t._1 -> t._2).toMap shouldBe truth
    // keep flags mark exactly the cluster representatives
    forAll(got) { case (id, cl, keep) =>
      keep shouldBe (if (id == cl) 1L else 0L)
    }
    // the candidate generation stayed cell-bounded: far fewer scored
    // pairs than the N(N-1)/2 all-pairs product
    val cands = Ann.semanticNearDupPairs(corpus, theta = -1.0, nlist = 25,
      probes = 2, iters = 5, seed = 17L).count()
    cands.toDouble should be < (300.0 * 299 / 2 * 0.5)
    // degenerate knobs stay total: probes > nlist clamps to every cell
    // (all-pairs candidates — correct, just not sub-quadratic), tiny
    // corpora with nlist > N train on N centroids
    val tiny = s.createDataset(pts.take(5))
    val allPairs = Ann.semanticNearDupPairs(tiny, theta = -1.0, nlist = 3,
      probes = 8, iters = 2, seed = 17L).count()
    allPairs shouldBe 10L // C(5,2): every pair survives somewhere
    Ann.semanticNearDupPairs(tiny, theta = -1.0, nlist = 64,
      probes = 2, iters = 2, seed = 17L).count() should be > 0L
  }

  "normalizeText + exactCanonicalBy" should "group case/punct/space variants" in {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "goodbye world"), (5L, "héllo wörld")).toDF("doc_id", "text")
    val norms = docs.select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    norms(1L) shouldBe "hello world"
    norms(2L) shouldBe "hello world"
    norms(3L) shouldBe "hello world"
    norms(5L) shouldBe "héllo wörld" // unicode letters survive
    val canon = Dedup.exactCanonicalBy(docs, TextOps.normalizeText(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    canon(1L) shouldBe 1L
    canon(2L) shouldBe 1L
    canon(3L) shouldBe 1L
    canon(4L) shouldBe 4L
    canon(5L) shouldBe 5L
  }

  "unigramLogProb" should "score by hand-checkable corpus-relative frequencies" in {
    val s = spark
    import s.implicits._
    // corpus: tokens a×2, b×2 → p(a)=p(b)=0.5
    val docs = Seq((1L, "a a b"), (2L, "b"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    got(1L)._1 shouldBe 3L
    got(1L)._2.get shouldBe math.rint(math.log(0.5) * 1e6) / 1e6 +- 1e-9
    got(2L)._1 shouldBe 1L
    got(2L)._2.get shouldBe math.rint(math.log(0.5) * 1e6) / 1e6 +- 1e-9
    // zero-token doc: present, unscored
    got(3L) shouldBe ((0L, None))
    // rare vocabulary scores strictly lower than common vocabulary
    val corpus = ((1L to 20L).map(i => (i, "x y z")) :+ (99L, "qq ww ee"))
      .toDF("doc_id", "text")
    val scores = TextOps.unigramLogProb(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    scores(99L) should be < scores(1L)
  }

  "bigramLogProb" should "score by hand-checkable conditional probabilities" in {
    val s = spark
    import s.implicits._
    // bigram lefts: a appears twice → p(b|a) = p(c|a) = 0.5
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    got(1L)._1 shouldBe 1L
    got(1L)._2.get shouldBe math.rint(math.log(0.5) * 1e6) / 1e6 +- 1e-9
    got(2L)._2.get shouldBe math.rint(math.log(0.5) * 1e6) / 1e6 +- 1e-9
    got(3L) shouldBe ((0L, None)) // single token: no bigram to score
    // a doc of corpus-typical bigrams outranks one pairing the same left
    // words with rare continuations (all-unique bigrams from all-unique
    // lefts would score p=1 — the conditional-LM blind spot, which is why
    // unigramLogProb stays alongside this signal)
    val corpus = ((1L to 10L).map(i => (i, "x y x y")) :+ (99L, "x q x s"))
      .toDF("doc_id", "text")
    val scores = TextOps.bigramLogProb(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    scores(99L) should be < scores(1L)
  }

  "Prototypes.topPrototypes" should "rank by exact cosine to the cluster mean" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 3))
    val rows = (0L until 120L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(_ + rnd.nextGaussian() * 0.5), (i % 4).toInt)
    }
    val df = rows.toDF("id", "vec", "cluster")
    val got = Prototypes.topPrototypes(df, "cluster", "id", "vec", k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    got.length shouldBe 12 // 4 clusters x 3
    // brute-force truth in plain Scala
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCluster = rows.groupBy(_._3)
    byCluster.foreach { case (cl, members) =>
      val dim = members.head._2.length
      val cent = Array.tabulate(dim)(d => members.map(_._2(d)).sum / members.size)
      val expect = members.map(m => (m._1, cos(m._2, cent)))
        .sortBy(t => (-t._2, t._1)).take(3)
      val gotCl = got.filter(_._1 == cl).sortBy(_._4)
      gotCl.map(_._2) shouldBe expect.map(_._1)
      gotCl.zip(expect).foreach { case ((_, _, sim, _), (_, esim)) =>
        sim shouldBe esim +- 1e-9
      }
    }
  }

  "tokens" should "not mint empty tokens from leading/trailing whitespace" in {
    val s = spark
    import s.implicits._
    // "  a b " must tokenize — and therefore shingle/fingerprint —
    // identically to "a b"; Java split(regex, -1) alone would keep ""
    val df = Seq((1L, "  a b "), (2L, "a b"), (3L, "   ")).toDF("doc_id", "text")
    val toks = df.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    toks(1L) shouldBe Seq("a", "b")
    toks(2L) shouldBe Seq("a", "b")
    toks(3L) shouldBe Seq.empty
    val stats = TextOps.textStats(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    stats(1L) shouldBe 2L
    stats(2L) shouldBe 2L
  }

  "LSH signatures" should "reject vectors whose width disagrees with the hyperplanes" in {
    val s = spark
    import s.implicits._
    val pts = s.createDataset(Seq(graft.tsne.Point(1L, Array.fill(32)(1.0))))
    val ex = intercept[Exception] {
      Ann.lshNearDupPairs(pts, theta = 0.9, tables = 2, bits = 4, dim = 64).count()
    }
    ex.getMessage should include("64-dim")
  }

  "repetitionSignals" should "score duplication on hand-checkable documents" in {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // 1 type / 4 tokens; bigrams all "a a"
      (2L, "w x y z"),          // no repetition anywhere
      (3L, "p q p q p q"),      // trigrams: "p q p", "q p q" ×… duplicated
      (4L, "solo"))             // too short for any n-gram
      .toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    got(1L) shouldBe ((0.75, 1.0, 0.5))      // 3 bigrams "a a"; 2 trigrams, 1 distinct
    got(2L) shouldBe ((0.0, 0.333333, 0.0))  // 3 distinct bigrams, top 1/3
    got(3L)._1 shouldBe 0.666667             // 2 types / 6 tokens, rounded
    got(3L)._2 shouldBe 0.6                  // "p q" 3 of 5 bigrams
    got(3L)._3 shouldBe 0.5                  // 4 trigrams, 2 distinct
    got(4L) shouldBe ((0.0, 0.0, 0.0))       // short-doc left joins → 0
  }

  "decontaminate" should "flag corpus docs sharing an n-gram with the benchmark" in {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"), // shares "quick brown fox"
      (2L, "entirely different words here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val got = TextOps.decontaminate(corpus, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got(1L) shouldBe ((1L, 1L)) // exactly "quick brown fox" overlaps
    got(2L) shouldBe ((0L, 0L))
  }

  "contaminationOverlap" should "grade overlap fractions and flag by the integer rule" in {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs"), // 1 of 5 grams hits
      (2L, "a quick brown fox appears"),           // 3 of 3 grams hit
      (3L, "entirely different words here now"),   // 0 of 3
      (4L, "too short"))                           // < n tokens: no grams
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val got = TextOps.contaminationOverlap(corpus, bench, n = 3, pctThreshold = 20)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    got(1L) shouldBe ((5L, 1L, 0.2, 1L))  // 1*100 >= 5*20 — boundary flags
    got(2L) shouldBe ((3L, 3L, 1.0, 1L))
    got(3L) shouldBe ((3L, 0L, 0.0, 0L))
    got(4L) shouldBe ((0L, 0L, 0.0, 0L)) // gramless doc: 0/0 -> 0, unflagged
  }

  it should "be the graded refinement of decontaminate's binary flag" in {
    val s = spark
    import s.implicits._
    // one stock phrase in a long doc: binary flag fires, graded does not
    val corpus = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "quick brown fox lambda mu nu xi omicron pi rho sigma tau"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox appears")).toDF("doc_id", "text")
    val binary = TextOps.decontaminate(corpus, bench).collect().head
    binary.getLong(2) shouldBe 1L
    val graded = TextOps.contaminationOverlap(corpus, bench).collect().head
    graded.getLong(4) shouldBe 0L // 1 of 19 grams is below 20%
  }

  it should "equal its Bloom-prefiltered twin row-for-row" in {
    val s = spark
    import s.implicits._
    // a corpus big enough that Bloom false positives WILL occur at a tiny
    // bit budget — the verify join must remove every one of them
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(11L)
    val corpus = (0L until 300L).map { i =>
      (i, Array.fill(8)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val bench = (0L until 40L).map { i =>
      (1000L + i, Array.fill(6)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val exact = rows(TextOps.contaminationOverlap(corpus, bench))
    // bitsPerKey = 1: deliberately saturated filter, heavy false positives
    rows(TextOps.contaminationOverlapBloom(corpus, bench,
      bitsPerKey = 1, k = 1)) shouldBe exact
    // production setting too
    rows(TextOps.contaminationOverlapBloom(corpus, bench)) shouldBe exact
  }

  "labelBackfill" should "inherit the majority label with deterministic fallback" in {
    val s = spark
    import s.implicits._
    // unlabeled = doc_id % 7 == 0 (7, 14, 21, 28)
    // cluster {7,1,2,3}: labeled en,en,es -> 7 inherits en
    // cluster {14,4}: labeled peer es -> 14 inherits es
    // cluster {21,28}: all unlabeled -> fallback, not backfilled
    // singleton 35 would be unlabeled+alone -> fallback; labeled 5 keeps own
    val d = Seq(
      (7L, "xx"), (1L, "en"), (2L, "en"), (3L, "es"),
      (14L, "xx"), (4L, "es"),
      (21L, "xx"), (28L, "xx"),
      (35L, "xx"), (5L, "fr"))
      .toDF("doc_id", "lang")
    val pairs = Seq((7L, 1L), (1L, 2L), (2L, 3L), (14L, 4L), (21L, 28L))
      .toDF("i", "j")
    val unl = col("doc_id") % 7 === 0
    val got = Dedup.labelBackfill(d, pairs, unlabeled = unl)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    got(7L) shouldBe (("en", 1L))
    got(14L) shouldBe (("es", 1L))
    got(21L) shouldBe (("und", 0L)) // all-unlabeled cluster
    got(28L) shouldBe (("und", 0L))
    got(35L) shouldBe (("und", 0L)) // unlabeled singleton
    got(5L) shouldBe (("fr", 0L))
    got(1L) shouldBe (("en", 0L))   // labeled members never change
    got(3L) shouldBe (("es", 0L))
  }

  it should "vote only over labeled members, break ties to the smallest label" in {
    val s = spark
    import s.implicits._
    // cluster {7, 10, 20, 30}: labeled votes de:1 (10), ar:1 (20), zz:1 (30)
    // -> tie broken to 'ar' for unlabeled 7; unlabeled members never vote
    val d = Seq((7L, "xx"), (10L, "de"), (20L, "ar"), (30L, "zz"),
      (14L, "ignored"), (6L, "en"))
      .toDF("doc_id", "lang")
    val pairs = Seq((7L, 10L), (10L, 20L), (20L, 30L), (7L, 14L))
      .toDF("i", "j")
    val unl = col("doc_id") % 7 === 0
    val got = Dedup.labelBackfill(d, pairs, unlabeled = unl)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    got(7L) shouldBe (("ar", 1L))
    got(14L) shouldBe (("ar", 1L))
    got(10L) shouldBe (("de", 0L))
    got(6L) shouldBe (("en", 0L))
    // stable under repartitioning (CC + vote are order-independent)
    val again = Dedup.labelBackfill(d.repartition(7), pairs.repartition(5),
      unlabeled = unl)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    again shouldBe got
  }

  "sourceOverlapMatrix" should "count pairs per unordered source pair incl. the diagonal" in {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "web"), (2L, "books"), (3L, "web"), (4L, "web"), (5L, "code"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("i", "j")
    val got = Dedup.sourceOverlapMatrix(d, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (1,2)=(web,books), (2,3)=(books,web) -> books/web: 2
    // (1,3),(3,4) within web: 2; (4,5)=(web,code) -> code/web: 1
    got shouldBe Map(
      ("books", "web") -> 2L, ("web", "web") -> 2L, ("code", "web") -> 1L)
  }

  "Multimodal" should "round-trip binary payloads through the stub decoder" in {
    val s = spark
    import s.implicits._
    val mm = Multimodal.fromDocuments(
      Seq((7L, "hello world", "en", "src", 11L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    mm.schema("payload").dataType shouldBe org.apache.spark.sql.types.BinaryType
    val feats = Multimodal.decodeFeatures(mm, 4).collect().head.getSeq[Double](1)
    feats.length shouldBe 4
    // deterministic: equals the JVM-side stub on the same bytes
    val expected = Multimodal.decodeStub(4)("hello world".getBytes("UTF-8"))
    feats.toArray shouldBe expected
    forAll(feats) { f => f should (be >= 0.0 and be < 1.0) }
    val samp = Multimodal.frameSample(mm, 4).collect().head
    samp.getAs[Long]("byte_len") shouldBe 11L
    samp.getSeq[Long](3).length shouldBe 4
    samp.getSeq[Long](3).head shouldBe 'h'.toLong
  }

  it should "decode real PNGs through the same seam (ImageIO codec)" in {
    val s = spark
    import s.implicits._
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pixel(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val solid = png(5, 5)((_, _) => (30 << 16) | (60 << 8) | 90)
    val gradient = png(8, 8)((x, _) => { val v = x * 255 / 7; (v << 16) | (v << 8) | v })
    val mm = Seq((1L, solid), (2L, gradient)).toDF("id", "payload")
      .select(col("id"), lit("image").as("modality"), col("payload"),
        struct(org.apache.spark.sql.functions.length(col("payload"))
            .cast("long").as("byte_len"),
          lit("test").as("source")).as("meta"))

    val feats = Multimodal
      .decodeFeatures(mm, 16, Multimodal.decodeImageGrayscale)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    feats(1L).length shouldBe 16
    // solid color: every cell is the same BT.601 luma
    val luma = (0.299 * 30 + 0.587 * 60 + 0.114 * 90) / 255.0
    forAll(feats(1L).toSeq) { f => f shouldBe luma +- 1e-12 }
    // horizontal gradient: each row of the 4x4 grid increases left-to-right
    val g = feats(2L)
    for (row <- 0 until 4; c <- 0 until 3)
      g(row * 4 + c) should be < g(row * 4 + c + 1)
    // and matches the direct (non-Spark) decoder call bit-for-bit
    g shouldBe Multimodal.decodeImageGrayscale(16)(gradient)
    // non-image payloads fail loudly, not silently
    an[Exception] should be thrownBy
      Multimodal.decodeImageGrayscale(16)("not a png".getBytes("UTF-8"))
    // non-square featureDim is rejected up front
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeImageGrayscale(15)(solid)
  }

  it should "decode JPEGs through the same seam (lossy codec, same decoder)" in {
    val s = spark
    import s.implicits._
    // ImageIO dispatches on the payload's magic bytes, so the SAME decoder
    // covers JPEG — the dominant web-crawl image format. JPEG is lossy:
    // pin structure (solid stays near-solid, gradient stays monotone) and
    // Spark-seam ≡ direct-call bit-for-bit, not exact pixel values
    def jpeg(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pixel(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val solid = jpeg(8, 8)((_, _) => (120 << 16) | (120 << 8) | 120)
    val gradient = jpeg(32, 8)((x, _) => { val v = x * 255 / 31; (v << 16) | (v << 8) | v })
    val mm = Seq((1L, solid), (2L, gradient)).toDF("id", "payload")
      .select(col("id"), lit("image").as("modality"), col("payload"),
        struct(org.apache.spark.sql.functions.length(col("payload"))
            .cast("long").as("byte_len"),
          lit("test").as("source")).as("meta"))
    val feats = Multimodal
      .decodeFeatures(mm, 16, Multimodal.decodeImageGrayscale)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // solid mid-gray survives JPEG within compression tolerance
    forAll(feats(1L).toSeq) { f => f shouldBe (120.0 / 255.0) +- 0.05 }
    // gradient direction survives: leftmost column < rightmost column
    val g = feats(2L)
    for (row <- 0 until 4) g(row * 4) should be < g(row * 4 + 3)
    // Spark seam ≡ direct decoder call, bit for bit (determinism of the
    // decode itself, independent of the lossy encode)
    g shouldBe Multimodal.decodeImageGrayscale(16)(gradient)
  }

  it should "decode multi-frame GIFs through the frame-sampling seam" in {
    val s = spark
    import s.implicits._
    // a 5-frame animated GIF, frame f solid gray level f*50: the sampled
    // frames must decode to DIFFERENT per-frame grids in animation order
    def gif(frames: Seq[Int], w: Int = 6, h: Int = 6): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { level =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until w; y <- 0 until h)
          img.setRGB(x, y, (level << 16) | (level << 8) | level)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      out.toByteArray
    }
    val animated = gif(Seq(0, 50, 100, 150, 200))
    val still = gif(Seq(120))
    val mm = Seq((1L, animated), (2L, still)).toDF("id", "payload")
      .select(col("id"), lit("video").as("modality"), col("payload"),
        struct(org.apache.spark.sql.functions.length(col("payload"))
            .cast("long").as("byte_len"),
          lit("test").as("source")).as("meta"))
    // 3 sampled frames × 2×2 grid = 12 features
    val feats = Multimodal
      .decodeFeatures(mm, 12, Multimodal.decodeGifFrames(3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    feats(1L).length shouldBe 12
    // stride over 5 frames with n=3 probes frames 0, 1, 3 → distinct,
    // increasing gray levels; within a frame all 4 cells equal
    val perFrame = feats(1L).grouped(4).toSeq
    perFrame.foreach(g => g.toSet.size shouldBe 1)
    perFrame.map(_.head) shouldBe sorted
    perFrame.map(_.head).toSet.size shouldBe 3
    // a single-frame GIF strides onto frame 0 three times
    feats(2L).grouped(4).map(_.head).toSet.size shouldBe 1
    // frames-through-Spark ≡ the direct decoder call, bit-for-bit
    feats(1L) shouldBe Multimodal.decodeGifFrames(3)(12)(animated)
    feats(2L) shouldBe Multimodal.decodeGifFrames(3)(12)(still)
    // malformed payloads and bad dims fail loudly
    an[Exception] should be thrownBy
      Multimodal.decodeGifFrames(3)(12)("not a gif".getBytes("UTF-8"))
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeGifFrames(3)(10)(animated) // 10/3 not integral
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeGifFrames(4)(12)(animated) // 3 per frame: not square
  }

  it should "decode real WAVs through the same seam (javax.sound codec)" in {
    val s = spark
    import s.implicits._
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // synthesize a 16-bit mono PCM WAV: silence for the first half,
    // a full-scale square wave for the second — the segment-RMS envelope
    // must read ~0 then ~1
    def wav(samples: Array[Short], channels: Int = 1): Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, channels, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, i) =>
        bytes(2 * i) = (v & 0xFF).toByte
        bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(bytes), fmt,
          samples.length / channels),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val n = 800
    val halfLoud = wav(Array.tabulate(n)(i =>
      if (i < n / 2) 0 else if (i % 2 == 0) 32767 else -32767))
    // stereo: left full-scale, right silent → mono downmix is half-scale
    val stereo = wav(Array.tabulate(n)(i =>
      if (i % 2 == 0) 32767 else 0), channels = 2)

    val mm = Seq((1L, halfLoud), (2L, stereo)).toDF("id", "payload")
      .select(col("id"), lit("audio").as("modality"), col("payload"),
        struct(org.apache.spark.sql.functions.length(col("payload"))
            .cast("long").as("byte_len"),
          lit("test").as("source")).as("meta"))
    val feats = Multimodal
      .decodeFeatures(mm, 4, Multimodal.decodeWavWaveform)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    feats(1L).length shouldBe 4
    feats(1L)(0) shouldBe 0.0 +- 1e-9 // silent half
    feats(1L)(1) shouldBe 0.0 +- 1e-9
    feats(1L)(2) shouldBe 1.0 +- 1e-3 // full-scale square wave
    feats(1L)(3) shouldBe 1.0 +- 1e-3
    // stereo downmix: (1 + 0)/2 per frame → RMS ≈ 0.5 everywhere
    forAll(feats(2L).toSeq) { f => f shouldBe 0.5 +- 1e-3 }
    // matches the direct (non-Spark) decoder call bit-for-bit
    feats(1L) shouldBe Multimodal.decodeWavWaveform(4)(halfLoud)
    // non-audio payloads fail loudly, not silently
    an[Exception] should be thrownBy
      Multimodal.decodeWavWaveform(4)("not a wav".getBytes("UTF-8"))
  }

  it should "resize payloads by stride resampling, preserving the row shape" in {
    val s = spark
    import s.implicits._
    val mm = Multimodal.fromDocuments(
      Seq((7L, "hello world", "en", "src", 11L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val resized = Multimodal.resize(mm, 4)
    // same multimodal schema: downstream ops compose unchanged
    resized.schema("payload").dataType shouldBe org.apache.spark.sql.types.BinaryType
    val row = resized.collect().head
    val bytes = row.getAs[Array[Byte]]("payload")
    // out[i] = in[floor(i*11/4)] = in(0), in(2), in(5), in(8)
    bytes shouldBe Array('h', 'l', ' ', 'r').map(_.toByte)
    row.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("byte_len") shouldBe 4L
    // upsampling works too (nearest-neighbor repeats)
    val up = Multimodal.resize(mm, 22).collect().head.getAs[Array[Byte]]("payload")
    up.length shouldBe 22
    new String(up.filter(_ != 0), "UTF-8") should include("hheelllloo")
  }
}
