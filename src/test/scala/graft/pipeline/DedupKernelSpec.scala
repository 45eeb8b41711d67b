package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.unsafe.types.UTF8String

import graft.SuperstepPartitioner
import graft.expressions.TokenGramHashes
import graft.tsne.SparkTestBase

/** The packed-block MinHash kernel of [[Dedup]] and the native shingle
  * expression against verbatim copies of the code they replaced
  * ([[FormerDedup]]): the schema and the rows, doubles compared bit for
  * bit, must be `==` at 1, 2 and 7 shuffle partitions, over long and int
  * ids, on inputs with the shapes the former code had rules for. */
class DedupKernelSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val Partitions = Seq(1, 2, 7)

  /** A row's values, a double as its bits. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case a: scala.collection.Seq[_] => a.toList
    case v => v
  }

  private def sorted(df: DataFrame): (String, Seq[Seq[Any]]) =
    (df.schema.toString, df.collect().toSeq.map(bits).sortBy(_.toString))

  private def sameAsFormer(current: => DataFrame, former: => DataFrame): Unit =
    Partitions.foreach { p =>
      withClue(s"at $p shuffle partitions: ") {
        withShufflePartitions(p)(sorted(current) shouldBe sorted(former))
      }
    }

  /** Whitespace and encoding cases: tabs, newlines, leading and trailing
    * spaces, runs, NBSP (not `\s` in Java), vertical tab, form feed,
    * carriage returns, non-ASCII and astral UTF-8. */
  private val tricky = Seq(
    "a\tb c\nd e", "  a b c d e  ", "a  b   c\r\nd e", "a b c d e", "x\u000By\fz w",
    "über straße café ñandú", "日本 語 の テキスト です", "emoji 😀 pair 😀 end 😀",
    "\t\n ", "", "one", "a b", "a b c")

  /** Seeded near-duplicate documents over a small vocabulary, the tricky
    * texts, and the rule cases: null text, a null id, an id on two rows,
    * documents under n tokens. */
  private def corpus(seed: Long): Seq[(Option[Long], Option[String])] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "ü", "日本")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, text(8 + rnd.nextInt(20))))
    val dups = (0L until 10L).map(i => (100L + i, base(i.toInt)._2 + " eta"))
    val seps = (0 until 6).map(i => (200L + i, base(i)._2.replace(" ", Seq("\t", "  ", "\n", " \r\n ",
      " ", " ")(i))))
    (base ++ dups ++ seps).map { case (i, t) => (Option(i), Option(t)) } ++
      tricky.indices.map(k => (Option(300L + k), Option(tricky(k)))) ++
      Seq((Some(400L), None), (Some(401L), None), (None, Some(base(1)._2)), (None, Some(base(2)._2)),
        (Some(500L), Some(base(3)._2)), (Some(500L), Some("tail words here")),
        (Some(501L), Some(base(3)._2)), (Some(502L), Some("a b")), (Some(503L), Some("a b")))
  }

  private def longDocs(rows: Seq[(Option[Long], Option[String])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def intDocs(rows: Seq[(Option[Long], Option[String])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (i, t) => (i.map(_.toInt), t) }.toDF("doc_id", "text")
  }

  /** Ten copies of one text: every pair collides in every band. */
  private val identical = (1L to 10L).map(i => (Option(i), Option("the same words in every document")))

  "Dedup.gramHashes" should "equal the former lambda spelling on every text case" in {
    // the former `g` was nullable (never null); the shingle tables built
    // from it have the same schema
    def typed(df: DataFrame) = df.schema.map(f => s"${f.name}:${f.dataType}")
    for (docs <- Seq(longDocs(corpus(1L)), intDocs(corpus(2L))); n <- Seq(1, 2, 3, 5)) {
      val former = FormerDedup.gramHashes(docs, n, Seq("doc_id"), Nil)
      typed(Dedup.gramHashes(docs, n, Seq("doc_id"))) shouldBe typed(former)
      Partitions.foreach { p =>
        withShufflePartitions(p) {
          sorted(Dedup.gramHashes(docs, n, Seq("doc_id")))._2 shouldBe sorted(former)._2
        }
      }
      sameAsFormer(Dedup.shingles(docs, n, keepPos = true),
        former.select(col("doc_id"), posexplode(col("g")).as(Seq("pos", "sh_hash"))))
    }
  }

  "TokenGramHashes" should "give the same hashes interpreted and generated" in {
    val s = spark
    import s.implicits._
    val texts = (tricky ++ corpus(3L).flatMap(_._2)).map(Option(_)) :+ None
    val df = texts.toDF("text")
    val col3 = org.apache.spark.sql.graftglue.column(
      TokenGramHashes(org.apache.spark.sql.graftglue.expression(col("text")), 3))
    val generated = df.select(col3).collect().map(_.getSeq[Long](0).toList).toSeq
    generated shouldBe texts.map(t =>
      TokenGramHashes.hashes(t.map(UTF8String.fromString).orNull, 3).toList)
    generated.count(_.nonEmpty) should be > 40
    // the interpreted path: a plan Spark cannot compile whole-stage
    withSqlConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      df.select(col3).collect().map(_.getSeq[Long](0).toList).toSeq shouldBe generated
    }
  }

  "Dedup.minHashNearDups" should "equal the former joins over long and int ids" in {
    for (docs <- Seq(longDocs(corpus(4L)), intDocs(corpus(4L)))) {
      withShufflePartitions(2)(Dedup.minHashNearDups(docs, 3, 0.5).count() should be > 10L)
      for (theta <- Seq(0.5, 0.7))
        sameAsFormer(Dedup.minHashNearDups(docs, 3, theta), FormerDedup.minHashNearDups(docs, 3, theta))
    }
    // a parquet-read table: nullable ids
    val dir = java.nio.file.Files.createTempDirectory("dedup-kernel").toString
    longDocs(corpus(5L)).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    sameAsFormer(Dedup.minHashNearDups(read, 2, 0.6), FormerDedup.minHashNearDups(read, 2, 0.6))
  }

  it should "equal the former joins on an all-identical and an empty corpus" in {
    for (docs <- Seq(longDocs(identical), intDocs(identical), longDocs(Nil))) {
      sameAsFormer(Dedup.minHashNearDups(docs, 3, 0.7), FormerDedup.minHashNearDups(docs, 3, 0.7))
    }
    Dedup.minHashNearDups(longDocs(identical), 3, 0.7).count() shouldBe 45
  }

  "Dedup.minHashIncremental" should "equal the former joins, with and without a stored signature" in {
    def split(docs: DataFrame) =
      (docs.where(col("doc_id") % 3 === 0 || col("doc_id") >= 100),
        docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") < 100))
    val rows = corpus(6L).filter(_._1.isDefined)
    for (docs <- Seq(longDocs(rows), intDocs(rows))) {
      val (batch, older) = split(docs)
      sameAsFormer(Dedup.minHashIncremental(batch, older, None, 3, 0.5),
        FormerDedup.minHashIncremental(batch, older, None, 3, 0.5))
      val store = FormerDedup.signatureStore(older).localCheckpoint()
      sameAsFormer(Dedup.minHashIncremental(batch, older, Some(store), 3, 0.5),
        FormerDedup.minHashIncremental(batch, older, Some(store), 3, 0.5))
    }
    val (batch, older) = split(longDocs(identical))
    sameAsFormer(Dedup.minHashIncremental(batch, older, None, 3, 0.7),
      FormerDedup.minHashIncremental(batch, older, None, 3, 0.7))
  }

  "Dedup.signatureStore" should "equal the former rows but for the null-id ones" in {
    for (docs <- Seq(longDocs(corpus(7L)), intDocs(corpus(7L)), longDocs(identical))) {
      Partitions.foreach { p =>
        withShufflePartitions(p) {
          val (schema, rows) = sorted(Dedup.signatureStore(docs))
          schema shouldBe FormerDedup.signatureStore(docs).schema.toString
          rows shouldBe sorted(FormerDedup.signatureStore(docs).where(col("doc_id").isNotNull))._2
        }
      }
      // the former merged every null-id row into one set with 64 band rows;
      // no probe can match them (every probe compares ids)
      val nullRows = FormerDedup.signatureStore(docs).where(col("doc_id").isNull).count()
      nullRows shouldBe (if (docs.where(col("doc_id").isNull).count() > 0) 64 else 0)
    }
  }

  "Dedup.shingleSets" should "equal the former aggregate, one set per id" in {
    val docs = longDocs(corpus(8L))
    Partitions.foreach { p =>
      withShufflePartitions(p) {
        val part = SuperstepPartitioner.of(spark)
        val got = Dedup.shingleSets(docs, 3, part).collect()
        got.length shouldBe p
        for ((s, q) <- got.zipWithIndex) all(s.ids.map(part.partitionOf)) shouldBe q
        val sets = got.toSeq.flatMap(s =>
          s.ids.indices.map(k => s.ids(k) -> s.sh.slice(s.off(k), s.off(k + 1)).toList))
        sets.sortBy(_._1) shouldBe FormerDedup.shingleSets(docs, 3)
          .where(col("doc_id").isNotNull).collect().toSeq
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).sortBy(_._1)
      }
    }
  }

  private def withSqlConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
