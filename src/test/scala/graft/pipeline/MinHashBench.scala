package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Release, SuperstepPartitioner}

/** Measurement for the SCALE.md MinHash table, on documents shaped like
  * the benchmark's `dedup_graph` corpus: 10–100 words drawn from a 30-word
  * vocabulary, 5 % of the documents a copy of an earlier one with the word
  * "dup" appended, written as Parquet and read back. Per size it times,
  * as seconds:
  *
  *   - `shingles`: `Dedup.shingles(docs, 3).count()`;
  *   - `sets`: the shingle-set stage of the MinHash kernel,
  *     `Dedup.shingleSets(docs, 3, …).count()`;
  *   - `minhash`: `Dedup.minHashNearDups(docs, 3, 0.7)` and a collect of
  *     its pairs.
  *
  * Each is the median of five runs after one untimed run (three at 50k
  * documents or more). Runs `local[cores]` with as many shuffle partitions
  * (`cores` defaults to 2, the benchmark's setting) at 5,000 and 50,000
  * documents unless sizes are given.
  *
  * `sbt 'Test/runMain graft.pipeline.MinHashBench [--cores c] [N ...]'`
  */
object MinHashBench {

  private val Vocabulary = 30

  /** `n` seeded documents `(doc_id, text)` of the shape above. */
  private def documents(n: Int, seed: Long): Seq[(Long, String)] = {
    val rng = new java.util.Random(seed)
    val words = (0 until Vocabulary).map(w => s"w$w")
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(words(rng.nextInt(Vocabulary))).mkString(" ")
    }
    texts.indices.map(i => (i.toLong, texts(i)))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val (cores, sizes) = args.toList match {
      case "--cores" :: c :: rest => (c.toInt, rest.map(_.toInt))
      case rest => (2, rest.map(_.toInt))
    }
    val ns = if (sizes.nonEmpty) sizes else Seq(5000, 50000)
    val spark = SparkSession.builder().appName("minhash-bench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("minhash-bench")
    val part = SuperstepPartitioner.of(spark)
    var pairs = 0L
    val steps: Seq[(String, DataFrame => Unit)] = Seq(
      "shingles" -> (docs => Dedup.shingles(docs, 3).count()),
      "sets" -> { docs =>
        val sets = Dedup.shingleSets(docs, 3, part).localCheckpoint()
        sets.count()
        Release.rdd(sets)
      },
      "minhash" -> { docs =>
        val df = Dedup.minHashNearDups(docs, 3, 0.7)
        pairs = df.collect().length.toLong
        Release.checkpoint(df)
      })
    try for (n <- ns) {
      val path = dir.resolve(s"docs_$n").toString
      documents(n, 1L).toDF("doc_id", "text").write.parquet(path)
      val docs = spark.read.parquet(path)
      val reps = if (n >= 50000) 3 else 5
      val times = steps.map { case (name, step) =>
        step(docs)
        name -> median((1 to reps).map(_ => timed(step(docs))))
      }
      println(f"MINHASHBENCH n=$n%6d cores=$cores pairs=$pairs " +
        times.map { case (name, t) => f"${name}_s=$t%.3f" }.mkString(" "))
    } finally {
      spark.stop()
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    }
  }
}
