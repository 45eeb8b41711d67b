package perfbench

/** The benchmark's own seeded input generators. They use no program code,
  * so a change to the program cannot change what it is measured on, and
  * only `StrictMath` so the same seed gives bit-identical inputs on any JVM. */
final class Rng(seed: Long) {
  private var state = seed

  /** SplitMix64. */
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def nextDouble(): Double = (nextLong() >>> 11) / 9007199254740992.0 // 2^53

  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt

  /** Box-Muller; the second variate of each pair is discarded for simplicity. */
  def nextGaussian(): Double = {
    var u = nextDouble()
    while (u == 0.0) u = nextDouble()
    StrictMath.sqrt(-2.0 * StrictMath.log(u)) * StrictMath.cos(2.0 * math.Pi * nextDouble())
  }

  def shuffle[T](a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}

/** Documents table `(doc_id, text)`: lowercase words joined by single spaces. */
final case class Doc(doc_id: Long, text: String)

/** Directed or undirected edge `(src, dst)`. */
final case class Edge(src: Long, dst: Long)

object Gen {

  /** `n` points in `dim` dimensions from a `components`-way Gaussian mixture:
    * centers ~ N(0, spread²) per dimension, unit isotropic noise inside each
    * component, points assigned round-robin so every component has the same
    * size on every seed. Returns the rows in id order (id = row index). */
  def mixture(n: Int, dim: Int, components: Int, seed: Long,
              spread: Double = 4.0): Array[Array[Double]] = {
    val rng = new Rng(seed)
    val centers = Array.fill(components, dim)(rng.nextGaussian() * spread)
    Array.tabulate(n) { i =>
      val c = centers(i % components)
      Array.tabulate(dim)(d => c(d) + rng.nextGaussian())
    }
  }

  /** Documents shaped like the `documents` table the dedup queries read
    * (measured on the sf0.1 table; perfbench/README.md has the figures):
    * `n` documents of 10–100 words drawn uniformly from a `vocab`-word
    * vocabulary, so word trigrams are shared widely (every trigram of the
    * vocabulary occurs), and a share `dupShare` of them copies of a random
    * earlier document (original or copy) with the marker word "dup"
    * appended. A copy's trigram Jaccard with its source is (m − 2)/(m − 1)
    * for an m-word source, ≥ 0.88, and copies of copies form clusters of
    * three or four. Ids are a random permutation, so duplicates are not
    * adjacent. */
  def documents(n: Int, dupShare: Double, seed: Long, vocab: Int = 30): Array[Doc] = {
    val rng = new Rng(seed)
    val words = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab) {
        val w = new String(Array.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar))
        if (w != "dup") seen += w
      }
      seen.toArray
    }
    val texts = new Array[String](n)
    var k = 0
    while (k < n) {
      texts(k) =
        if (k > 0 && rng.nextDouble() < dupShare) texts(rng.nextInt(k)) + " dup"
        else Array.fill(10 + rng.nextInt(91))(words(rng.nextInt(vocab))).mkString(" ")
      k += 1
    }
    val ids = rng.shuffle(Array.tabulate(n)(_.toLong))
    Array.tabulate(n)(k => Doc(ids(k), texts(k)))
  }

  /** Distinct items per order, 1–14, weighted as measured on the sf0.1
    * `lineitem` table (distinct suppliers per order, `l_orderkey % 3 = 0`;
    * distinct parts per order, `l_orderkey % 4 = 0`, has the same shape). */
  private val ItemsPerOrder =
    Array(3660, 7292, 9828, 9589, 7942, 5337, 2991, 1439, 644, 251, 85, 28, 11, 4)

  /** Order lines `orders` × items: each order draws its item count from
    * [[ItemsPerOrder]] and its items uniformly from `0 until items`.
    * Returns the distinct items of each order, sorted. */
  def orderLines(orders: Int, items: Int, seed: Long): Array[Array[Long]] = {
    val rng = new Rng(seed)
    val total = ItemsPerOrder.sum
    Array.fill(orders) {
      var r = rng.nextInt(total)
      var c = 0
      while (r >= ItemsPerOrder(c)) { r -= ItemsPerOrder(c); c += 1 }
      Array.fill(c + 1)(rng.nextInt(items).toLong).distinct.sorted
    }
  }

  /** The k-core input as `q_kcore` builds it from `lineitem`: one edge
    * `(a, b)`, `a < b`, per order on which parts a and b both occur, so
    * pairs sharing several orders repeat. */
  def coOccurrence(lines: Array[Array[Long]]): Array[Edge] =
    for (items <- lines; i <- items.indices.toArray; j <- (i + 1 until items.length).toArray)
      yield Edge(items(i), items(j))

  /** The PageRank input as `q_pagerank` builds it from `lineitem`: order o
    * is node 2o, supplier s is node 2s + 1, every order–supplier link in
    * both directions, distinct. */
  def bipartite(lines: Array[Array[Long]]): Array[Edge] =
    lines.zipWithIndex.flatMap { case (items, o) =>
      items.flatMap(s => Array(Edge(2L * o, 2 * s + 1), Edge(2 * s + 1, 2L * o)))
    }
}
