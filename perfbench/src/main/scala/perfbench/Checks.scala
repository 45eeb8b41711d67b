package perfbench

import scala.collection.mutable

/** Driver-side reference computations and output checks. Each check returns
  * `None` when the output is correct and `Some(reason)` when it is not. They
  * use no program code, so they hold whatever the program does. */
object Checks {

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { val x = a(d) - b(d); s += x * x; d += 1 }
    s
  }

  /** Exact top-`k` neighbor ids of every row (squared Euclidean, ties by id),
    * self excluded. Row index = point id. */
  def topK(points: Array[Array[Double]], k: Int): Array[Array[Int]] =
    Array.tabulate(points.length) { i =>
      // insertion into a sorted k-slot buffer; ties keep the smaller id
      val ids = new Array[Int](k); val ds = new Array[Double](k)
      var filled = 0; var j = 0
      while (j < points.length) {
        if (j != i) {
          val d = sqDist(points(i), points(j))
          if (filled < k || d < ds(k - 1)) {
            var p = math.min(filled, k - 1)
            while (p > 0 && ds(p - 1) > d) { ds(p) = ds(p - 1); ids(p) = ids(p - 1); p -= 1 }
            ds(p) = d; ids(p) = j
            if (filled < k) filled += 1
          }
        }
        j += 1
      }
      ids.take(filled)
    }

  /** Neighbor recall@k: the share of input-space top-k pairs that are also
    * embedding-space top-k pairs. */
  def recall(truth: Array[Array[Int]], emb: Array[Array[Double]], k: Int): Double = {
    val embK = topK(emb, k)
    var hits = 0L; var all = 0L
    for (i <- truth.indices) {
      val mine = embK(i).toSet
      hits += truth(i).count(mine.contains); all += truth(i).length
    }
    hits.toDouble / all
  }

  /** `rows` must hold exactly ids 0 until n, each with a finite 2-D vector. */
  def embeddingShape(rows: Array[(Long, Array[Double])], n: Int): Option[String] =
    if (rows.length != n) Some(s"embedding has ${rows.length} rows, expected $n")
    else if (rows.map(_._1).sorted.toSeq != (0L until n.toLong)) Some("embedding ids are not 0 until n")
    else rows.find(r => r._2.length != 2 || !r._2.forall(java.lang.Double.isFinite))
      .map(r => s"row ${r._1} is not a finite 2-D point")

  /** Shape plus the recall floor; the recall is returned for reporting. */
  def tsneLocal(rows: Array[(Long, Array[Double])], truth: Array[Array[Int]],
                floor: Double): (Option[String], Double) =
    embeddingShape(rows, truth.length) match {
      case Some(bad) => (Some(bad), 0.0)
      case None =>
        val r = recall(truth, rows.sortBy(_._1).map(_._2), truth.head.length)
        (if (r >= floor) None else Some(f"recall@10 $r%.4f is below the floor $floor"), r)
    }

  /** Same ids, and every coordinate within `tol` of the reference. */
  def sameEmbedding(rows: Array[(Long, Array[Double])], ref: Array[(Long, Array[Double])],
                    tol: Double): Option[String] =
    embeddingShape(rows, ref.length).orElse {
      val want = ref.toMap
      rows.iterator.flatMap { case (id, v) =>
        v.indices.find(d => !(math.abs(v(d) - want(id)(d)) <= tol))
          .map(d => f"point $id dim $d: ${v(d)} vs reference ${want(id)(d)} (tol $tol)")
      }.nextOption()
    }

  // ---------------- dedup ----------------------------------------------

  /** Distinct word-trigram set of a document (words split on single spaces,
    * as the generator writes them). */
  def trigrams(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Every pair `i < j` with trigram Jaccard ≥ θ, computed exactly through an
    * inverted index, with the Jaccard spelled as c / (|A| + |B| − c). */
  def jaccardPairs(docs: Array[Doc], theta: Double): Map[(Long, Long), Double] = {
    val ids = docs.map(_.doc_id)
    val sets = docs.map(d => trigrams(d.text))
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    for (a <- sets.indices; t <- sets(a)) index.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += a
    // per document, count the trigrams it shares with every other one
    val common = new Array[Int](docs.length)
    val out = Map.newBuilder[(Long, Long), Double]
    for (a <- sets.indices) {
      val touched = mutable.ArrayBuffer.empty[Int]
      for (t <- sets(a); b <- index(t) if b != a) {
        if (common(b) == 0) touched += b
        common(b) += 1
      }
      for (b <- touched) {
        val c = common(b)
        common(b) = 0
        val jac = c.toDouble / (sets(a).size + sets(b).size - c)
        if (ids(a) < ids(b) && jac >= theta) out += (ids(a), ids(b)) -> jac
      }
    }
    out.result()
  }

  /** The program's pairs must be exactly the reference's, each with the
    * same Jaccard (to 1e-12) and each at or above θ. */
  def pairs(out: Array[(Long, Long, Double)], ref: Map[(Long, Long), Double],
            theta: Double): Option[String] = {
    val keys = out.map(p => (p._1, p._2))
    if (keys.distinct.length != keys.length) Some("duplicate pairs in the output")
    else out.find(p => p._3 < theta).map(p => s"pair (${p._1}, ${p._2}) has Jaccard ${p._3} < $theta")
      .orElse(out.find(p => ref.get((p._1, p._2)).forall(r => math.abs(r - p._3) > 1e-12))
        .map(p => s"pair (${p._1}, ${p._2}) Jaccard ${p._3} vs exact ${ref.get((p._1, p._2))}"))
      .orElse(if (keys.length != ref.size)
        Some(s"${keys.length} pairs in the output, ${ref.size} exact pairs ≥ $theta") else None)
  }

  /** Connected components of the pair graph; cluster label = smallest id. */
  def clusters(ids: Array[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    ids.map(i => i -> find(i)).toMap
  }

  def sameRows[K, V](what: String, out: Array[(K, V)], ref: Map[K, V]): Option[String] =
    if (out.length != ref.size) Some(s"$what: ${out.length} rows, expected ${ref.size}")
    else if (out.iterator.map(_._1).toSet.size != out.length) Some(s"$what: repeated keys")
    else out.find { case (k, v) => !ref.get(k).contains(v) }
      .map { case (k, v) => s"$what: row $k = $v, expected ${ref.get(k)}" }

  // ---------------- graph ----------------------------------------------

  /** The k-core by peeling: undirected, self-loops and repeats dropped;
    * returns each surviving node with its degree inside the core. */
  def kCore(edges: Array[Edge], k: Int): Map[Long, Long] = {
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    for (e <- edges if e.src != e.dst) {
      adj.getOrElseUpdate(e.src, mutable.HashSet.empty) += e.dst
      adj.getOrElseUpdate(e.dst, mutable.HashSet.empty) += e.src
    }
    val queue = mutable.Queue.from(adj.collect { case (v, ns) if ns.size < k => v })
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.remove(v).foreach(_.foreach { u =>
        adj.get(u).foreach { ns => ns -= v; if (ns.size == k - 1) queue += u }
      })
    }
    adj.iterator.map { case (v, ns) => v -> ns.size.toLong }.toMap
  }

  /** Fixed-point PageRank in integer arithmetic, damping 85/100, dangling
    * mass shared evenly; duplicate edges count with multiplicity. */
  def pageRank(edges: Array[Edge], iters: Int, scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_.src) ++ edges.map(_.dst)).distinct
    val outdeg = edges.groupBy(_.src).view.mapValues(_.length.toLong).toMap
    val n = nodes.length.toLong
    val base = scale / n
    var rank = nodes.map(v => v -> base).toMap
    for (_ <- 0 until iters) {
      val contrib = mutable.HashMap.empty[Long, Long]
      for (e <- edges) contrib(e.dst) = contrib.getOrElse(e.dst, 0L) + rank(e.src) / outdeg(e.src)
      val dangling = nodes.filterNot(outdeg.contains).map(rank).sum
      rank = nodes.map(v => v -> (15L * base + 85L * (contrib.getOrElse(v, 0L) + dangling / n)) / 100L).toMap
    }
    rank
  }
}
