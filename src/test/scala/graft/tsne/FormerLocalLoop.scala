package graft.tsne

/** Verbatim copies of the driver-local t-SNE loop and its Barnes-Hut tree as
  * they stood before the fused per-point pass: the tree divided each node's
  * centre of mass on every visit and pushed empty children, and the loop
  * looked neighbours up through an id map, re-scaled P every iteration and
  * ran attraction, gradient and update as separate passes. `BhTreeSpec` and
  * `OptimizerSpec` pin the current code `==` to these, so the rewrite is
  * proven not to change a single bit of the result.
  */
private[tsne] final class FormerBhTree private (rootX: Double, rootY: Double, rootHw: Double) {

  private var cap = 64
  private var cx = new Array[Double](cap)
  private var cy = new Array[Double](cap)
  private var hw = new Array[Double](cap)
  private var sumX = new Array[Double](cap)
  private var sumY = new Array[Double](cap)
  private var cnt = new Array[Int](cap)
  private var firstChild = new Array[Int](cap)
  private var px = new Array[Double](cap)
  private var py = new Array[Double](cap)
  private var hasPoint = new Array[Boolean](cap)
  private var n = 0

  newNode(rootX, rootY, rootHw)

  private val MaxDepth = 256

  private def newNode(x: Double, y: Double, halfWidth: Double): Int = {
    if (n == cap) grow()
    cx(n) = x; cy(n) = y; hw(n) = halfWidth
    firstChild(n) = -1
    n += 1
    n - 1
  }

  private def grow(): Unit = {
    cap *= 2
    cx = java.util.Arrays.copyOf(cx, cap)
    cy = java.util.Arrays.copyOf(cy, cap)
    hw = java.util.Arrays.copyOf(hw, cap)
    sumX = java.util.Arrays.copyOf(sumX, cap)
    sumY = java.util.Arrays.copyOf(sumY, cap)
    cnt = java.util.Arrays.copyOf(cnt, cap)
    firstChild = java.util.Arrays.copyOf(firstChild, cap)
    px = java.util.Arrays.copyOf(px, cap)
    py = java.util.Arrays.copyOf(py, cap)
    hasPoint = java.util.Arrays.copyOf(hasPoint, cap)
  }

  private def contains(node: Int, x: Double, y: Double): Boolean =
    cx(node) - hw(node) <= x && cx(node) + hw(node) >= x &&
      cy(node) - hw(node) <= y && cy(node) + hw(node) >= y

  private def owningChild(node: Int, x: Double, y: Double): Int = {
    val c = firstChild(node)
    var k = 0
    while (k < 4) {
      if (contains(c + k, x, y)) return c + k
      k += 1
    }
    val east = if (x >= cx(node)) 1 else 0
    val south = if (y < cy(node)) 2 else 0
    c + east + south
  }

  private def subdivide(node: Int): Unit = {
    val w = 0.5 * hw(node)
    val x = cx(node); val y = cy(node)
    val c = newNode(x - w, y + w, w)
    newNode(x + w, y + w, w)
    newNode(x - w, y - w, w)
    newNode(x + w, y - w, w)
    firstChild(node) = c
  }

  def insert(x: Double, y: Double): Boolean = {
    if (!contains(0, x, y)) return false
    var node = 0
    var depth = 0
    while (true) {
      sumX(node) += x; sumY(node) += y; cnt(node) += 1
      if (firstChild(node) == -1) {
        if (!hasPoint(node)) {
          px(node) = x; py(node) = y; hasPoint(node) = true
          return true
        }
        if ((px(node) == x && py(node) == y) || depth >= MaxDepth) return true
        val rc = cnt(node) - 1
        val rsx = sumX(node) - x
        val rsy = sumY(node) - y
        val ox = px(node); val oy = py(node)
        subdivide(node)
        hasPoint(node) = false
        val ochild = owningChild(node, ox, oy)
        sumX(ochild) += rsx; sumY(ochild) += rsy; cnt(ochild) += rc
        px(ochild) = ox; py(ochild) = oy; hasPoint(ochild) = true
      }
      node = owningChild(node, x, y)
      depth += 1
    }
    true
  }

  def repulsiveForce(x: Double, y: Double, theta: Double): (Double, Double, Double) = {
    var fx = 0.0; var fy = 0.0; var sumQ = 0.0
    var stack = new Array[Int](64)
    var top = 0
    stack(top) = 0; top += 1
    while (top > 0) {
      top -= 1
      val node = stack(top)
      val leaf = firstChild(node) == -1
      if (leaf && cnt(node) == 0) {
      } else if (leaf && hasPoint(node) && px(node) == x && py(node) == y) {
      } else {
        val comX = sumX(node) / cnt(node)
        val comY = sumY(node) / cnt(node)
        val dx = x - comX; val dy = y - comY
        val d = dx * dx + dy * dy
        if (leaf || hw(node) / d < theta) {
          val q = 1.0 / (1.0 + d)
          val mult = cnt(node) * q
          sumQ += mult
          fx += mult * q * dx
          fy += mult * q * dy
        } else {
          if (top + 4 > stack.length) stack = java.util.Arrays.copyOf(stack, stack.length * 2)
          val c = firstChild(node)
          stack(top) = c; stack(top + 1) = c + 1
          stack(top + 2) = c + 2; stack(top + 3) = c + 3
          top += 4
        }
      }
    }
    (fx, fy, sumQ)
  }
}

private[tsne] object FormerBhTree {
  def build(points: Iterable[Array[Double]]): FormerBhTree = {
    var minX = Double.PositiveInfinity; var maxX = Double.NegativeInfinity
    var minY = Double.PositiveInfinity; var maxY = Double.NegativeInfinity
    var sx = 0.0; var sy = 0.0; var c = 0
    points.foreach { p =>
      if (p(0) < minX) minX = p(0)
      if (p(0) > maxX) maxX = p(0)
      if (p(1) < minY) minY = p(1)
      if (p(1) > maxY) maxY = p(1)
      sx += p(0); sy += p(1); c += 1
    }
    require(c > 0, "cannot build a quadtree from zero points")
    val t = new FormerBhTree(sx / c, sy / c, math.max(maxX - minX, maxY - minY))
    points.foreach(p => t.insert(p(0), p(1)))
    t
  }
}

private[tsne] object FormerLocalLoop {

  private def attractiveForce(
      js: Array[Long], ps: Array[Double],
      yi: Array[Double], yOf: Long => Array[Double],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var fx = 0.0; var fy = 0.0
    var k = 0
    while (k < js.length) {
      val yj = yOf(js(k))
      val q = 1.0 / (1.0 + metric(yi, yj))
      val pq = ps(k) * q
      fx += pq * (yi(0) - yj(0))
      fy += pq * (yi(1) - yj(1))
      k += 1
    }
    (fx, fy)
  }

  private def lossPart(
      js: Array[Long], ps: Array[Double],
      yi: Array[Double], yOf: Long => Array[Double],
      metric: (Array[Double], Array[Double]) => Double,
      sumQ: Double): Double = {
    var loss = 0.0
    var k = 0
    while (k < js.length) {
      val q = 1.0 / (1.0 + metric(yi, yOf(js(k))))
      loss += ps(k) * math.log(ps(k) / (q / sumQ))
      k += 1
    }
    loss
  }

  private def update(
      y: Array[Double], prevStep: Array[Double], gains: Array[Double],
      grad: Array[Double], minGain: Double, momentum: Double,
      learningRate: Double): (Array[Double], Array[Double], Array[Double]) = {
    val d = grad.length
    val newY = new Array[Double](d)
    val newStep = new Array[Double](d)
    val newGains = new Array[Double](d)
    var k = 0
    while (k < d) {
      newGains(k) =
        if ((grad(k) > 0.0) == (prevStep(k) > 0.0)) math.max(gains(k) * 0.8, minGain)
        else math.max(gains(k) + 0.2, minGain)
      newStep(k) = momentum * prevStep(k) - learningRate * newGains(k) * grad(k)
      newY(k) = newStep(k) + y(k)
      k += 1
    }
    (newY, newStep, newGains)
  }

  private def centerInPlace(ys: Array[Array[Double]]): Unit = {
    var mx = 0.0; var my = 0.0
    ys.foreach { y => mx += y(0); my += y(1) }
    mx /= ys.length; my /= ys.length
    ys.foreach { y => y(0) -= mx; y(1) -= my }
  }

  def optimizeLocalSchedule(
      pRows0: Array[AffinityRow], ws00: Array[WorkingSet], params: Optimizer.Params,
      schedule: Seq[(Int, Double, Boolean, Int)]): (Array[Point], Map[Int, Double]) = {
    val metric = Distances.byName(params.metric)
    val pRows = pRows0.sortBy(_.id)
    val ws0 = ws00.sortBy(_.id)
    val n = ws0.length
    val loss = scala.collection.mutable.Map.empty[Int, Double]

    val ids = ws0.map(_.id)
    val idx = new java.util.HashMap[Long, Int](n * 2)
    ids.zipWithIndex.foreach { case (id, k) => idx.put(id, k) }
    val y = ws0.map(_.y.clone())
    val step = ws0.map(_.lastGrad.clone())
    val gains = ws0.map(_.gains.clone())
    val rowOf = pRows.map(r => idx.get(r.id))

    def parRange(bound: Int)(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, bound).parallel()
        .forEach(k => body(k))

    val supersteps = schedule.flatMap { case (iters, momentum, exaggerate, offset) =>
      val factor = if (exaggerate) params.earlyExaggeration else 1.0
      (1 to iters).map(it => (it + offset, momentum, factor))
    }
    for ((lossIter, momentum, factor) <- supersteps) {
      val needLoss = lossIter % 10 == 0
      val tree = FormerBhTree.build(y)
      val rep = new Array[(Double, Double, Double)](n)
      parRange(n) { k =>
        rep(k) = tree.repulsiveForce(y(k)(0), y(k)(1), params.theta)
      }
      var sumQ = 0.0
      var k = 0
      while (k < n) { sumQ += rep(k)._3; k += 1 }
      val sumQFixed = sumQ
      val yOf: Long => Array[Double] = id => y(idx.get(id))
      val grad = new Array[Array[Double]](n)
      val lossParts = if (needLoss) new Array[Double](pRows.length) else null
      parRange(pRows.length) { k =>
        val row = pRows(k)
        val i = rowOf(k)
        val ps = if (factor == 1.0) row.ps else row.ps.map(_ * factor)
        val (ax, ay) = attractiveForce(row.js, ps, y(i), yOf, metric)
        grad(i) = Array(ax - rep(i)._1 / sumQFixed, ay - rep(i)._2 / sumQFixed)
        if (needLoss)
          lossParts(k) = lossPart(row.js, ps, y(i), yOf, metric, sumQFixed)
      }
      if (needLoss) {
        var l = 0.0
        k = 0
        while (k < lossParts.length) { l += lossParts(k); k += 1 }
        loss.updateWith(lossIter) { case cur => Some(cur.getOrElse(0.0) + l) }
      }
      parRange(n) { k =>
        val (ny, ns, ng) =
          update(y(k), step(k), gains(k), grad(k), params.minGain,
            momentum, params.learningRate)
        y(k) = ny; step(k) = ns; gains(k) = ng
      }
      centerInPlace(y)
    }
    (ids.zip(y).map { case (id, v) => Point(id, v) }, loss.toMap)
  }
}
