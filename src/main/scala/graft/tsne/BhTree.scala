package graft.tsne

/** Barnes-Hut quadtree (ref: `QuadTree.scala:28-152`, `Cell.scala:24-36`).
  *
  * Semantics replicated from the reference, 2-D only:
  *   - node capacity 1, running sum/center-of-mass per node
  *     (`QuadTree.scala:41-44,157`);
  *   - square cells everywhere — the reference's `subDivide` sets both child
  *     half-extents to `0.5 * hWidth` (`QuadTree.scala:80-81`) and the root
  *     is square (3-arg `Cell`, `TsneHelpers.scala:248`), so a single
  *     half-width suffices;
  *   - closed-interval containment with children probed in NW, NE, SW, SE
  *     order (`Cell.scala:31-36`, `QuadTree.scala:94-108`) — this fixes
  *     which child owns boundary points;
  *   - duplicate points accumulate mass in the leaf without subdividing
  *     (`QuadTree.scala:50-53`);
  *   - Barnes-Hut criterion `max(hH, hW) / D < θ` with **D = squared**
  *     distance to the center of mass, and the cell kernel always squared
  *     euclidean regardless of `--metric` (`QuadTree.scala:133-134` — a
  *     knowingly-replicated quirk, SURVEY.md §7); θ = 0 therefore forces
  *     full descent = exact repulsion;
  *   - a leaf holding exactly the query point contributes nothing
  *     (`QuadTree.scala:128`).
  *
  * The layout is array-packed (structure-of-arrays, int child pointers)
  * rather than the reference's object graph: cheap to build, compact to
  * Java-serialize into a broadcast, and traversed with an explicit stack so
  * deep trees can't overflow during (de)serialization or descent.
  */
final class BhTree private (rootX: Double, rootY: Double, rootHw: Double, capacity: Int)
    extends Serializable {

  private var cap = capacity
  private var cx = new Array[Double](cap)
  private var cy = new Array[Double](cap)
  private var hw = new Array[Double](cap)
  private var sumX = new Array[Double](cap)
  private var sumY = new Array[Double](cap)
  private var cnt = new Array[Int](cap)
  private var firstChild = new Array[Int](cap) // -1 = leaf; else 4 consecutive ids
  private var px = new Array[Double](cap)      // a non-empty leaf's point
  private var py = new Array[Double](cap)
  // centre of mass of every node, sumX / cnt: set by computeCentres
  private var comX: Array[Double] = null
  private var comY: Array[Double] = null
  private var n = 0

  newNode(rootX, rootY, rootHw)

  /** Bounded subdivision depth: two distinct doubles separate within ~1074
    * halvings; past that (or for adversarially close points) the leaf just
    * keeps accumulating mass, which is also what the math wants. */
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
  }

  private def contains(node: Int, x: Double, y: Double): Boolean =
    cx(node) - hw(node) <= x && cx(node) + hw(node) >= x &&
      cy(node) - hw(node) <= y && cy(node) + hw(node) >= y

  /** Child owning (x, y): probe in NW, NE, SW, SE order (reference order).
    * Containment can miss for a point lying in a 1-ulp gap between
    * FP-rounded child boundaries (child centers are cx±w, whose ±w edges
    * need not reproduce the parent's edges exactly); the reference silently
    * *drops* such points (`QuadTree.scala:109-113` returns false). Here the
    * total, gap-free quadrant sign test picks the nearest child instead, so
    * no mass is ever lost. Children are laid out NW, NE, SW, SE. */
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
    val c = newNode(x - w, y + w, w) // NW
    newNode(x + w, y + w, w)         // NE
    newNode(x - w, y - w, w)         // SW
    newNode(x + w, y - w, w)         // SE
    firstChild(node) = c
  }

  /** Insert a point; returns false iff outside the root cell (the
    * reference then drops it too, `QuadTree.scala:74-76`). Recomputes
    * every centre of mass, O(nodes): [[BhTree.build]] inserts in bulk
    * and computes them once.
    *
    * One deliberate divergence from the reference: when a leaf that has
    * accumulated duplicate mass is subdivided, the resident moves down with
    * its FULL accumulated mass. The reference re-inserts `leafPoint` once
    * (`QuadTree.scala:59-61`), silently halving duplicates' weight in every
    * descendant cell — a mass-conservation bug a θ=0 traversal exposes
    * (`BhTreeSpec`'s duplicate-point case). */
  def insert(x: Double, y: Double): Boolean =
    add(x, y) && { computeCentres(); true }

  private def add(x: Double, y: Double): Boolean = {
    if (!contains(0, x, y)) return false
    var node = 0
    var depth = 0
    while (true) {
      sumX(node) += x; sumY(node) += y; cnt(node) += 1
      if (firstChild(node) == -1) {
        // a leaf is empty until its first point: that one becomes resident
        if (cnt(node) == 1) {
          px(node) = x; py(node) = y
          return true
        }
        // a duplicate accumulates mass in the leaf (ref QuadTree.scala:50-53);
        // so does a point pathologically close to the resident
        if ((px(node) == x && py(node) == y) || depth >= MaxDepth) return true
        // the resident moves down one level with ALL its accumulated mass
        // (this node's totals minus the incoming point)
        val rc = cnt(node) - 1
        val rsx = sumX(node) - x
        val rsy = sumY(node) - y
        val ox = px(node); val oy = py(node)
        subdivide(node)
        val ochild = owningChild(node, ox, oy)
        sumX(ochild) += rsx; sumY(ochild) += rsy; cnt(ochild) += rc
        px(ochild) = ox; py(ochild) = oy
      }
      node = owningChild(node, x, y)
      depth += 1
    }
    true
  }

  /** Each non-empty node's centre of mass, the one division per node that
    * every traversal reads. */
  private def computeCentres(): Unit = {
    comX = new Array[Double](n)
    comY = new Array[Double](n)
    var k = 0
    while (k < n) {
      if (cnt(k) > 0) {
        comX(k) = sumX(k) / cnt(k)
        comY(k) = sumY(k) / cnt(k)
      }
      k += 1
    }
  }

  def size: Int = cnt(0)

  /** Barnes-Hut traversal (ref `QuadTree.scala:123-152`): returns
    * (Fx, Fy, sumQ-partial) for one query point. Empty cells are never
    * pushed; the non-empty children go on the stack in NW, NE, SW, SE
    * order, so the terms are summed in a fixed order. */
  def repulsiveForce(x: Double, y: Double, theta: Double): (Double, Double, Double) = {
    var fx = 0.0; var fy = 0.0; var sumQ = 0.0
    var stack = new Array[Int](64)
    var top = 0
    stack(top) = 0; top += 1
    while (top > 0) {
      top -= 1
      val node = stack(top)
      val c = firstChild(node)
      // the query point's own leaf is skipped entirely (duplicates
      // included, matching the reference's equality test on the stored point)
      if (c != -1 || px(node) != x || py(node) != y) {
        val dx = x - comX(node); val dy = y - comY(node)
        val d = dx * dx + dy * dy
        if (c == -1 || hw(node) / d < theta) {
          val q = 1.0 / (1.0 + d)
          val mult = cnt(node) * q
          sumQ += mult
          fx += mult * q * dx
          fy += mult * q * dy
        } else {
          if (top + 4 > stack.length) stack = java.util.Arrays.copyOf(stack, stack.length * 2)
          var k = c
          while (k < c + 4) {
            if (cnt(k) > 0) { stack(top) = k; top += 1 }
            k += 1
          }
        }
      }
    }
    (fx, fy, sumQ)
  }
}

object BhTree {

  /** Build a tree the way the reference's gradient does
    * (`TsneHelpers.scala:228-256`): a square root cell centered on the mean
    * with half-width `max(xspan, yspan)`, then insert every point. */
  def build(points: Iterable[Array[Double]]): BhTree = {
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
    val t = new BhTree(sx / c, sy / c, math.max(maxX - minX, maxY - minY), NodesPerPoint * c)
    points.foreach(p => t.add(p(0), p(1)))
    t.computeCentres()
    t
  }

  /** Initial node-array size per point: a tree holds 2.9–3.3 nodes per
    * point on collapsed, spread and clustered clouds, so a build rarely
    * regrows its arrays. */
  private val NodesPerPoint = 4
}
