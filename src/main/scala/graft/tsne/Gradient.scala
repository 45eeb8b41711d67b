package graft.tsne

/** Pure per-row gradient kernels (ref: `TsneHelpers.scala:221-318,341-369`).
  *
  * Each formula has one definition here, called by both execution paths
  * (the driver-local loop and the distributed superstep jobs in
  * [[Optimizer]]) and by the standalone gradient and update operators, so
  * the golden-value tests pin down a single implementation of the math.
  * A row's neighbours arrive as indices into the positions array `ys`,
  * resolved by the caller. All kernels are 2-D (nComponents = 2) like the
  * reference's gradient, whose bounds/tree code indexes components 0 and 1
  * only (`TsneHelpers.scala:228`, `QuadTree.scala:156`).
  */
object Gradient {

  /** The Student-t similarity q_ij = 1/(1 + metric(yᵢ, yⱼ)). */
  private def q(yi: Array[Double], yj: Array[Double],
                metric: (Array[Double], Array[Double]) => Double): Double =
    1.0 / (1.0 + metric(yi, yj))

  /** Attractive force for one sparse row pᵢ· (ref `TsneHelpers.scala:284-305`):
    * F_attr(i) = Σ_j p_ij · q_ij · (yᵢ − yⱼ), yⱼ = ys(nbr(k)).
    */
  def attractiveForce(
      nbr: Array[Int], ps: Array[Double],
      yi: Array[Double], ys: Array[Array[Double]],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var fx = 0.0; var fy = 0.0
    var k = 0
    while (k < nbr.length) {
      val yj = ys(nbr(k))
      val pq = ps(k) * q(yi, yj, metric)
      fx += pq * (yi(0) - yj(0))
      fy += pq * (yi(1) - yj(1))
      k += 1
    }
    (fx, fy)
  }

  /** KL-loss contribution of one sparse row at a known global sumQ
    * (ref `TsneHelpers.scala:297-300`): Σ_j p_ij · log(p_ij / (q_ij/sumQ)). */
  def lossPart(
      nbr: Array[Int], ps: Array[Double],
      yi: Array[Double], ys: Array[Array[Double]],
      metric: (Array[Double], Array[Double]) => Double,
      sumQ: Double): Double = {
    var loss = 0.0
    var k = 0
    while (k < nbr.length) {
      loss += ps(k) * math.log(ps(k) / (q(yi, ys(nbr(k)), metric) / sumQ))
      k += 1
    }
    loss
  }

  /** The sumQ-independent decomposition of [[lossPart]]: returns
    * (Σⱼ p·log(p/q), Σⱼ p). Since log(p/(q/sumQ)) = log(p/q) + log(sumQ),
    * the full loss is Σ lossPre + (Σ pSum)·log(sumQ) — computable in the
    * same pass that evaluates the forces, *before* the global sumQ is
    * known, so the distributed optimizer needs no second job over P on
    * loss supersteps. */
  def lossPartsPreSumQ(
      nbr: Array[Int], ps: Array[Double],
      yi: Array[Double], ys: Array[Array[Double]],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var pre = 0.0
    var psum = 0.0
    var k = 0
    while (k < nbr.length) {
      pre += ps(k) * math.log(ps(k) / q(yi, ys(nbr(k)), metric))
      psum += ps(k)
      k += 1
    }
    (pre, psum)
  }

  /** One gradient component from its attractive and Barnes-Hut repulsive
    * parts (ref `TsneHelpers.scala:308-316`): F_attr − F_rep / sumQ. */
  def gradient(attractive: Double, repulsive: Double, sumQ: Double): Double =
    attractive - repulsive / sumQ

  /** Delta-bar-delta update of component `d` of one point, in place (ref
    * `TsneHelpers.scala:346-367`): the gain shrinks ×0.8 when the gradient
    * and the previous *step* agree in sign, else grows +0.2 (floored at
    * minGain); the step is momentum·prevStep − η·gain·grad. Writes the new
    * gain and step into `gains(d)` and `step(d)` and returns the new
    * position y + step. */
  def updateComponent(
      y: Double, step: Array[Double], gains: Array[Double], d: Int,
      grad: Double, minGain: Double, momentum: Double, learningRate: Double): Double = {
    val prev = step(d)
    val gain =
      if ((grad > 0.0) == (prev > 0.0)) math.max(gains(d) * 0.8, minGain)
      else math.max(gains(d) + 0.2, minGain)
    val s = momentum * prev - learningRate * gain * grad
    gains(d) = gain
    step(d) = s
    s + y
  }

  /** [[updateComponent]] over every component, into new arrays.
    * Returns (newY, newStep, newGains). */
  def update(
      y: Array[Double], prevStep: Array[Double], gains: Array[Double],
      grad: Array[Double], minGain: Double, momentum: Double,
      learningRate: Double): (Array[Double], Array[Double], Array[Double]) = {
    val newStep = prevStep.clone()
    val newGains = gains.clone()
    val newY = Array.tabulate(grad.length)(k =>
      updateComponent(y(k), newStep, newGains, k, grad(k), minGain, momentum, learningRate))
    (newY, newStep, newGains)
  }
}
