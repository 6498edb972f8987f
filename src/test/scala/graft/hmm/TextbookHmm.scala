package graft.hmm

/** Plain 2-D textbook HMM kernels — row arrays, `log` at every use —
  * kept as the reference the flat kernels of [[HmmAlgorithms]] must
  * match bit for bit. Same arithmetic, same operation order; only the
  * data layout and where the logs are taken differ.
  */
object TextbookHmm {

  private def ln(x: Double) = if (x <= 0) Double.NegativeInfinity else math.log(x)

  def forward(m: HmmModel, obs: Array[Int]): (Array[Array[Double]], Array[Double]) = {
    val k = m.numStates
    val alpha = Array.ofDim[Double](obs.length, k)
    val scale = new Array[Double](obs.length)
    def checkScale(s: Double, t: Int): Double =
      if (s > 0) s else throw new IllegalArgumentException(s"impossible observation at $t")
    var s = 0.0
    for (i <- 0 until k) { alpha(0)(i) = m.pi(i) * m.b(i)(obs(0)); s += alpha(0)(i) }
    scale(0) = checkScale(s, 0)
    for (i <- 0 until k) alpha(0)(i) /= scale(0)
    for (t <- 1 until obs.length) {
      s = 0.0
      for (j <- 0 until k) {
        var acc = 0.0
        for (q <- 0 until k) acc += alpha(t - 1)(q) * m.a(q)(j)
        alpha(t)(j) = acc * m.b(j)(obs(t))
        s += alpha(t)(j)
      }
      scale(t) = checkScale(s, t)
      for (j <- 0 until k) alpha(t)(j) /= scale(t)
    }
    (alpha, scale)
  }

  def backward(m: HmmModel, obs: Array[Int], scale: Array[Double]): Array[Array[Double]] = {
    val k = m.numStates
    val n = obs.length
    val beta = Array.ofDim[Double](n, k)
    for (i <- 0 until k) beta(n - 1)(i) = 1.0 / scale(n - 1)
    for (t <- n - 2 to 0 by -1; q <- 0 until k) {
      var acc = 0.0
      for (r <- 0 until k) acc += m.a(q)(r) * m.b(r)(obs(t + 1)) * beta(t + 1)(r)
      beta(t)(q) = acc / scale(t)
    }
    beta
  }

  def viterbi(m: HmmModel, obs: Array[Int]): Array[Int] = {
    val k = m.numStates
    val n = obs.length
    val delta = Array.ofDim[Double](n, k)
    val psi = Array.ofDim[Int](n, k)
    for (i <- 0 until k) delta(0)(i) = ln(m.pi(i)) + ln(m.b(i)(obs(0)))
    for (t <- 1 until n; j <- 0 until k) {
      var best = Double.NegativeInfinity
      var arg = 0
      for (q <- 0 until k) {
        val v = delta(t - 1)(q) + ln(m.a(q)(j))
        if (v > best) { best = v; arg = q }
      }
      delta(t)(j) = best + ln(m.b(j)(obs(t)))
      psi(t)(j) = arg
    }
    val path = new Array[Int](n)
    var bestV = Double.NegativeInfinity
    for (i <- 0 until k) if (delta(n - 1)(i) > bestV) { bestV = delta(n - 1)(i); path(n - 1) = i }
    for (t <- n - 1 until 0 by -1) path(t - 1) = psi(t)(path(t))
    path
  }

  def accumulate(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    val k = m.numStates
    val (alpha, scale) = forward(m, obs)
    val beta = backward(m, obs, scale)
    for (i <- 0 until k) stats.addPi(i, alpha(0)(i) * beta(0)(i) * scale(0))
    for (t <- obs.indices; i <- 0 until k)
      stats.addB(i, obs(t), alpha(t)(i) * beta(t)(i) * scale(t))
    for (t <- 0 until obs.length - 1; q <- 0 until k; r <- 0 until k)
      stats.addA(q, r, alpha(t)(q) * m.a(q)(r) * m.b(r)(obs(t + 1)) * beta(t + 1)(r))
    var ll = 0.0
    scale.foreach(s => ll += math.log(s))
    stats.addLogLik(ll)
    stats.nSeq += 1
  }

  def accumulateViterbi(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    val path = viterbi(m, obs)
    stats.addPi(path(0), 1.0)
    stats.addB(path(0), obs(0), 1.0)
    var ll = ln(m.pi(path(0))) + ln(m.b(path(0))(obs(0)))
    for (t <- 1 until obs.length) {
      stats.addA(path(t - 1), path(t), 1.0)
      stats.addB(path(t), obs(t), 1.0)
      ll += ln(m.a(path(t - 1))(path(t))) + ln(m.b(path(t))(obs(t)))
    }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }

  def nbestViterbi(m: HmmModel, obs: Array[Int], n: Int): Seq[(Double, Array[Int])] = {
    val k = m.numStates
    val len = obs.length
    val entries = Array.ofDim[Array[(Double, Int, Int)]](len, k)
    for (j <- 0 until k) entries(0)(j) = Array((ln(m.pi(j)) + ln(m.b(j)(obs(0))), -1, -1))
    for (t <- 1 until len; j <- 0 until k) {
      val cand = for {
        q <- 0 until k
        r <- entries(t - 1)(q).indices
      } yield (entries(t - 1)(q)(r)._1 + ln(m.a(q)(j)) + ln(m.b(j)(obs(t))), q, r)
      entries(t)(j) = cand.sortBy { case (s, q, r) => (-s, q, r) }.take(n).toArray
    }
    val finals = (for (j <- 0 until k; r <- entries(len - 1)(j).indices)
      yield (entries(len - 1)(j)(r)._1, j, r)).sortBy { case (s, j, r) => (-s, j, r) }.take(n)
    finals.map { case (score, last, lastRank) =>
      val path = new Array[Int](len)
      var (j, r) = (last, lastRank)
      for (t <- len - 1 to 0 by -1) {
        path(t) = j
        val (_, pq, pr) = entries(t)(j)(r)
        j = pq; r = pr
      }
      (score, path)
    }
  }
}
