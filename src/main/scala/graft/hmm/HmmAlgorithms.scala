package graft.hmm

/** Per-sequence HMM primitives: scaled forward/backward, Viterbi,
  * log-likelihood, and the E-step accumulation.
  *
  * The reference computes these through Mahout's HmmAlgorithms with
  * scaling off (BaumWelchMapper.java:143,151 — `forwardAlgorithm(...,
  * false)`), which underflows on long sequences. We use Rabiner-style
  * scaling: per-step normalizers s_t with
  *   γ_t(i) = ᾱ_t(i)·β̂_t(i)·s_t,
  *   ξ_t(i,j) = ᾱ_t(i)·A(i,j)·B(j,o_{t+1})·β̂_{t+1}(j),
  *   log P(O|λ) = Σ_t log s_t.
  * Same expected counts, stable at any sequence length.
  *
  * Everything here is driver/executor-local per sequence; distribution
  * happens one level up (BaumWelch.treeAggregate over sequences).
  *
  * The kernels read the model through its flat [[HmmTables]] (built
  * once per model) and keep their per-step state in flat `T·K`
  * buffers: `alpha(t * K + i)` is ᾱ_t(i), likewise β̂. The arithmetic
  * — every product, sum and its order — is the textbook 2-D form's,
  * so the results are bitwise those of the row-array kernels.
  */
/** A model's flat, kernel-side form: A row-major and transposed, B
  * symbol-major (one observation's emission column is contiguous), and
  * the log tables Viterbi decoding reads — `ln x`, with ln 0 = −∞ —
  * so no decode loop calls `log`. Built once per model instance
  * ([[HmmModel.tables]]).
  */
final class HmmTables(m: HmmModel) {
  val numStates: Int = m.numStates
  val numSymbols: Int = m.numSymbols
  private val k = numStates
  val pi: Array[Double] = m.pi
  /** `a(q * K + r)` = A(q, r). */
  val a: Array[Double] = Array.tabulate(k * k)(x => m.a(x / k)(x % k))
  /** `aT(r * K + q)` = A(q, r). */
  val aT: Array[Double] = Array.tabulate(k * k)(x => m.a(x % k)(x / k))
  /** `b(sym * K + i)` = B(i, sym). */
  val b: Array[Double] = Array.tabulate(numSymbols * k)(x => m.b(x % k)(x / k))
  val lnPi: Array[Double] = pi.map(HmmTables.ln)
  /** `lnAT(r * K + q)` = ln A(q, r). */
  val lnAT: Array[Double] = aT.map(HmmTables.ln)
  /** `lnB(sym * K + i)` = ln B(i, sym). */
  val lnB: Array[Double] = b.map(HmmTables.ln)
}

object HmmTables {
  private def ln(x: Double): Double = if (x <= 0) Double.NegativeInfinity else math.log(x)
}

object HmmAlgorithms {

  /** Scaled forward. Returns (ᾱ, flat T·K with each step's K cells
    * summing to 1; normalizers s_t).
    */
  def forwardScaled(m: HmmModel, obs: Array[Int]): (Array[Double], Array[Double]) = {
    val tb = m.tables
    val k = tb.numStates
    val timeLen = obs.length
    val alpha = new Array[Double](timeLen * k)
    val scale = new Array[Double](timeLen)
    // A zero normalizer means the observation has zero probability in
    // every state under this model (possible with unsmoothed models
    // from fromDistributions); dividing by it would silently flood
    // alpha / logLik / EM stats with NaN, so fail loudly instead.
    def checkScale(s: Double, t: Int): Double =
      if (s > 0) s
      else throw new IllegalArgumentException(
        s"impossible observation under model: P(o_$t=${obs(t)} | any state) = 0 " +
          "(zero forward normalizer; use a smoothed model or fix the vocabulary)")
    var o = obs(0) * k
    var i = 0
    var s = 0.0
    while (i < k) { alpha(i) = tb.pi(i) * tb.b(o + i); s += alpha(i); i += 1 }
    scale(0) = checkScale(s, 0)
    i = 0
    while (i < k) { alpha(i) /= scale(0); i += 1 }
    var t = 1
    while (t < timeLen) {
      val prev = (t - 1) * k
      val cur = t * k
      o = obs(t) * k
      var j = 0
      s = 0.0
      while (j < k) {
        val col = j * k
        var acc = 0.0
        var q = 0
        while (q < k) { acc += alpha(prev + q) * tb.aT(col + q); q += 1 }
        alpha(cur + j) = acc * tb.b(o + j)
        s += alpha(cur + j)
        j += 1
      }
      scale(t) = checkScale(s, t)
      j = 0
      while (j < k) { alpha(cur + j) /= scale(t); j += 1 }
      t += 1
    }
    (alpha, scale)
  }

  /** Scaled backward using the forward pass's normalizers; flat T·K. */
  def backwardScaled(m: HmmModel, obs: Array[Int], scale: Array[Double]): Array[Double] = {
    val tb = m.tables
    val k = tb.numStates
    val timeLen = obs.length
    val beta = new Array[Double](timeLen * k)
    val last = (timeLen - 1) * k
    var i = 0
    while (i < k) { beta(last + i) = 1.0 / scale(timeLen - 1); i += 1 }
    var t = timeLen - 2
    while (t >= 0) {
      val cur = t * k
      val next = cur + k
      val o = obs(t + 1) * k
      var q = 0
      while (q < k) {
        val row = q * k
        var acc = 0.0
        var r = 0
        while (r < k) { acc += tb.a(row + r) * tb.b(o + r) * beta(next + r); r += 1 }
        beta(cur + q) = acc / scale(t)
        q += 1
      }
      t -= 1
    }
    beta
  }

  /** Per-position posterior state distribution γ_t(i) = P(q_t = i | O, λ):
    * scaled α·β re-normalized per position (the per-t normalization
    * cancels whatever scaling convention α/β carry, so this is exact
    * regardless of the scale vector).
    */
  def gamma(m: HmmModel, obs: Array[Int]): Array[Array[Double]] = {
    val (alpha, scale) = forwardScaled(m, obs)
    val beta = backwardScaled(m, obs, scale)
    val k = m.numStates
    Array.tabulate(obs.length) { t =>
      val row = Array.tabulate(k)(i => alpha(t * k + i) * beta(t * k + i))
      val s = row.sum
      row.map(_ / s)
    }
  }

  def logLikelihood(m: HmmModel, obs: Array[Int]): Double = {
    val (_, scale) = forwardScaled(m, obs)
    var s = 0.0
    var t = 0
    while (t < scale.length) { s += math.log(scale(t)); t += 1 }
    s
  }

  /** Log-space Viterbi: most likely hidden path (reference surface:
    * Mahout HmmAlgorithms.viterbiAlgorithm). Reads the model's log
    * tables; δ keeps two rolling K-rows, ψ is flat T·K.
    */
  def viterbi(m: HmmModel, obs: Array[Int]): Array[Int] = {
    val tb = m.tables
    val k = tb.numStates
    val timeLen = obs.length
    var prev = new Array[Double](k)
    var cur = new Array[Double](k)
    val psi = new Array[Int](timeLen * k)
    var o = obs(0) * k
    var i = 0
    while (i < k) { prev(i) = tb.lnPi(i) + tb.lnB(o + i); i += 1 }
    var t = 1
    while (t < timeLen) {
      o = obs(t) * k
      val base = t * k
      var j = 0
      while (j < k) {
        val col = j * k
        var best = Double.NegativeInfinity
        var arg = 0
        var q = 0
        while (q < k) {
          val v = prev(q) + tb.lnAT(col + q)
          if (v > best) { best = v; arg = q }
          q += 1
        }
        cur(j) = best + tb.lnB(o + j)
        psi(base + j) = arg
        j += 1
      }
      val swap = prev; prev = cur; cur = swap
      t += 1
    }
    val path = new Array[Int](timeLen)
    var bestLast = 0
    var bestV = Double.NegativeInfinity
    i = 0
    while (i < k) { if (prev(i) > bestV) { bestV = prev(i); bestLast = i }; i += 1 }
    path(timeLen - 1) = bestLast
    t = timeLen - 1
    while (t > 0) { path(t - 1) = psi(t * k + path(t)); t -= 1 }
    path
  }

  /** N-best (list) Viterbi: the `n` highest-probability state paths
    * with their log-probabilities, best first. Per (t, state) the DP
    * keeps the top-n (score, prevState, prevRank) entries instead of
    * one — O(T · K² · n log n) per sequence, still embarrassingly
    * parallel across sequences. Ties break deterministically
    * (score desc, predecessor state asc, predecessor rank asc).
    */
  def nbestViterbi(m: HmmModel, obs: Array[Int], n: Int): Seq[(Double, Array[Int])] = {
    val tb = m.tables
    val k = tb.numStates
    val timeLen = obs.length
    // entries(t * K + j) = top-n (score, prevState, prevRank), best first
    val entries = new Array[Array[(Double, Int, Int)]](timeLen * k)
    for (j <- 0 until k)
      entries(j) = Array((tb.lnPi(j) + tb.lnB(obs(0) * k + j), -1, -1))
    for (t <- 1 until timeLen; j <- 0 until k) {
      val lnBj = tb.lnB(obs(t) * k + j)
      val cand = for {
        q <- 0 until k
        r <- entries((t - 1) * k + q).indices
      } yield (entries((t - 1) * k + q)(r)._1 + tb.lnAT(j * k + q) + lnBj, q, r)
      entries(t * k + j) = cand.sortBy { case (s, q, r) => (-s, q, r) }.take(n).toArray
    }
    // final candidates across states
    val lastRow = (timeLen - 1) * k
    val finals = (for {
      j <- 0 until k
      r <- entries(lastRow + j).indices
    } yield (entries(lastRow + j)(r)._1, j, r))
      .sortBy { case (s, j, r) => (-s, j, r) }.take(n)
    finals.map { case (score, lastState, lastRank) =>
      val path = new Array[Int](timeLen)
      var (j, r) = (lastState, lastRank)
      var t = timeLen - 1
      while (t >= 0) {
        path(t) = j
        val (_, pq, pr) = entries(t * k + j)(r)
        j = pq; r = pr
        t -= 1
      }
      (score, path)
    }
  }

  /** E-step for one sequence, accumulated in place into `stats`
    * (the Spark-side analogue of the mapper's three stripes,
    * BaumWelchMapper.java:156-241, with proper 1/P(O) weighting).
    */
  def accumulate(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    if (obs.isEmpty) return
    val tb = m.tables
    val k = tb.numStates
    val timeLen = obs.length
    val (alpha, scale) = forwardScaled(m, obs)
    val beta = backwardScaled(m, obs, scale)
    // π stripe: γ_0
    var i = 0
    while (i < k) { stats.addPi(i, alpha(i) * beta(i) * scale(0)); i += 1 }
    // emission stripe: Σ_t γ_t(i) at symbol o_t
    var t = 0
    while (t < timeLen) {
      val sym = obs(t)
      val cur = t * k
      i = 0
      while (i < k) { stats.addB(i, sym, alpha(cur + i) * beta(cur + i) * scale(t)); i += 1 }
      t += 1
    }
    // transition stripe: Σ_t ξ_t(q,r)
    t = 0
    while (t < timeLen - 1) {
      val cur = t * k
      val next = cur + k
      val o = obs(t + 1) * k
      var q = 0
      while (q < k) {
        val aq = alpha(cur + q)
        val row = q * k
        var r = 0
        while (r < k) {
          stats.addA(q, r, aq * tb.a(row + r) * tb.b(o + r) * beta(next + r))
          r += 1
        }
        q += 1
      }
      t += 1
    }
    // per-sequence log-likelihood in a sequence-local double sum
    // (deterministic: fixed left-to-right order), quantized once
    var ll = 0.0
    t = 0
    while (t < timeLen) { ll += math.log(scale(t)); t += 1 }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }

  /** Hard-EM (Viterbi-training) E-step for one sequence: decode the
    * single best path under the current model and add HARD counts
    * (exactly 1.0 per event) into `stats`; `logLik` accumulates the
    * joint log-probability log P(O, path* | λ) — the objective
    * Viterbi training ascends, read from the model's log tables.
    * Counterpart of Mahout's `HmmTrainer.trainViterbi` count
    * collection (the public companion surface of the reference
    * trainer family, BaumWelchDriver.java:53-69).
    *
    * Because the counts are integers, the summed statistics — and
    * hence the M-step model — are exact and FP-order-independent:
    * unlike soft EM, a Viterbi-trained model is bitwise reproducible
    * across partitionings and treeAggregate combine orders.
    */
  def accumulateViterbi(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    if (obs.isEmpty) return
    val tb = m.tables
    val k = tb.numStates
    val path = viterbi(m, obs)
    stats.addPi(path(0), 1.0)
    stats.addB(path(0), obs(0), 1.0)
    // hard counts of 1.0 are exact in fixed point, so Viterbi
    // training keeps its integer-count determinism unchanged
    var ll = tb.lnPi(path(0)) + tb.lnB(obs(0) * k + path(0))
    var t = 1
    while (t < obs.length) {
      stats.addA(path(t - 1), path(t), 1.0)
      stats.addB(path(t), obs(t), 1.0)
      ll += tb.lnAT(path(t) * k + path(t - 1)) + tb.lnB(obs(t) * k + path(t))
      t += 1
    }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }
}
