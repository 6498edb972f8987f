package graft.hmm

import org.apache.spark.rdd.RDD

/** Fixed-size dense sufficient statistics for one EM iteration:
  * K + K² + K·M cells — the commutative-associative payload that
  * replaces the reference's shuffled MapWritable stripes
  * (BaumWelchMapper → Combiner → Reducer).
  *
  * Accumulation is 2^-36 FIXED POINT (long), not double: quantized
  * addition is exact and associative, so the aggregated statistics —
  * and with them the entire training trajectory — are bitwise
  * identical under ANY partitioning, task order, and treeAggregate
  * combine shape. Double sums made the soft-EM trainers this
  * library's only parallelism-nondeterministic outputs (r11); with
  * fixed-point stats they pin like every other query. Cost of the
  * quantization: each E-step term is rounded once to the nearest
  * 2^-36 (error ≤ 2^-37 per term, orders of magnitude below EM's own
  * convergence tolerance and the M-step's normalization).
  *
  * Capacity: a cell overflows at 2^63 · 2^-36 ≈ 1.3e8 expected-count
  * mass — ~100× the total observation count of the largest test tier,
  * and guarded by addExact (loud failure, never silent wraparound).
  * A corpus beyond that lowers [[HmmSuffStats.ScaleBits]]: capacity
  * doubles per bit dropped while per-term error stays ≪ any
  * statistical noise floor (2^-21 at the 10^13-observation extreme).
  */
final class HmmSuffStats(val numStates: Int, val numSymbols: Int) extends Serializable {
  import HmmSuffStats.fx
  val pi = new Array[Long](numStates)
  val a: Array[Array[Long]] = Array.ofDim[Long](numStates, numStates)
  val b: Array[Array[Long]] = Array.ofDim[Long](numStates, numSymbols)
  private var logLikFx = 0L
  // hard-EM degenerate case (a zero-probability event on the decoded
  // path): -Inf saturates a sticky flag instead of poisoning the sum
  private var logLikNegInf = false
  var nSeq = 0L

  def addPi(i: Int, x: Double): Unit = pi(i) = Math.addExact(pi(i), fx(x))
  def addA(q: Int, r: Int, x: Double): Unit = a(q)(r) = Math.addExact(a(q)(r), fx(x))
  def addB(i: Int, sym: Int, x: Double): Unit = b(i)(sym) = Math.addExact(b(i)(sym), fx(x))

  /** One PER-SEQUENCE log-likelihood contribution (the per-step log
    * sum stays in the sequence-local double loop, so quantization
    * error is per sequence, not per observation). */
  def addLogLik(x: Double): Unit =
    if (x == Double.NegativeInfinity) logLikNegInf = true
    else logLikFx = Math.addExact(logLikFx, fx(x))

  def logLik: Double =
    if (logLikNegInf) Double.NegativeInfinity
    else logLikFx.toDouble / HmmSuffStats.Scale

  /** Double views of the stripes (tests / diagnostics; the M-step
    * normalizes the raw longs so the model stays a deterministic
    * function of exact integers). */
  def piDouble: Array[Double] = pi.map(_.toDouble / HmmSuffStats.Scale)
  def aDouble: Array[Array[Double]] = a.map(_.map(_.toDouble / HmmSuffStats.Scale))
  def bDouble: Array[Array[Double]] = b.map(_.map(_.toDouble / HmmSuffStats.Scale))

  def merge(o: HmmSuffStats): HmmSuffStats = {
    var i = 0
    while (i < numStates) {
      pi(i) = Math.addExact(pi(i), o.pi(i))
      var j = 0
      while (j < numStates) { a(i)(j) = Math.addExact(a(i)(j), o.a(i)(j)); j += 1 }
      j = 0
      while (j < numSymbols) { b(i)(j) = Math.addExact(b(i)(j), o.b(i)(j)); j += 1 }
      i += 1
    }
    logLikFx = Math.addExact(logLikFx, o.logLikFx)
    logLikNegInf ||= o.logLikNegInf
    nSeq += o.nSeq
    this
  }
}

object HmmSuffStats {
  /** Fixed-point fraction bits; see the capacity note on the class. */
  val ScaleBits: Int = 36
  val Scale: Double = (1L << ScaleBits).toDouble
  /** Single-term range bound: Math.round alone would silently clamp a
    * term beyond ±2^63·2^-36 to Long.MaxValue (and map NaN to 0) —
    * addExact guards only the ADDITIONS, so conversion must fail
    * loudly too. 2^62 leaves one addition of headroom above any legal
    * term.
    */
  val MaxAbsScaled: Double = (1L << 62).toDouble
  @inline def fx(x: Double): Long = {
    val scaled = x * Scale
    // NaN fails this comparison too (!(NaN < b) is true) — a NaN term
    // is a numerically broken sequence and must poison the run, not
    // contribute Math.round(NaN) == 0 silently.
    if (!(Math.abs(scaled) < MaxAbsScaled))
      throw new ArithmeticException(
        s"fixed-point term out of range (NaN or |x| >= 2^${62 - ScaleBits}): x=$x")
    Math.round(scaled)
  }
}

/** Distributed Baum-Welch EM — the Spark-first reshape of the whole
  * reference repo (BaumWelchDriver.java:118-137 iteration loop).
  *
  * Per iteration: broadcast(models) → per-partition accumulation of
  * one mutable HmmSuffStats per chain → `treeAggregate` (depth 2) →
  * driver-side row-normalize → reference convergence test (||ΔA||_F +
  * ||ΔB||_F < ε, BaumWelchUtils.java:238-266).
  *
  * One job per iteration for all chains: every trainer — a single
  * [[fit]], or the R seeded restarts of [[fitBest]] — runs through one
  * loop that advances every still-active chain together. Each
  * iteration makes one broadcast of the active chains' models and one
  * pass over each cached sequence, feeding that sequence to every
  * chain's statistics; a chain leaves the batch when it converges or
  * reaches `maxIterations`. So R restarts × I iterations cost I jobs,
  * not R·I, and no driver thread beyond the caller's. A failing
  * E-step (an impossible observation) fails that one job, and with it
  * the call — no sibling chain runs on afterwards. Determinism is
  * untouched: each chain's statistics are exact fixed-point sums
  * (independent of partitioning, scheduling and of which other chains
  * share the pass), so every chain's trajectory is bitwise the one it
  * would follow alone.
  *
  * Scale: ZERO shuffle of sequence data — each iteration moves only
  * O(numPartitions · R · (K²+KM)) longs to the driver through the
  * tree. At 100 TB / 1000 executors this is one broadcast (≪1 MB) and
  * one sub-second aggregate per iteration; the sequences themselves
  * stay cached and partition-local. This is the same shape MLlib uses
  * for GaussianMixture/LDA EM.
  */
object BaumWelch {

  final case class FitResult(model: HmmModel, logLikPerIter: Array[Double], iterations: Int, converged: Boolean)

  /** One chain's state between iterations. */
  private final class Chain(var model: HmmModel) {
    val logLiks = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var converged = false
    def result: FitResult = FitResult(model, logLiks.toArray, iter, converged)
  }

  /** The EM loop: advance every active chain by one iteration per
    * `treeAggregate` until each has converged or run `maxIterations`.
    * `eStep` adds one sequence's statistics under a model;
    * `afterIteration` sees each chain after its M-step (checkpoints).
    */
  private def run(
      sequences: RDD[Array[Int]],
      chains: Seq[Chain],
      maxIterations: Int,
      epsilon: Double,
      eStep: (HmmModel, Array[Int], HmmSuffStats) => Unit,
      pseudoCount: Double,
      afterIteration: Chain => Unit = _ => ()): Seq[FitResult] = {
    val sc = sequences.sparkContext
    def active = chains.filter(c => c.iter < maxIterations && !c.converged)
    var batch = active
    while (batch.nonEmpty) {
      val models = batch.map(_.model).toArray
      val bc = sc.broadcast(models)
      val stats =
        try sequences.treeAggregate(models.map(m => new HmmSuffStats(m.numStates, m.numSymbols)))(
          seqOp = (acc, seq) => {
            val ms = bc.value
            var c = 0
            while (c < ms.length) { eStep(ms(c), seq, acc(c)); c += 1 }
            acc
          },
          combOp = (x, y) => {
            var c = 0
            while (c < x.length) { x(c).merge(y(c)); c += 1 }
            x
          },
          depth = 2)
        finally bc.destroy()
      batch.zip(stats).foreach { case (c, st) =>
        c.logLiks += st.logLik
        val next = mStep(st, c.model, pseudoCount)
        c.converged = c.model.frobeniusDistance(next) < epsilon
        c.model = next
        c.iter += 1
        afterIteration(c)
      }
      batch = active
    }
    chains.map(_.result)
  }

  /** One chain per init, trained together; results in init order. */
  private[hmm] def fitRestarts(
      sequences: RDD[Array[Int]],
      inits: Seq[HmmModel],
      maxIterations: Int,
      epsilon: Double,
      hard: Boolean,
      pseudoCount: Double = 0.0): Seq[FitResult] =
    run(sequences, inits.map(new Chain(_)), maxIterations, epsilon,
      if (hard) HmmAlgorithms.accumulateViterbi else HmmAlgorithms.accumulate, pseudoCount)

  private def randomInits(numStates: Int, numSymbols: Int, restarts: Int, seed: Long): Seq[HmmModel] =
    (0 until restarts).map(r => HmmModel.random(numStates, numSymbols, seed + r))

  /** Latest COMPLETE `model-N` checkpoint under `dir`, if any — via
    * the Hadoop FileSystem API so checkpoint dirs work on any cluster
    * FS, not just local disk (reference: BaumWelchDriver.java:128
    * writes per-iteration `model-N` dirs for exactly this resume
    * story). A dir without the committer's _SUCCESS marker is a
    * partial write from a crashed driver — skipped, so resume falls
    * back to the newest checkpoint that actually committed.
    */
  def latestCheckpoint(spark: org.apache.spark.sql.SparkSession, dir: String): Option[(Int, String)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("model-") => n.stripPrefix("model-").toIntOption.map(_ -> n) }
      .flatten
      .filter { case (_, name) =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name/_SUCCESS")) }
      .sortBy(-_._1)
      .headOption
      .map { case (iter, name) => (iter, s"$dir/$name") }
  }

  /** Distributed EM with optional per-iteration checkpointing.
    *
    * `checkpointDir = Some(dir)` writes the model (full double
    * precision, plus the loglik history) to `dir/model-N` after every
    * iteration. With `resume = true`, training restarts from the
    * newest `model-N` instead of `init` — a driver loss mid-way
    * through a 50-iteration run on a 100 TB corpus costs one
    * iteration, not the whole job.
    */
  def fit(
      sequences: RDD[Array[Int]],
      init: HmmModel,
      maxIterations: Int = 20,
      epsilon: Double = 1e-4,
      checkpointDir: Option[String] = None,
      resume: Boolean = false): FitResult = {
    lazy val spark = org.apache.spark.sql.SparkSession.active
    val chain = new Chain(init)
    if (resume) checkpointDir.flatMap(latestCheckpoint(spark, _)).foreach {
      case (ckptIter, ckptPath) =>
        val (m, lls, conv) = ModelIO.loadCheckpoint(spark, ckptPath)
        chain.model = m
        chain.logLiks ++= lls
        chain.iter = ckptIter
        // a run that had already converged resumes as converged —
        // without this, resume would take one extra EM step and
        // drift off the uninterrupted trajectory
        chain.converged = conv
    }
    else checkpointDir.foreach { d =>
      // fresh run: clear stale model-N dirs from any previous run, or
      // a later resume would silently pick up the OLD trajectory
      // (worst case as a no-op when its iteration exceeds
      // maxIterations, returning the stale model as "trained")
      val path = new org.apache.hadoop.fs.Path(d)
      val fs = path.getFileSystem(sequences.sparkContext.hadoopConfiguration)
      if (fs.exists(path))
        fs.listStatus(path).filter(_.getPath.getName.startsWith("model-"))
          .foreach(s => fs.delete(s.getPath, true))
    }
    run(sequences, Seq(chain), maxIterations, epsilon, HmmAlgorithms.accumulate, 0.0,
      afterIteration = c => checkpointDir.foreach(d =>
        ModelIO.save(spark, c.model, s"$d/model-${c.iter}", c.logLiks.toSeq, c.converged))).head
  }

  /** Multi-restart EM: run `restarts` seeded random inits (seeds
    * `seed + r`) and keep the model with the best final
    * log-likelihood — the standard guard against EM local optima.
    * The chains share each iteration's job; input should be cached.
    * Ties keep the first restart.
    */
  def fitBest(
      sequences: RDD[Array[Int]],
      numStates: Int,
      numSymbols: Int,
      restarts: Int = 3,
      seed: Long = 42L,
      maxIterations: Int = 20,
      epsilon: Double = 1e-4): FitResult =
    fitRestarts(sequences, randomInits(numStates, numSymbols, restarts, seed),
      maxIterations, epsilon, hard = false).maxBy(_.logLikPerIter.last)

  /** Multi-restart Viterbi training: hard EM is even more prone to
    * local optima than soft EM (the hard assignment can collapse both
    * states onto the corpus-modal symbol from one bad init), so the
    * restart guard is the supported way to ask for a trained model
    * rather than a trajectory. Same seeds and maxBy-final-objective
    * selection as [[fitBest]], same one job per iteration for all
    * chains; input should be cached.
    */
  def fitViterbiBest(
      sequences: RDD[Array[Int]],
      numStates: Int,
      numSymbols: Int,
      restarts: Int = 3,
      seed: Long = 42L,
      maxIterations: Int = 20,
      epsilon: Double = 1e-4,
      pseudoCount: Double = 0.0): FitResult =
    fitRestarts(sequences, randomInits(numStates, numSymbols, restarts, seed),
      maxIterations, epsilon, hard = true, pseudoCount).maxBy(_.logLikPerIter.last)

  /** Viterbi training (hard EM) — Mahout `HmmTrainer.trainViterbi`,
    * the public companion of the reference's soft-EM trainer
    * (BaumWelchDriver.java:53-69 exposes the trainer family).
    *
    * Per iteration: broadcast(model) → per-sequence Viterbi decode +
    * HARD transition/emission counts ([[HmmAlgorithms.accumulateViterbi]])
    * → the same treeAggregate as soft EM → M-step with `pseudoCount`
    * Laplace smoothing on every π/A/B cell (Mahout's pseudo-count
    * guard against states starved by the hard assignment) →
    * reference convergence test (||ΔA||_F + ||ΔB||_F < ε).
    *
    * Scale: identical dataflow to [[fit]] (the same loop) — zero
    * shuffle of sequence data, one sub-MB broadcast + one O(K²+KM)
    * aggregate per iteration. Hard counts are integers, so the trained
    * model is FP-deterministic across partitionings (asserted in the
    * spec) — no rounding-for-stability needed downstream.
    */
  def fitViterbi(
      sequences: RDD[Array[Int]],
      init: HmmModel,
      maxIterations: Int = 20,
      epsilon: Double = 1e-4,
      pseudoCount: Double = 0.0): FitResult =
    fitRestarts(sequences, Seq(init), maxIterations, epsilon, hard = true, pseudoCount).head

  /** Row-normalize summed stripes (BaumWelchReducer.java:133-150),
    * optionally adding `pseudoCount` to every cell first (Viterbi
    * training's Laplace smoothing; soft EM passes 0). A row with
    * zero mass (state never visited) keeps the previous model's row
    * rather than dividing by zero. Normalization runs on the raw
    * fixed-point longs (sum exact in long, one correctly-rounded
    * long→double conversion per cell), so the model is a
    * deterministic function of the exact integer statistics.
    */
  private def mStep(stats: HmmSuffStats, prev: HmmModel, pseudoCount: Double = 0.0): HmmModel = {
    val pcFx = HmmSuffStats.fx(pseudoCount)
    def normRow(row: Array[Long], fallback: Array[Double]): Array[Double] = {
      var s = 0L
      var i = 0
      while (i < row.length) { s = Math.addExact(s, Math.addExact(row(i), pcFx)); i += 1 }
      if (s > 0) row.map(c => (c + pcFx).toDouble / s.toDouble) else fallback.clone()
    }
    HmmModel(
      prev.numStates, prev.numSymbols,
      normRow(stats.pi, prev.pi),
      stats.a.zip(prev.a).map { case (r, f) => normRow(r, f) },
      stats.b.zip(prev.b).map { case (r, f) => normRow(r, f) })
  }
}
