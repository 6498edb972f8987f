package graft.hmm

import org.apache.spark.ListenerBusDrain
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.spark

/** The fused EM loop: all restart chains advance in one job per
  * iteration, and each chain still follows, bit for bit, the
  * trajectory it follows when trained alone.
  */
class FusedEmSpec extends AnyFunSuite {

  private val sc = spark.sparkContext
  /** 50 sequences sampled from a planted 3-state, 5-symbol HMM. */
  private val seqs: RDD[Array[Int]] = {
    val planted = HmmModel.fromDistributions(
      Array(0.6, 0.3, 0.1),
      Array(Array(0.8, 0.1, 0.1), Array(0.1, 0.8, 0.1), Array(0.2, 0.2, 0.6)),
      Array(Array(0.6, 0.2, 0.1, 0.05, 0.05), Array(0.05, 0.1, 0.6, 0.2, 0.05),
        Array(0.1, 0.05, 0.05, 0.2, 0.6)))
    val rng = new java.util.Random(29)
    def draw(p: Array[Double]): Int = {
      val u = rng.nextDouble(); var acc = 0.0
      p.indices.find { i => acc += p(i); u < acc }.getOrElse(p.length - 1)
    }
    sc.parallelize(Seq.fill(50) {
      var state = draw(planted.pi)
      Array.fill(10 + rng.nextInt(30)) {
        val sym = draw(planted.b(state)); state = draw(planted.a(state)); sym
      }
    }, 3).cache()
  }

  private def sameFit(a: BaumWelch.FitResult, b: BaumWelch.FitResult, what: String): Unit = {
    def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToLongBits)
    assert(bits(a.model.pi) == bits(b.model.pi), s"$what: pi")
    assert(a.model.a.map(bits).toSeq == b.model.a.map(bits).toSeq, s"$what: A")
    assert(a.model.b.map(bits).toSeq == b.model.b.map(bits).toSeq, s"$what: B")
    assert(bits(a.logLikPerIter) == bits(b.logLikPerIter), s"$what: loglik trajectory")
    assert(a.iterations == b.iterations, s"$what: iterations")
    assert(a.converged == b.converged, s"$what: converged")
  }

  /** Jobs launched by `body` on this thread, counted by a SparkListener
    * through a job group of the spec's own. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"fused-em-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "FusedEmSpec")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val (k, m, seed) = (3, 5, 17L)
  private def inits(r: Int) = (0 until r).map(i => HmmModel.random(k, m, seed + i))

  test("each fused restart equals the same init trained alone, with chains converging at different iterations") {
    val epsilon = 0.1
    val soft = BaumWelch.fitRestarts(seqs, inits(4), maxIterations = 40, epsilon, hard = false)
    val hard = BaumWelch.fitRestarts(seqs, inits(4), maxIterations = 40, epsilon, hard = true,
      pseudoCount = 0.1)
    // the case this spec exists for: chains leave the batch at different iterations
    assert(soft.map(_.iterations).distinct.size > 1, s"soft iterations ${soft.map(_.iterations)}")
    assert(soft.forall(_.converged))
    inits(4).zipWithIndex.foreach { case (init, r) =>
      sameFit(soft(r), BaumWelch.fit(seqs, init, maxIterations = 40, epsilon = epsilon), s"soft restart $r")
      sameFit(hard(r), BaumWelch.fitViterbi(seqs, init, maxIterations = 40, epsilon = epsilon,
        pseudoCount = 0.1), s"hard restart $r")
    }
    // fitBest / fitViterbiBest keep the best final objective, first on ties
    sameFit(BaumWelch.fitBest(seqs, k, m, restarts = 4, seed = seed, maxIterations = 40,
      epsilon = epsilon), soft.maxBy(_.logLikPerIter.last), "fitBest")
    sameFit(BaumWelch.fitViterbiBest(seqs, k, m, restarts = 4, seed = seed, maxIterations = 40,
      epsilon = epsilon, pseudoCount = 0.1), hard.maxBy(_.logLikPerIter.last), "fitViterbiBest")
  }

  test("R restarts x I iterations launch exactly I jobs") {
    val iters = 4
    val (soft, softJobs) = jobsOf(BaumWelch.fitBest(seqs, k, m, restarts = 3, seed = seed,
      maxIterations = iters, epsilon = 0.0))
    assert(soft.iterations == iters)
    assert(softJobs == iters, s"fitBest launched $softJobs jobs for $iters iterations")
    val (hard, hardJobs) = jobsOf(BaumWelch.fitViterbiBest(seqs, k, m, restarts = 3, seed = seed,
      maxIterations = iters, epsilon = 0.0, pseudoCount = 0.1))
    assert(hard.iterations == iters)
    assert(hardJobs == iters, s"fitViterbiBest launched $hardJobs jobs for $iters iterations")
  }

  test("a chain hitting an impossible observation fails the call: no sibling runs on, no thread is left") {
    // symbol 4 has zero emission probability in every state of the second init
    val bad = {
      val r = HmmModel.random(k, m, 99L)
      r.copy(b = r.b.map { row => val z = row.updated(4, 0.0); z.map(_ / z.sum) })
    }
    def emThreads(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.asScala.collect {
        case (t, st) if t != Thread.currentThread() &&
          st.exists(_.getClassName.startsWith("graft.hmm.BaumWelch")) => t
      }.toSet
    }
    val (err, jobs) = jobsOf(scala.util.Try(
      BaumWelch.fitRestarts(seqs, Seq(inits(1).head, bad, inits(3).last), maxIterations = 10,
        epsilon = 0.0, hard = false)).failed.get)
    val causes = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists {
      case e: IllegalArgumentException => e.getMessage.contains("impossible observation")
      case _ => false
    }, s"kernel exception not in the cause chain: ${causes.map(_.getClass.getName)}")
    assert(jobs == 1, s"$jobs jobs ran; the failed iteration should have been the last")
    Thread.sleep(200)
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a job is still running after the failure")
    assert(emThreads().isEmpty, s"threads still in the EM loop: ${emThreads().map(_.getName)}")
  }
}
