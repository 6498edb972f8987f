package graft.hmm

import org.scalatest.funsuite.AnyFunSuite

/** The flat, table-driven kernels of [[HmmAlgorithms]] against the 2-D
  * textbook reference ([[TextbookHmm]]): equal BITS, not merely close
  * values — the trainers' pinned trajectories depend on it.
  */
class HmmKernelSpec extends AnyFunSuite {

  private def sameStats(x: HmmSuffStats, y: HmmSuffStats, what: String): Unit = {
    assert(x.pi.toSeq == y.pi.toSeq, s"$what: pi")
    assert(x.a.map(_.toSeq).toSeq == y.a.map(_.toSeq).toSeq, s"$what: A")
    assert(x.b.map(_.toSeq).toSeq == y.b.map(_.toSeq).toSeq, s"$what: B")
    assert(java.lang.Double.doubleToLongBits(x.logLik) ==
      java.lang.Double.doubleToLongBits(y.logLik), s"$what: loglik ${x.logLik} vs ${y.logLik}")
    assert(x.nSeq == y.nSeq, s"$what: nSeq")
  }

  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(java.lang.Double.doubleToLongBits)

  /** Both E-steps of both kernels over `seqs`, plus decode, compared. */
  private def assertSameKernels(m: HmmModel, seqs: Seq[Array[Int]], what: String): Unit = {
    val k = m.numStates
    val (soft, softRef) = (new HmmSuffStats(k, m.numSymbols), new HmmSuffStats(k, m.numSymbols))
    val (hard, hardRef) = (new HmmSuffStats(k, m.numSymbols), new HmmSuffStats(k, m.numSymbols))
    seqs.foreach { s =>
      HmmAlgorithms.accumulate(m, s, soft)
      TextbookHmm.accumulate(m, s, softRef)
      HmmAlgorithms.accumulateViterbi(m, s, hard)
      TextbookHmm.accumulateViterbi(m, s, hardRef)
      val (alpha, scale) = HmmAlgorithms.forwardScaled(m, s)
      val (alphaRef, scaleRef) = TextbookHmm.forward(m, s)
      assert(bits(alpha) == bits(alphaRef.flatten), s"$what: alpha")
      assert(bits(scale) == bits(scaleRef), s"$what: scale")
      assert(bits(HmmAlgorithms.backwardScaled(m, s, scale)) ==
        bits(TextbookHmm.backward(m, s, scaleRef).flatten), s"$what: beta")
      assert(HmmAlgorithms.viterbi(m, s).toSeq == TextbookHmm.viterbi(m, s).toSeq, s"$what: path")
      val nb = HmmAlgorithms.nbestViterbi(m, s, 3)
      val nbRef = TextbookHmm.nbestViterbi(m, s, 3)
      assert(nb.map(p => (java.lang.Double.doubleToLongBits(p._1), p._2.toSeq)) ==
        nbRef.map(p => (java.lang.Double.doubleToLongBits(p._1), p._2.toSeq)), s"$what: n-best")
    }
    sameStats(soft, softRef, s"$what soft")
    sameStats(hard, hardRef, s"$what hard")
  }

  private def sequences(rng: java.util.Random, m: Int, n: Int, maxLen: Int): Seq[Array[Int]] =
    Seq.fill(n)(Array.fill(1 + rng.nextInt(maxLen))(rng.nextInt(m)))

  test("flat kernels equal the 2-D reference bitwise on random models") {
    val rng = new java.util.Random(3)
    for (seed <- 1L to 10L) {
      val k = 2 + (seed % 7).toInt
      val m = 3 + (seed * 5 % 40).toInt
      assertSameKernels(HmmModel.random(k, m, seed), sequences(rng, m, 12, 80), s"seed $seed")
    }
  }

  test("zero-probability cells (−∞ Viterbi scores) and length-1 sequences match too") {
    // state 1 can never start, state 0 never moves to 2, and symbol 3
    // is emitted only by state 2
    val m = HmmModel(3, 4,
      Array(0.5, 0.0, 0.5),
      Array(Array(0.6, 0.4, 0.0), Array(0.3, 0.3, 0.4), Array(0.2, 0.5, 0.3)),
      Array(Array(0.5, 0.5, 0.0, 0.0), Array(0.0, 0.3, 0.7, 0.0), Array(0.1, 0.1, 0.1, 0.7)))
    val seqs = Seq(Array(0), Array(3), Array(2), Array(0, 3, 3, 1), Array(2, 2, 0, 1, 3, 0),
      Array(1, 2, 3, 0, 1, 2, 3))
    assertSameKernels(m, seqs, "sparse model")
    // the comparison above covered −∞ scores: paths through zero cells
    assert(HmmAlgorithms.nbestViterbi(m, Array(3), 3).map(_._1)
      .count(_ == Double.NegativeInfinity) == 2)
    val lenOne = HmmModel.random(4, 5, 77L)
    assertSameKernels(lenOne, (0 until 5).map(Array(_)), "length-1")
  }

  test("an impossible observation still fails the soft E-step loudly") {
    // symbol 2 has zero emission probability in every state
    val m = HmmModel(2, 3, Array(0.5, 0.5),
      Array(Array(0.5, 0.5), Array(0.5, 0.5)),
      Array(Array(0.5, 0.5, 0.0), Array(0.3, 0.7, 0.0)))
    val e = intercept[IllegalArgumentException] {
      HmmAlgorithms.accumulate(m, Array(0, 1, 2), new HmmSuffStats(2, 3))
    }
    assert(e.getMessage.contains("impossible observation"))
    intercept[IllegalArgumentException](HmmAlgorithms.logLikelihood(m, Array(2)))
    // hard EM sees the same sequence as a −∞ joint score, not an error
    val hard = new HmmSuffStats(2, 3)
    HmmAlgorithms.accumulateViterbi(m, Array(0, 1, 2), hard)
    assert(hard.logLik == Double.NegativeInfinity)
  }
}
