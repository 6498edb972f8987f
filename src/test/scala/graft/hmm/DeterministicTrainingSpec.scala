package graft.hmm

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark
import graft.LocalSpark.spark

/** The round-11 determinism guarantee: fixed-point (2^-36 long)
  * accumulation makes the E-step statistics exact and associative, so
  * training is BITWISE identical under any partitioning, input order,
  * and treeAggregate combine shape — not merely 1e-9-close. This is
  * what lets the soft-EM/IRLS dumps carry pinned-literal oracles like
  * every other deterministic query.
  */
class DeterministicTrainingSpec extends AnyFunSuite {

  private val gen = new java.util.Random(11)
  private val seqs = Seq.fill(60)(Array.fill(40)(gen.nextInt(4)))

  private def assertSameFit(a: BaumWelch.FitResult, b: BaumWelch.FitResult): Unit = {
    assert(a.model.pi.toSeq == b.model.pi.toSeq)
    assert(a.model.a.map(_.toSeq).toSeq == b.model.a.map(_.toSeq).toSeq)
    assert(a.model.b.map(_.toSeq).toSeq == b.model.b.map(_.toSeq).toSeq)
    assert(a.logLikPerIter.toSeq == b.logLikPerIter.toSeq)
    assert(a.iterations == b.iterations && a.converged == b.converged)
  }

  test("soft-EM training is bitwise identical across partitionings and input order") {
    val sc = spark.sparkContext
    val runs = Seq(
      sc.parallelize(seqs, 1),
      sc.parallelize(seqs, 3),
      sc.parallelize(seqs.reverse, 7)).map { rdd =>
      BaumWelch.fit(rdd, HmmModel.random(3, 4, seed = 5L), maxIterations = 6)
    }
    runs.tail.foreach(assertSameFit(runs.head, _))
  }

  test("Viterbi training is bitwise identical across partitionings and input order") {
    val sc = spark.sparkContext
    val runs = Seq(
      sc.parallelize(seqs, 1),
      sc.parallelize(seqs.reverse, 5)).map { rdd =>
      BaumWelch.fitViterbi(rdd, HmmModel.random(3, 4, seed = 5L),
        maxIterations = 6, pseudoCount = 0.1)
    }
    assertSameFit(runs.head, runs(1))
  }

  test("IRLS quality classifier is bitwise identical across partitionings") {
    val docs = graft.sources.Tables.documents(spark, LocalSpark.sfDir)
    val outs = Seq(1, 7).map { p =>
      graft.operators.Classifier
        .qualityLrFor(docs.repartition(p))
        .collect().map(_.toSeq).toSeq
    }
    assert(outs(0) == outs(1))
  }

  test("fixed-point conversion fails LOUDLY on NaN and out-of-range terms") {
    // Math.round alone would map NaN -> 0 (a broken sequence silently
    // contributing nothing) and clamp a huge term to Long.MaxValue
    // (silent saturation addExact never sees). The fx guard closes
    // both holes.
    intercept[ArithmeticException](HmmSuffStats.fx(Double.NaN))
    intercept[ArithmeticException](HmmSuffStats.fx(Double.PositiveInfinity))
    intercept[ArithmeticException](HmmSuffStats.fx(1e30))
    intercept[ArithmeticException](HmmSuffStats.fx(-1e30))
    val s = new HmmSuffStats(1, 1)
    intercept[ArithmeticException](s.addLogLik(Double.NaN))
    // legal extremes still convert
    assert(HmmSuffStats.fx(0.0) == 0L)
    assert(HmmSuffStats.fx(1.0) == (1L << HmmSuffStats.ScaleBits))
  }

  test("cell capacity overflow fails LOUDLY at the ~1.3e8 mass ceiling") {
    // capacity = 2^63 * 2^-36 ≈ 1.34e8 expected-count mass per cell.
    // Drive a cell deliberately to the boundary: each maximal legal
    // term carries just under 2^26 mass (fx bound 2^62), so the THIRD
    // addition must cross 2^63 and addExact must throw — loud failure,
    // never silent wraparound.
    val capacityMass = math.pow(2, 63 - HmmSuffStats.ScaleBits)
    assert(capacityMass > 1.3e8 && capacityMass < 1.4e8)
    val term = math.pow(2, 62 - HmmSuffStats.ScaleBits) * 0.999
    val s = new HmmSuffStats(1, 1)
    s.addPi(0, term)
    s.addPi(0, term) // ~0.999 * capacity: still legal
    intercept[ArithmeticException](s.addPi(0, term))
    // dropping ScaleBits doubles capacity per bit while per-term
    // quantization error stays negligible: at 32 bits, capacity covers
    // the 10^9-mass tier with error 2^-33 per term
    assert(math.pow(2, 63 - 32) > 2e9)
  }

  test("fixed-point quantization error is bounded by design") {
    // a cell receiving 10k terms of ~1.0 mass drifts < 10k * 2^-37
    // from the real sum — far below EM's epsilon and the 4dp dumps
    val s = new HmmSuffStats(1, 1)
    val r = new java.util.Random(3)
    var exact = java.math.BigDecimal.ZERO
    for (_ <- 0 until 10000) {
      val x = r.nextDouble()
      s.addPi(0, x)
      exact = exact.add(new java.math.BigDecimal(x))
    }
    val err = math.abs(s.piDouble(0) - exact.doubleValue())
    assert(err < 10000 * math.pow(2, -37), s"quantization error $err")
  }
}
