package graft.hmm

/** Dense HMM model: π (K), A (K×K row-stochastic transition), B (K×M
  * row-stochastic emission), with optional hidden-state and
  * emitted-symbol name maps.
  *
  * Mirrors the reference's model surface (BaumWelchModel.java:93-94 —
  * π/A/B plus the hidden/emitted state-name maps carried by
  * MapWritableCache; BaumWelchUtils.java:238-266 convergence) as a
  * plain serializable case class: the model is tiny (K,M ≲ 100s →
  * ≪ 1 MB) so it travels to executors as a broadcast, never as rows.
  */
final case class HmmModel(
    numStates: Int,
    numSymbols: Int,
    pi: Array[Double],
    a: Array[Array[Double]],
    b: Array[Array[Double]],
    stateNames: Option[IndexedSeq[String]] = None,
    symbolNames: Option[IndexedSeq[String]] = None) {

  /** Flat kernel tables (see [[HmmTables]]), built once per model
    * instance — on first kernel use, and again per deserialized copy on
    * an executor (transient), never per sequence or per time step. The
    * model's arrays are treated as immutable once a kernel has run.
    */
  @transient private[hmm] lazy val tables: HmmTables = new HmmTables(this)

  /** Hidden-state name (defaults to s0..s{K-1} when no map given). */
  def stateName(i: Int): String = stateNames.map(_(i)).getOrElse(s"s$i")

  /** Emitted-symbol name (defaults to o0..o{M-1} when no map given). */
  def symbolName(j: Int): String = symbolNames.map(_(j)).getOrElse(s"o$j")

  def withNames(states: Seq[String], symbols: Seq[String]): HmmModel =
    copy(stateNames = Some(states.toIndexedSeq), symbolNames = Some(symbols.toIndexedSeq))

  def validate(tol: Double = 1e-9): Unit = {
    require(pi.length == numStates, s"pi length ${pi.length} != $numStates")
    require(a.length == numStates && a.forall(_.length == numStates), "A shape")
    require(b.length == numStates && b.forall(_.length == numSymbols), "B shape")
    stateNames.foreach(n => require(n.length == numStates,
      s"stateNames length ${n.length} != $numStates"))
    symbolNames.foreach(n => require(n.length == numSymbols,
      s"symbolNames length ${n.length} != $numSymbols"))
    def rowOk(r: Array[Double]) =
      math.abs(r.sum - 1.0) < tol && r.forall(v => v >= 0 && v <= 1 + tol)
    require(rowOk(pi), s"pi not stochastic: sum=${pi.sum}")
    a.zipWithIndex.foreach { case (r, i) => require(rowOk(r), s"A row $i not stochastic") }
    b.zipWithIndex.foreach { case (r, i) => require(rowOk(r), s"B row $i not stochastic") }
  }

  /** Reference convergence distance (BaumWelchUtils.CheckConvergence,
    * BaumWelchUtils.java:238-266): ||ΔA||_F + ||ΔB||_F.
    */
  def frobeniusDistance(other: HmmModel): Double = {
    def frob(x: Array[Array[Double]], y: Array[Array[Double]]): Double = {
      var s = 0.0
      var i = 0
      while (i < x.length) {
        var j = 0
        while (j < x(i).length) { val d = x(i)(j) - y(i)(j); s += d * d; j += 1 }
        i += 1
      }
      math.sqrt(s)
    }
    frob(a, other.a) + frob(b, other.b)
  }

  /** Long-form dump rows: (kind, i, j, value). j = -1 for π. */
  def toRows(round: Int = 6): Seq[(String, Int, Int, Double)] = {
    def r(v: Double) = BigDecimal(v).setScale(round, BigDecimal.RoundingMode.HALF_UP).toDouble
    val piRows = pi.zipWithIndex.map { case (v, i) => ("pi", i, -1, r(v)) }
    val aRows = for (i <- 0 until numStates; j <- 0 until numStates)
      yield ("transition", i, j, r(a(i)(j)))
    val bRows = for (i <- 0 until numStates; j <- 0 until numSymbols)
      yield ("emission", i, j, r(b(i)(j)))
    (piRows.toSeq ++ aRows ++ bRows)
  }

  /** `toRows` with the name maps applied — (kind, i, j, value, i_name,
    * j_name) — so every model-emitting query dumps the same named
    * schema as hmm_model_io. Falls back to the s&lt;i&gt;/o&lt;j&gt;
    * defaults when no map is set.
    */
  def toNamedRows(round: Int = 6): Seq[(String, Int, Int, Double, String, String)] =
    toRows(round).map { case (kind, i, j, v) =>
      val jn = kind match {
        case "transition" => stateName(j)
        case "emission"   => symbolName(j)
        case _            => ""
      }
      (kind, i, j, v, stateName(i), jn)
    }
}

object HmmModel {

  /** Seeded random row-stochastic model (reference:
    * BaumWelchUtils.BuildRandomModel). Deterministic for a given seed.
    */
  def random(numStates: Int, numSymbols: Int, seed: Long): HmmModel = {
    val rng = new java.util.Random(seed)
    def row(n: Int): Array[Double] = {
      val r = Array.fill(n)(rng.nextDouble() + 1e-3)
      val s = r.sum
      r.map(_ / s)
    }
    HmmModel(numStates, numSymbols, row(numStates),
      Array.fill(numStates)(row(numStates)),
      Array.fill(numStates)(row(numSymbols)))
  }

  /** Build from explicit distributions + validate (reference:
    * BaumWelchUtils.BuildHmmModelFromDistributions).
    */
  def fromDistributions(
      pi: Array[Double],
      a: Array[Array[Double]],
      b: Array[Array[Double]]): HmmModel = {
    val m = HmmModel(pi.length, b.headOption.map(_.length).getOrElse(0), pi, a, b)
    m.validate()
    m
  }

  /** Rebuild from long-form rows (inverse of `toRows`). */
  def fromRows(rows: Seq[(String, Int, Int, Double)]): HmmModel = {
    val piRows = rows.filter(_._1 == "pi")
    val aRows = rows.filter(_._1 == "transition")
    val bRows = rows.filter(_._1 == "emission")
    val k = piRows.length
    val m = if (bRows.isEmpty) 0 else bRows.map(_._3).max + 1
    val pi = new Array[Double](k)
    piRows.foreach { case (_, i, _, v) => pi(i) = v }
    val a = Array.ofDim[Double](k, k)
    aRows.foreach { case (_, i, j, v) => a(i)(j) = v }
    val b = Array.ofDim[Double](k, m)
    bRows.foreach { case (_, i, j, v) => b(i)(j) = v }
    HmmModel(k, m, pi, a, b)
  }
}
