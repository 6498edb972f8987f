package graft.hmm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SparkEntry-facing HMM queries (SURVEY.md §2.1).
  *
  * The "labeled" hidden state for the supervised/decoding queries is a
  * deterministic derivation from the data (state = event_id % 3) so
  * both engines — Spark and the DuckDB oracle — can compute it; the
  * model-driven queries (forward/viterbi/EM) then run off the
  * supervised model so their inputs are deterministic too.
  */
object HmmQueries {

  val NumStates = 3

  // -------------------------------------------------------------------
  // hmm_supervised: MLE model from labeled (state, obs) pairs — pure
  // DataFrame counts → normalize; sparse long form (zero cells absent
  // on both sides). Counterpart of Mahout's HmmTrainer.trainSupervised.
  // -------------------------------------------------------------------

  private def labeled(spark: SparkSession, dir: String): DataFrame =
    Sequencer.eventsWithSym(spark, dir)
      .withColumn("state", col("event_id") % 3)

  def supervised(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val seq = labeled(spark, dir)
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    // division of two exact longs is a single correctly-rounded IEEE
    // op — identical on both engines, so no rounding needed.
    val pi = seq.filter(col("rn") === 1).groupBy(col("state").as("i")).count()
      .select(lit("pi").as("kind"), col("i"), lit(-1L).as("j"),
        (col("count") / sum(col("count")).over(Window.partitionBy())).as("prob"))
    val a = seq.filter(col("next_state").isNotNull)
      .groupBy(col("state").as("i"), col("next_state").as("j")).count()
      .select(lit("transition").as("kind"), col("i"), col("j"),
        (col("count") / sum(col("count")).over(Window.partitionBy(col("i")))).as("prob"))
    val b = seq.groupBy(col("state").as("i"), col("sym").cast("long").as("j")).count()
      .select(lit("emission").as("kind"), col("i"), col("j"),
        (col("count") / sum(col("count")).over(Window.partitionBy(col("i")))).as("prob"))
    pi.unionByName(a).unionByName(b).orderBy("kind", "i", "j")
  }

  /** Shared CTE chain for the supervised-model oracles — ONE copy so
    * a fix (e.g. a dtype cast) cannot drift between supervisedSql and
    * modelIoSql.
    */
  private val supervisedCtes: String =
    s"""${Sequencer.vocabCte},
       |e AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
       |         event_id % 3 AS state, sym
       |  FROM events JOIN vocab USING (event_type)
       |), seq AS (
       |  SELECT user_id, state, sym,
       |    lead(state) OVER w AS next_state,
       |    row_number() OVER w AS rn
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |), pi AS (
       |  SELECT 'pi' AS kind, state AS i, -1 AS j,
       |    count(*) / sum(count(*)) OVER () AS prob
       |  FROM seq WHERE rn = 1 GROUP BY state
       |), a AS (
       |  SELECT 'transition' AS kind, state AS i, next_state AS j,
       |    count(*) / sum(count(*)) OVER (PARTITION BY state) AS prob
       |  FROM seq WHERE next_state IS NOT NULL GROUP BY state, next_state
       |), b AS (
       |  SELECT 'emission' AS kind, state AS i, sym AS j,
       |    count(*) / sum(count(*)) OVER (PARTITION BY state) AS prob
       |  FROM seq GROUP BY state, sym
       |)""".stripMargin

  val supervisedSql: String =
    s"""WITH $supervisedCtes
       |SELECT * FROM (
       |  SELECT * FROM pi UNION ALL SELECT * FROM a UNION ALL SELECT * FROM b
       |) ORDER BY kind, i, j""".stripMargin

  // -------------------------------------------------------------------
  // hmm_model_io: persist/restore round trip through parquet long form
  // (reference: BaumWelchUtils.WriteModelToDirectory / CreateHmmModel),
  // carrying the hidden/emitted state NAME maps like the reference
  // model does (BaumWelchModel.java:93-94): hidden states are named
  // s<i>, emitted symbols carry their vocab event_type. Oracle = the
  // supervised SQL extended with the same names: a correct round trip
  // is the identity.
  // -------------------------------------------------------------------

  def modelIo(spark: SparkSession, dir: String): DataFrame = {
    // overwrite mode: repeated runs reuse one scratch dir
    val path = graft.ScratchDir("graft_hmm_model_io", spark, dir)
    val v = Sequencer.vocab(spark, dir)
      .select(col("sym").cast("long").as("j"), col("event_type"))
    val named = supervised(spark, dir)
      .join(broadcast(v), Seq("j"), "left")
      .withColumn("i_name", concat(lit("s"), col("i").cast("string")))
      .withColumn("j_name",
        when(col("kind") === "emission", col("event_type"))
          .when(col("kind") === "transition", concat(lit("s"), col("j").cast("string")))
          .otherwise(lit("")))
      .select("kind", "i", "j", "prob", "i_name", "j_name")
    named.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).orderBy("kind", "i", "j")
  }

  val modelIoSql: String =
    s"""WITH $supervisedCtes
       |SELECT kind, i, j, prob,
       |  's' || CAST(i AS VARCHAR) AS i_name,
       |  CASE WHEN kind = 'emission'
       |         THEN (SELECT event_type FROM vocab v WHERE v.sym = u.j)
       |       WHEN kind = 'transition' THEN 's' || CAST(j AS VARCHAR)
       |       ELSE '' END AS j_name
       |FROM (
       |  SELECT * FROM pi UNION ALL SELECT * FROM a UNION ALL SELECT * FROM b
       |) u ORDER BY kind, i, j""".stripMargin

  // -------------------------------------------------------------------
  // Model construction for the decode/likelihood queries: a smoothed
  // supervised model (Laplace 0.5 so no zero emission stalls a scaled
  // forward pass). Counts collected to the driver are O(K² + K·M).
  // -------------------------------------------------------------------

  // Every model-driven query needs the same deterministic supervised
  // model: train once per (session, events content), not once per
  // query (saves two shuffles + a collect per query).
  def trainSupervisedModel(spark: SparkSession, dir: String, smooth: Double = 0.5): HmmModel =
    graft.Memo.value("hmmModel", spark, dir, "events", smooth)(trainUncached(spark, dir, smooth))

  private def trainUncached(spark: SparkSession, dir: String, smooth: Double): HmmModel = {
    val rows = supervised(spark, dir).collect()
    val m = Sequencer.vocab(spark, dir).count().toInt
    val k = NumStates
    // rebuild raw probabilities, then re-smooth uniformly: p' ∝ p + s/dim
    def dense(kind: String, cols: Int): Array[Array[Double]] = {
      val arr = Array.fill(k, cols)(0.0)
      rows.filter(_.getString(0) == kind).foreach { r =>
        arr(r.getLong(1).toInt)(r.getLong(2).toInt) = r.getDouble(3)
      }
      arr.map { row =>
        val sm = row.map(_ + smooth / cols)
        val s = sm.sum
        sm.map(_ / s)
      }
    }
    val piRaw = Array.fill(k)(0.0)
    rows.filter(_.getString(0) == "pi").foreach(r => piRaw(r.getLong(1).toInt) = r.getDouble(3))
    val piSm = piRaw.map(_ + smooth / k)
    val piS = piSm.sum
    HmmModel(k, m, piSm.map(_ / piS), dense("transition", k), dense("emission", m))
  }

  // -------------------------------------------------------------------
  // Model-driven per-sequence queries: broadcast model, one narrow map
  // over sequences — zero extra shuffle beyond the sequence build. The
  // kernels read the broadcast model's flat/log tables (HmmTables),
  // built once per model copy, not per sequence.
  // -------------------------------------------------------------------

  def likelihood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .map { case (uid, syms) =>
        (uid, math.rint(HmmAlgorithms.logLikelihood(bc.value, syms.toArray) * 1e6) / 1e6)
      }
      .toDF("user_id", "loglik")
      .orderBy("user_id")
  }

  /** Final-step scaled forward vector per sequence. */
  def forward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        val (alpha, _) = HmmAlgorithms.forwardScaled(bc.value, syms.toArray)
        alpha.takeRight(bc.value.numStates).zipWithIndex
          .map { case (v, s) => (uid, s, math.rint(v * 1e6) / 1e6) }
      }
      .toDF("user_id", "state", "alpha_last")
      .orderBy("user_id", "state")
  }

  /** First-step scaled backward vector per sequence. */
  def backward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        val (_, scale) = HmmAlgorithms.forwardScaled(bc.value, syms.toArray)
        val beta = HmmAlgorithms.backwardScaled(bc.value, syms.toArray, scale)
        beta.take(bc.value.numStates).zipWithIndex
          .map { case (v, s) => (uid, s, math.rint(v * 1e6) / 1e6) }
      }
      .toDF("user_id", "state", "beta_first")
      .orderBy("user_id", "state")
  }

  /** Per-event posterior state distribution γ_t (forward-backward),
    * long form — the marginal-MAP complement to Viterbi's joint-MAP
    * path (posterior decoding minimizes expected per-position error;
    * Viterbi maximizes whole-path probability). Same scale shape as
    * the other model-driven queries: broadcast model, one narrow map.
    */
  def posterior(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        for {
          (row, pos) <- HmmAlgorithms.gamma(bc.value, syms.toArray).iterator.zipWithIndex
          (g, s) <- row.iterator.zipWithIndex
        } yield (uid, pos, s, math.rint(g * 1e6) / 1e6)
      }
      .toDF("user_id", "pos", "state", "gamma")
      .orderBy("user_id", "pos", "state")
  }

  /** Per-event Viterbi state path, long form (user_id, pos, state). */
  def viterbi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        HmmAlgorithms.viterbi(bc.value, syms.toArray).zipWithIndex
          .map { case (st, pos) => (uid, pos, st) }
      }
      .toDF("user_id", "pos", "state")
      .orderBy("user_id", "pos")
  }

  /** N-best decode: the top-3 state paths per user with their
    * log-probabilities and the gap to the best — the list-decoding
    * view a downstream consumer uses to judge decode confidence.
    * Same distribution shape as Viterbi: broadcast model, one narrow
    * map per sequence, zero extra shuffle; paths serialize as
    * hyphen-joined state strings (bounded by sequence length).
    */
  def nbest(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        val paths = HmmAlgorithms.nbestViterbi(bc.value, syms.toArray, n)
        val best = paths.head._1
        paths.zipWithIndex.map { case ((score, path), r) =>
          (uid, r + 1, math.rint(score * 1e6) / 1e6,
            math.rint((best - score) * 1e6) / 1e6, path.mkString("-"))
        }
      }
      .toDF("user_id", "rank", "log_prob", "gap_to_best", "path")
      .orderBy("user_id", "rank")
  }

  /** End-to-end decode: events → sequences → Viterbi → per-user
    * path summary.
    */
  def decodeEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    Sequencer.sequenceDs(spark, dir)
      .map { case (uid, syms) =>
        val path = HmmAlgorithms.viterbi(bc.value, syms.toArray)
        val counts = path.groupBy(identity).view.mapValues(_.length)
        // deterministic argmax: ties to the smaller state id
        val top = counts.toSeq.minBy { case (s, c) => (-c, s) }._1
        val switches = path.sliding(2).count(p => p.length == 2 && p(0) != p(1))
        (uid, path.length, top, switches)
      }
      .toDF("user_id", "n_events", "top_state", "n_switches")
      .orderBy("user_id")
  }

  /** Named long-form model dump + loglik history — every
    * model-emitting query shares hmm_model_io's (kind, i, j, value,
    * i_name, j_name) schema.
    */
  private def namedModelDump(
      spark: SparkSession, model: HmmModel,
      logLiks: Seq[Double] = Nil, round: Int = 6): DataFrame = {
    import spark.implicits._
    val modelRows = model.toNamedRows(round)
      .map { case (kind, i, j, v, in, jn) => (kind, i.toLong, j.toLong, v, in, jn) }
    val factor = math.pow(10, round)
    val llRows = logLiks.zipWithIndex.map { case (ll, it) =>
      ("loglik_iter", it.toLong, -1L, math.rint(ll * factor) / factor, "", "")
    }
    (modelRows ++ llRows)
      .toDF("kind", "i", "j", "value", "i_name", "j_name")
      .orderBy("kind", "i", "j")
  }

  /** States s0..s{K-1}, symbols named by their vocab event types —
    * the same naming hmm_model_io and TrainHmm write.
    */
  private def vocabNames(spark: SparkSession, dir: String): Seq[String] =
    Sequencer.vocab(spark, dir).collect()
      .sortBy(_.getInt(1)).map(_.getString(0)).toSeq

  /** Distributed Baum-Welch from a seeded random init; dumps the
    * trained model (named long form) plus one row per iteration
    * loglik. Values rounded 4dp for artifact readability; since r11
    * the fixed-point E-step (HmmSuffStats) makes the full-precision
    * trajectory bitwise partitioning-independent, so the dump carries
    * a pinned-literal oracle.
    */
  def baumWelch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = vocabNames(spark, dir)
    val seqs = Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd.cache()
    try {
      // 3 seeded restarts, best final loglik kept — EM local-optimum guard
      val res = BaumWelch.fitBest(seqs, NumStates, names.length,
        restarts = 3, seed = 42L, maxIterations = 10, epsilon = 1e-4)
      val named = res.model.withNames(
        (0 until NumStates).map(i => s"s$i"), names)
      namedModelDump(spark, named, res.logLikPerIter.toSeq, round = 4)
    } finally seqs.unpersist()
  }

  /** Viterbi training (hard EM) from the same seeded random init as
    * hmm_baumwelch — Mahout `HmmTrainer.trainViterbi`, the public
    * companion of the reference trainer (BaumWelchDriver.java:53-69).
    * Dumps the trained model (named long form) + one row per
    * iteration of the hard-EM objective Σ log P(O, path*).
    *
    * Hard counts are integers → the model is FP-deterministic across
    * partitionings (spec-asserted); since r11 the loglik rows are too
    * (per-sequence quantized fixed-point sums), so the dump pins like
    * hmm_baumwelch's. 4dp rounding kept for artifact readability.
    */
  def viterbiTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = vocabNames(spark, dir)
    val seqs = Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd.cache()
    try {
      val res = BaumWelch.fitViterbi(seqs,
        HmmModel.random(NumStates, names.length, seed = 42L),
        maxIterations = 10, epsilon = 1e-4, pseudoCount = 0.1)
      val named = res.model.withNames(
        (0 until NumStates).map(i => s"s$i"), names)
      namedModelDump(spark, named, res.logLikPerIter.toSeq, round = 4)
    } finally seqs.unpersist()
  }

  /** Seeded random-model dump (reference: BaumWelchUtils.BuildRandomModel);
    * row-stochasticity asserted in the spec. Names are the s&lt;i&gt;/
    * o&lt;j&gt; defaults — a random model has no data-derived names.
    */
  def randomModel(spark: SparkSession, dir: String): DataFrame =
    namedModelDump(spark, HmmModel.random(4, 5, seed = 42L))

  /** Stationary distribution π∞ of the trained transition matrix
    * (the long-run state occupancy the chain converges to, vs the
    * data-derived initial π) — the model-diagnostics summary a
    * sequence model ships with.
    *
    * Scale: the power iteration runs on the driver over the K×K
    * matrix the treeAggregate already reduced to — O(K²) per step
    * with K ≲ 100s; no cluster work at all beyond the (memoized)
    * supervised training.
    */
  def stationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val pinf = stationaryOf(model.a)
    pinf.zipWithIndex.map { case (p, i) => (i.toLong, p, model.pi(i)) }
      .toSeq.toDF("state", "stationary_prob", "pi0_prob")
      .select(col("state"),
        round(col("stationary_prob"), 6).as("stationary_prob"),
        round(col("pi0_prob"), 6).as("pi0_prob"))
      .orderBy("state")
  }

  /** Power iteration x ← xA to the fixed point (row-stochastic A;
    * the supervised model is Laplace-smoothed, so A is strictly
    * positive → the chain is ergodic and the limit unique).
    */
  private[graft] def stationaryOf(a: Array[Array[Double]]): Array[Double] = {
    val k = a.length
    var x = Array.fill(k)(1.0 / k)
    var delta = 1.0
    var it = 0
    while (delta > 1e-13 && it < 10000) {
      val nx = Array.tabulate(k)(j => (0 until k).map(i => x(i) * a(i)(j)).sum)
      val s = nx.sum
      val nn = nx.map(_ / s)
      delta = (0 until k).map(i => math.abs(nn(i) - x(i))).max
      x = nn
      it += 1
    }
    x
  }

  /** Model from explicit distributions (Rabiner's classic two-state
    * weather example), validated then dumped.
    */
  def fromDistributions(spark: SparkSession, dir: String): DataFrame = {
    val m = HmmModel.fromDistributions(
      Array(0.6, 0.4),
      Array(Array(0.7, 0.3), Array(0.4, 0.6)),
      Array(Array(0.1, 0.4, 0.5), Array(0.6, 0.3, 0.1)))
    namedModelDump(spark, m)
  }

  /** Forecast: from each user's final Viterbi state, sample 5 future
    * (state, obs) steps with a counter-based splitmix64 RNG — keyed by
    * (user_id, step), so sampling is deterministic AND
    * distribution-safe: no partition-dependent RNG state.
    */
  def predict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = trainSupervisedModel(spark, dir)
    val bc = spark.sparkContext.broadcast(model)
    val horizon = 5
    Sequencer.sequenceDs(spark, dir)
      .flatMap { case (uid, syms) =>
        val m = bc.value
        var state = HmmAlgorithms.viterbi(m, syms.toArray).last
        (0 until horizon).map { step =>
          state = sampleIndex(m.a(state), mix64(uid * 2654435769L + step * 2 + 1))
          val sym = sampleIndex(m.b(state), mix64(uid * 2654435769L + step * 2 + 2))
          (uid, step, state, sym)
        }
      }
      .toDF("user_id", "step", "state", "sym")
      .orderBy("user_id", "step")
  }

  /** CLI training driver surface (reference BaumWelchDriver.java CLI):
    * trains on the events table via TrainHmm.run and dumps the written
    * named-model directory. Pinned-literal oracle since r11 (the
    * fixed-point E-step makes the trained model deterministic).
    */
  def trainCli(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.ScratchDir("graft_train_cli", spark, dir)
    TrainHmm.run(spark, TrainHmm.Config(
      input = dir, output = out, numStates = 3,
      maxIterations = 5, restarts = 2, seed = 42L))
    spark.read.parquet(s"$out/model")
      .select(col("kind"), col("i"), col("j"), round(col("value"), 4).as("value"), col("name"))
      .orderBy("kind", "i", "j", "name")
  }

  /** Checkpoint/resume surface (reference BaumWelchDriver.java:128
    * model-N dirs): runs 2 checkpointed iterations, then a resumed fit
    * to 4 — the dump is the resumed model plus its full loglik
    * history (4 loglik_iter rows, checkpoints end at model-4). The
    * spec asserts a resumed trajectory equals an uninterrupted one
    * over 8 iterations.
    */
  def checkpointResume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the first fit below is a fresh run (resume=false), which clears
    // any stale model-N dirs itself
    val ckpt = graft.ScratchDir("graft_bw_ckpt", spark, dir)
    val names = vocabNames(spark, dir)
    val seqs = Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd.cache()
    try {
      val init = HmmModel.random(NumStates, names.length, seed = 42L)
      // "crash" after 2 iterations…
      BaumWelch.fit(seqs, init, maxIterations = 2, epsilon = 0.0,
        checkpointDir = Some(ckpt))
      // …and resume from the newest model-N to 4
      val res = BaumWelch.fit(seqs, init, maxIterations = 4, epsilon = 0.0,
        checkpointDir = Some(ckpt), resume = true)
      val named = res.model.withNames(
        (0 until NumStates).map(i => s"s$i"), names)
      namedModelDump(spark, named, res.logLikPerIter.toSeq, round = 4)
    } finally seqs.unpersist()
  }

  private def mix64(x0: Long): Double = graft.functions.Hashing.toUnitDouble(x0)

  private def sampleIndex(dist: Array[Double], u: Double): Int = {
    var acc = 0.0
    var i = 0
    while (i < dist.length - 1) {
      acc += dist(i)
      if (u < acc) return i
      i += 1
    }
    dist.length - 1
  }
}
