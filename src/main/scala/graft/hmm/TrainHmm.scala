package graft.hmm

import org.apache.spark.sql.SparkSession

/** Configurable Baum-Welch training driver — the Spark-first
  * counterpart of the reference CLI (BaumWelchDriver.java:53-69:
  * input/output paths, numHidden, maxIterations, convergenceDelta),
  * extended with seeded multi-restart and checkpoint/resume.
  *
  * Reads an `events`-shaped parquet table from --input, builds the
  * symbol vocabulary and per-user sequences (Sequencer), trains to
  * convergence, and writes a loadable named-model directory (ModelIO
  * long form, symbol names = the event types) to --output/model plus
  * the vocabulary to --output/vocab.
  *
  * Usage (sbt "runMain graft.hmm.TrainHmm ..."):
  *   --input DIR --output DIR [--states K]
  *     [--max-iterations N] [--epsilon E] [--restarts R] [--seed S]
  *     [--trainer baumwelch|viterbi] [--pseudo-count C]
  *     [--input-format events|seqfile]
  *     [--model-in DIR] [--checkpoint-dir DIR] [--resume]
  *
  * `main` runs on [[graft.LocalSession]]: `local[SPARK_GRAFT_CPUS]`
  * (default: every core) in the UTC time zone the events reader
  * assumes; another master or conf goes through GRAFT_CONF, e.g.
  * `GRAFT_CONF="spark.master=spark://host:7077"`.
  */
object TrainHmm {

  final case class Config(
      input: String = "",
      output: String = "",
      numStates: Int = 3,
      maxIterations: Int = 20,
      epsilon: Double = 1e-4,
      restarts: Int = 3,
      seed: Long = 42L,
      trainer: String = "baumwelch",
      pseudoCount: Double = 0.0,
      inputFormat: String = "events",
      modelIn: Option[String] = None,
      checkpointDir: Option[String] = None,
      resume: Boolean = false)

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case Nil => cfg
      case "--input" :: v :: t          => loop(t, cfg.copy(input = v))
      case "--output" :: v :: t         => loop(t, cfg.copy(output = v))
      case "--states" :: v :: t         => loop(t, cfg.copy(numStates = v.toInt))
      case "--max-iterations" :: v :: t => loop(t, cfg.copy(maxIterations = v.toInt))
      case "--epsilon" :: v :: t        => loop(t, cfg.copy(epsilon = v.toDouble))
      case "--restarts" :: v :: t       => loop(t, cfg.copy(restarts = v.toInt))
      case "--seed" :: v :: t           => loop(t, cfg.copy(seed = v.toLong))
      case "--trainer" :: v :: t        => loop(t, cfg.copy(trainer = v))
      case "--pseudo-count" :: v :: t   => loop(t, cfg.copy(pseudoCount = v.toDouble))
      case "--input-format" :: v :: t   => loop(t, cfg.copy(inputFormat = v))
      case "--model-in" :: v :: t       => loop(t, cfg.copy(modelIn = Some(v)))
      case "--checkpoint-dir" :: v :: t => loop(t, cfg.copy(checkpointDir = Some(v)))
      case "--resume" :: t              => loop(t, cfg.copy(resume = true))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, Config())
    require(cfg.input.nonEmpty, "--input is required")
    require(cfg.output.nonEmpty, "--output is required")
    require(cfg.numStates > 0 && cfg.maxIterations > 0 && cfg.restarts > 0, "bad sizes")
    require(Set("baumwelch", "viterbi")(cfg.trainer),
      s"--trainer must be baumwelch or viterbi, got '${cfg.trainer}'")
    require(Set("events", "seqfile")(cfg.inputFormat),
      s"--input-format must be events or seqfile, got '${cfg.inputFormat}'")
    require(cfg.pseudoCount >= 0, "--pseudo-count must be >= 0")
    // pseudo-count is the Viterbi M-step's Laplace guard — soft EM
    // never starves a cell, so accepting it there would silently do
    // nothing (Mahout scopes it to trainViterbi the same way)
    require(!(args.contains("--pseudo-count") && cfg.trainer != "viterbi"),
      "--pseudo-count applies only to --trainer viterbi")
    require(!(cfg.trainer == "viterbi" && cfg.checkpointDir.isDefined),
      "--checkpoint-dir is supported for the baumwelch trainer only")
    // a warm start IS the initial model: resuming a checkpoint would
    // override it, and >1 restarts would need >1 distinct inits
    require(!(cfg.modelIn.isDefined && cfg.resume),
      "--model-in and --resume are mutually exclusive")
    // without a checkpoint dir there is nothing to resume FROM — the
    // trainer dispatch would silently run a fresh multi-restart fit
    require(!(cfg.resume && cfg.checkpointDir.isEmpty),
      "--resume requires --checkpoint-dir")
    require(!(cfg.modelIn.isDefined && args.contains("--restarts") && cfg.restarts > 1),
      "--model-in trains one trajectory; --restarts > 1 is meaningless with it")
    cfg
  }

  /** Train per config; returns the fit result after writing the model
    * + vocab dirs. Separated from main so specs drive it in-process.
    *
    * With a checkpoint dir the run is single-restart (a checkpoint
    * identifies one EM trajectory; mixing restarts with resume would
    * silently resume the wrong trajectory) — restarts apply to the
    * fresh, uncheckpointed path.
    *
    * With `--model-in DIR` training warm-starts from the SUPPLIED
    * model (the reference driver's `modelInOption`,
    * BaumWelchDriver.java:53-55,74-77 — its primary fine-tune-on-new-
    * data workflow); random init is the fallback, not the rule. The
    * loaded model's K overrides --states. Its symbol space must COVER
    * the input's vocabulary: a named model may carry a superset (the
    * reference fine-tunes a full-corpus model on filtered slices,
    * BaumWelchDriver.java:57,67), in which case the slice's event
    * types are mapped into the model's symbol indices and the output
    * keeps the model's full vocabulary. An unnamed warm model has no
    * map to align by, so its symbol count must match exactly.
    */
  def run(spark: SparkSession, cfg: Config): BaumWelch.FitResult = {
    import spark.implicits._
    // --model-in accepts BOTH graft's parquet model dirs and the
    // reference's SequenceFile-of-MapWritable model dirs (a migrating
    // user's existing model-N outputs), auto-detected by container
    // magic. A reference model carries no name maps → it aligns
    // positionally via the count-match branch below, exactly as the
    // reference itself consumes it.
    val warm = cfg.modelIn.map { d =>
      if (graft.sources.MahoutModel.isMahoutModelDir(spark, d))
        graft.sources.MahoutModel.read(spark, d)
      else ModelIO.load(spark, d)._1
    }
    // symbol space + sequences, by input format:
    //  - events: parquet events table → vocab + per-user sequences
    //  - seqfile: the reference's native corpus format (SequenceFiles
    //    of <LongWritable, IntArrayWritable>, BaumWelchDriver.java:168)
    //    — symbols are already ids, names are synthetic (or the warm
    //    model's, positionally)
    val (vocab, seqDs): (Seq[(String, Int)], org.apache.spark.sql.Dataset[(Long, Seq[Int])]) =
      if (cfg.inputFormat == "seqfile") {
        val df = graft.sources.SequenceFiles.readIntArray(spark, cfg.input)
        val maxSym = df.selectExpr("coalesce(max(array_max(syms)), -1)")
          .collect().head.getInt(0)
        val m = warm match {
          case Some(w) =>
            require(w.numSymbols > maxSym,
              s"--model-in has ${w.numSymbols} symbols but the seqfile input " +
                s"contains symbol id $maxSym; the model can't emit this data")
            w.numSymbols
          case None => maxSym + 1
        }
        require(m > 0, "seqfile input contains no symbols")
        val names = warm.flatMap(_.symbolNames)
          .getOrElse((0 until m).map(j => s"o$j"))
        (names.zipWithIndex.toSeq,
          df.select($"seq_id".cast("long"), $"syms").as[(Long, Seq[Int])])
      } else {
        // collect the (tiny) vocab once; the parquet write below reuses
        // the collected rows instead of re-running the distinct+window
        val dataVocab = Sequencer.vocab(spark, cfg.input).collect()
          .map(r => (r.getString(0), r.getInt(1))).sortBy(_._2).toSeq
        warm match {
          case Some(w) if w.symbolNames.isDefined =>
            val names = w.symbolNames.get
            val idx = names.zipWithIndex.toMap
            val missing = dataVocab.map(_._1).filterNot(idx.contains)
            require(missing.isEmpty,
              s"--model-in vocabulary (${names.length} symbols) is missing data " +
                s"event types: ${missing.mkString(", ")}; the model can't emit this data")
            (names.zipWithIndex.toSeq, Sequencer.sequenceDsMapped(spark, cfg.input, idx))
          case Some(w) =>
            require(w.numSymbols == dataVocab.length,
              s"--model-in has ${w.numSymbols} symbols but --input has a " +
                s"${dataVocab.length}-symbol vocabulary; the model can't emit this data")
            (dataVocab, Sequencer.sequenceDs(spark, cfg.input))
          case None =>
            (dataVocab, Sequencer.sequenceDs(spark, cfg.input))
        }
      }
    val numSymbols = vocab.length
    val seqs = seqDs.map(_._2.toArray).rdd.cache()
    try {
      val res = (cfg.trainer, warm, cfg.checkpointDir) match {
        case ("viterbi", Some(w), _) =>
          BaumWelch.fitViterbi(seqs, w, cfg.maxIterations, cfg.epsilon,
            cfg.pseudoCount)
        case ("viterbi", None, _) =>
          BaumWelch.fitViterbiBest(seqs, cfg.numStates, numSymbols,
            cfg.restarts, cfg.seed, cfg.maxIterations, cfg.epsilon,
            cfg.pseudoCount)
        case (_, Some(w), ckpt) =>
          BaumWelch.fit(seqs, w, cfg.maxIterations, cfg.epsilon,
            checkpointDir = ckpt, resume = false)
        case (_, None, Some(ckpt)) =>
          BaumWelch.fit(seqs,
            HmmModel.random(cfg.numStates, numSymbols, cfg.seed),
            cfg.maxIterations, cfg.epsilon,
            checkpointDir = Some(ckpt), resume = cfg.resume)
        case (_, None, None) =>
          BaumWelch.fitBest(seqs, cfg.numStates, numSymbols,
            cfg.restarts, cfg.seed, cfg.maxIterations, cfg.epsilon)
      }
      val named = res.model.withNames(
        (0 until res.model.numStates).map(i => s"s$i"),
        vocab.map(_._1))
      ModelIO.save(spark, named, s"${cfg.output}/model",
        res.logLikPerIter.toSeq, res.converged)
      vocab.toSeq.toDF("event_type", "sym")
        .write.mode("overwrite").parquet(s"${cfg.output}/vocab")
      res.copy(model = named)
    } finally seqs.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    val spark = graft.LocalSession("graft-train-hmm")
    try {
      val res = run(spark, cfg)
      println(s"converged=${res.converged} iterations=${res.iterations} " +
        s"finalLogLik=${res.logLikPerIter.lastOption.getOrElse(Double.NaN)} " +
        s"model=${cfg.output}/model")
    } finally spark.stop()
  }
}
