package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.hmm.{BaumWelch, HmmModel, Sequencer}

/** One benchmark run of one workload in one JVM.
  *
  *   perfbench.Main --workload W --seed S --seconds N --trace 0|1
  *                  --work DIR --gen GEN_PY --cpus C
  *
  * Set-up: session start, then untimed warm-up passes of the workload's
  * calls, each over a corpus of its own seed (JIT, first-touch IO).  Timed section:
  * a closed loop of passes, one caller making the calls back to back,
  * each pass over a freshly generated corpus, until N seconds of passes
  * are measured.  Then the outputs of the last pass's corpus are dumped
  * for the checks and the EM trainers are re-run to check them.
  * Everything lands in DIR/result.json (and DIR/trace.json when traced).
  */
object Main {
  type Entry = (SparkSession, String) => DataFrame

  /** The graft entry points each workload calls, by SparkEntry name. */
  val entries: Map[String, Seq[String]] = Map(
    "em_kernel" -> Seq(),
    "curation" -> Seq("dedup_exact", "dedup_ngram_jaccard", "stream_doc_dedup"))

  /** Hidden states of the Baum-Welch and Viterbi trainers per workload. */
  val emStates: Map[String, Int] = Map("em_kernel" -> 8)
  val emRestarts = 3
  val emSeed = 42L
  val emMaxIterations = 10
  val emEpsilon = 1e-4
  val viterbiPseudoCount = 0.1

  /** Untimed passes before the timed section: JIT compilation and
    * first-touch costs settle over about three passes (after two, the
    * next pass still ran some 10-15% slower than the ones after it). */
  val warmupPasses = 3

  /** Pair funnels whose candidate and output row counts are reported:
    * entries whose candidate pairs come out of a join. */
  val funnels = Seq("dedup_ngram_jaccard")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, gen: String, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("gen"), m("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(entries.contains(args.workload), s"unknown workload ${args.workload}")
    val r = new Run(args)
    try r.run() finally r.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
  }

  /** Seconds covered by the union of (start, end) millis intervals,
    * clipped to [lo, hi]. */
  def coveredSeconds(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered / 1e3
  }

  def modelDigest(m: HmmModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    (m.pi.iterator ++ m.a.iterator.flatten ++ m.b.iterator.flatten).foreach { v =>
      buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(v)); md.update(buf.array())
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

final class Run(args: Main.Args) {
  import Main._

  private val work = new File(args.work).getAbsoluteFile
  private val names = entries(args.workload)
  /** One generator process (gen.py --serve) writes every corpus of the
    * run, so Python and its libraries start once. */
  private val gen = new ProcessBuilder("python3", args.gen, "--serve")
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val genIn = new java.io.PrintWriter(gen.getOutputStream, true)
  private val genOut = new java.io.BufferedReader(new java.io.InputStreamReader(gen.getInputStream))
  // input generation is not set-up: the warm-up corpora exist before the session starts
  private val warmCorpora = (1 to warmupPasses).map(i => corpus(900 + i)._1)
  private val sessionStartNs = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${args.cpus}]")
    .appName(s"perfbench-${args.workload}")
    .config("spark.sql.shuffle.partitions", args.cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val probe = if (args.trace) Some(new Probe(spark)) else None
  private val tracer = new Tracer(probe, java.util.UUID.randomUUID().toString)

  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  /** The trained models and entry results of the most recent pass,
    * for the checks. */
  private var lastFits = Map.empty[String, BaumWelch.FitResult]
  private val lastResults = mutable.LinkedHashMap.empty[String, DataFrame]

  def stop(): Unit = {
    genIn.close() // the generator exits at the end of its input
    if (!gen.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) { gen.destroyForcibly(); gen.waitFor() }
    spark.stop()
  }

  /** Generate the corpus of pass `round`, each from a seed of its own
    * (rounds from 900 up are the warm-up passes). */
  private def corpus(round: Int): (String, Truth) = {
    val dir = new File(work, s"corpus/r$round")
    val seed = args.seed * 1000 + round
    genIn.println(s"${args.workload} $seed ${dir.getPath}")
    require(genOut.readLine() == "ok", s"corpus generation failed for seed $seed")
    val truth = new String(Files.readAllBytes(Paths.get(dir.getPath, "truth.json")))
    (dir.getPath, Truth.parse(truth))
  }

  /** Wall seconds of each counted call, per pass, by call name. */
  private val callSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A counted, timed call: failures are recorded and the pass goes on. */
  private def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(body)
    catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    } finally callSeconds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }

  private def callEntry(name: String, dir: String): Unit =
    tracer.span(name) {
      attempt(name) {
        val fn: Entry = SparkEntry.queries(name)
        val df = tracer.span(s"$name.construct")(fn(spark, dir))
        lastResults(name) = df
        if (args.trace) tracer.span(s"$name.plan")(df.queryExecution.executedPlan)
        tracer.span(s"$name.exec")(df.write.mode("overwrite").format("noop").save())
      }
    }

  private def em(dir: String, k: Int): Unit = {
    import spark.implicits._
    val built = tracer.span("hmm.sequence_build") {
      attempt("hmm.sequence_build") {
        val m = Sequencer.vocab(spark, dir).count().toInt
        val seqs: RDD[Array[Int]] = Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd.cache()
        seqs.count()
        (m, seqs)
      }
    }
    built.foreach { case (m, seqs) =>
      try {
        val fit = tracer.span("hmm.fit")(attempt("hmm.fit")(
          BaumWelch.fitBest(seqs, k, m, emRestarts, emSeed, emMaxIterations, emEpsilon)))
        val vfit = tracer.span("hmm.viterbi_fit")(attempt("hmm.viterbi_fit")(
          BaumWelch.fitViterbiBest(seqs, k, m, emRestarts, emSeed, emMaxIterations, emEpsilon,
            viterbiPseudoCount)))
        lastFits = (fit.map("fit" -> _) ++ vfit.map("viterbi_fit" -> _)).toMap
      } finally seqs.unpersist()
    }
  }

  /** One pass of the workload's calls over one corpus; its wall time. */
  private def pass(dir: String): Double = {
    lastFits = Map.empty
    lastResults.clear()
    val t0 = System.nanoTime()
    tracer.span("pass") {
      emStates.get(args.workload).foreach(k => em(dir, k))
      names.foreach(callEntry(_, dir))
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def confSnapshot(): Map[String, String] = spark.conf.getAll.toMap
  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  def run(): Unit = {
    val phases = mutable.LinkedHashMap("session_s" -> (System.nanoTime() - sessionStartNs) / 1e9)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val conf0 = confSnapshot()
    val views0 = tempViews()
    val warmups = phase("warmup_s")(warmCorpora.map(pass))
    val setupS = (System.nanoTime() - sessionStartNs) / 1e9
    tracer.roots.clear()
    callSeconds.clear()
    attempted = 0
    val warmErrors = errors.toList
    errors.clear()

    val load0 = loadAvg()
    val heap0 = heapAfterGcMb()
    val walls = mutable.ArrayBuffer.empty[Double]
    val corpora = mutable.ArrayBuffer.empty[(String, Truth)]
    var round = 1
    while (walls.isEmpty || walls.sum < args.seconds) {
      val c = corpus(round)
      corpora += c
      walls += pass(c._1)
      round += 1
    }
    val heap1 = heapAfterGcMb()
    val load1 = loadAvg()
    val callsFailed = errors.size
    val sinksLeft = (tempViews() -- views0).size
    val conf1 = confSnapshot()
    val confChanged = (conf0.keySet ++ conf1.keySet).count(k => conf0.get(k) != conf1.get(k))

    val lastDir = corpora.last._1
    val dumps = phase("dump_s")(dumpOutputs())
    val emChecks = phase("em_check_s")(
      emStates.get(args.workload).map(k => checkEm(lastDir, k)).getOrElse(Nil))

    val layer: Map[String, Double] =
      if (args.trace) layerMetrics(corpora.map(_._2).toSeq, dumps, sinksLeft, confChanged)
      else Map.empty
    if (args.trace) Files.writeString(Paths.get(work.getPath, "trace.json"), tracer.toJson)

    val sc = spark.sparkContext
    val result = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "run_id" -> tracer.runId,
      "warmup_passes" -> warmups, "passes" -> walls.toSeq,
      "calls" -> callSeconds.map { case (k, v) => k -> v.toSeq }.toMap,
      "wall_s" -> median(walls.toSeq), "setup_s" -> setupS,
      "retained_heap_mb" -> (heap1 - heap0) / walls.size, "heap_start_mb" -> heap0,
      "heap_end_mb" -> heap1,
      "calls_attempted" -> attempted, "calls_failed" -> callsFailed, "errors" -> errors.toSeq,
      "warmup_errors" -> warmErrors,
      "check_corpus" -> lastDir, "check_dir" -> new File(work, "check").getPath,
      "entries" -> names, "dump_rows" -> dumps, "em_checks" -> emChecks,
      "sinks_left" -> sinksLeft, "session_conf_changed" -> confChanged,
      "layer" -> layer, "phases" -> phases,
      "host" -> Map(
        "cpus" -> args.cpus, "available_processors" -> Runtime.getRuntime.availableProcessors,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "load_avg_1m_start" -> load0, "load_avg_1m_end" -> load1))
    Files.writeString(Paths.get(work.getPath, "result.json"), Json(result))
  }

  /** Write the last pass's entry results as parquet for the checks,
    * with their row counts, and the oracle SQL of those that have one.
    * An entry missing here fails its dump check. */
  private def dumpOutputs(): Map[String, Long] = {
    val out = new File(work, "check")
    out.mkdirs()
    val rows = lastResults.toSeq.flatMap { case (name, df) =>
      val path = new File(out, name).getPath
      try {
        df.coalesce(1).write.mode("overwrite").parquet(path)
        Some(name -> spark.read.parquet(path).count())
      } catch { case e: Throwable => System.err.println(s"perfbench: dump of $name failed: $e"); None }
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) && !SparkEntry.pinnedOnly.contains(k) }
    Files.writeString(Paths.get(out.getPath, "oracle_sql.json"), Json(oracle))
    rows
  }

  /** Re-train on the last corpus and check the models of the timed
    * pass: stochastic rows, non-decreasing soft-EM log-likelihood per
    * chain, and the same model digest from a second run of one seed. */
  private def checkEm(dir: String, k: Int): Seq[Map[String, Any]] = {
    import spark.implicits._
    val m = Sequencer.vocab(spark, dir).count().toInt
    val seqs = Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd.cache()
    def check(name: String)(ok: => (Boolean, String)): Map[String, Any] = {
      val (passed, detail) =
        try ok catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      Map("name" -> name, "ok" -> passed, "detail" -> detail)
    }
    def stochastic(mdl: HmmModel): Boolean = {
      def row(r: Array[Double]) = math.abs(r.sum - 1.0) < 1e-9 && r.forall(_ >= 0)
      row(mdl.pi) && mdl.a.forall(row) && mdl.b.forall(row)
    }
    try {
      // a failed re-run fails the checks that need it (`.get` throws inside `check`)
      val chains = scala.util.Try((0 until emRestarts).map { r =>
        BaumWelch.fit(seqs, HmmModel.random(k, m, emSeed + r), emMaxIterations, emEpsilon)
      })
      val fit = lastFits.get("fit")
      val vfit = lastFits.get("viterbi_fit")
      Seq(
        check("em.stochastic_rows") {
          val ms = fit.toSeq.map(_.model) ++ vfit.map(_.model)
          (ms.size == 2 && ms.forall(stochastic), s"${ms.size} models")
        },
        check("em.loglik_non_decreasing") {
          val bad = chains.get.zipWithIndex.filter { case (c, _) =>
            c.logLikPerIter.sliding(2).exists {
              case Array(a, b) => b < a - 1e-6 * math.max(1.0, math.abs(a))
              case _ => false
            }
          }.map(_._2)
          (bad.isEmpty, s"chains with a decrease: ${bad.mkString(",")}")
        },
        check("em.fit_digest_repeats") {
          val again = chains.get.maxBy(_.logLikPerIter.last)
          val (d0, d1) = (fit.map(f => modelDigest(f.model)).getOrElse("-"), modelDigest(again.model))
          (d0 == d1, s"$d0 vs $d1")
        })
    } finally seqs.unpersist()
  }

  /** Per-layer figures of the traced passes: the median over passes of
    * each pass's value; funnel row counts from the last pass, whose
    * corpus the dumped outputs come from. */
  private def layerMetrics(truths: Seq[Truth], dumpRows: Map[String, Long],
      sinksLeft: Int, confChanged: Int): Map[String, Double] = {
    val passes = tracer.roots.filter(_.name == "pass").toSeq
    val perPass: Seq[Map[String, Double]] = passes.zip(truths).map { case (p, truth) =>
      val out = mutable.LinkedHashMap.empty[String, Double]
      val inc = p.inclusive
      def under(name: String): Seq[Span] = p.subtree.filter(_.name == name).toSeq
      // Spark as the listener sees it
      out("spark.jobs") = inc.jobs.toDouble
      out("spark.stages") = inc.stages.toDouble
      out("spark.tasks") = inc.tasks.toDouble
      out("spark.failed_tasks") = inc.failedTasks.toDouble
      out("spark.task_s") = inc.taskMs / 1e3
      out("spark.task_cpu_s") = inc.cpuNs / 1e9
      out("spark.gc_s") = inc.gcMs / 1e3
      out("spark.input_bytes") = inc.inputBytes.toDouble
      out("spark.shuffle_read_bytes") = inc.shuffleReadBytes.toDouble
      out("spark.shuffle_write_bytes") = inc.shuffleWriteBytes.toDouble
      out("spark.spill_bytes") = inc.spillBytes.toDouble
      out("spark.busy_share") = inc.taskMs / 1e3 / (p.seconds * args.cpus)
      out("spark.driver_gap_s") = p.seconds - coveredSeconds(inc.jobIntervals.toSeq, p.startMs, p.endMs)
      // EM trainers
      val fits = under("hmm.fit") ++ under("hmm.viterbi_fit")
      val fc = fits.foldLeft(new Counters)((a, s) => a.merge(s.inclusive))
      val fitS = fits.map(_.seconds).sum
      val obsIters = truth.observations.toDouble * fc.jobs
      val iterS = fc.jobIntervals.map { case (s, e) => (e - s) / 1e3 }.toSeq
      out("hmm.fit_s") = under("hmm.fit").map(_.seconds).sum
      out("hmm.viterbi_fit_s") = under("hmm.viterbi_fit").map(_.seconds).sum
      out("hmm.iterations") = fc.jobs.toDouble
      out("hmm.iter_s_p50") = quantile(iterS, 0.5)
      out("hmm.iter_s_p90") = quantile(iterS, 0.9)
      out("hmm.fit_driver_gap_s") =
        fits.map(s => s.seconds - coveredSeconds(fc.jobIntervals.toSeq, s.startMs, s.endMs)).sum
      out("hmm.agg_shuffle_bytes") = fc.shuffleWriteBytes.toDouble
      out("hmm.estep_task_s") = fc.taskMs / 1e3
      out("hmm.estep_ns_per_obs") = if (obsIters > 0) fc.taskMs * 1e6 / obsIters else 0.0
      out("hmm.em_obs_per_s") = if (fitS > 0) obsIters / fitS else 0.0
      out("hmm.sequence_build_s") = under("hmm.sequence_build").map(_.seconds).sum
      // entries
      names.foreach { n =>
        Seq("construct", "plan", "exec").foreach { step =>
          out(s"$n.${step}_s") = under(s"$n.$step").map(_.seconds).sum
        }
      }
      // streaming
      val st = names.filter(_.startsWith("stream_")).flatMap(under).foldLeft(new Counters)(
        (a, s) => a.merge(s.inclusive))
      out("streaming.batches") = st.batches.toDouble
      out("streaming.input_rows") = st.inputRows.toDouble
      out("streaming.trigger_s") = st.triggerMs / 1e3
      out("streaming.add_batch_s") = st.addBatchMs / 1e3
      out("streaming.commit_s") = st.commitMs / 1e3
      out("streaming.state_rows") = st.stateRows.toDouble
      out("streaming.state_mem_bytes") = st.stateMemBytes.toDouble
      out.toMap
    }
    val keys = perPass.headOption.map(_.keys.toSeq).getOrElse(Nil)
    val med = keys.map(k => k -> median(perPass.map(_(k)))).toMap
    val lastPass = passes.last
    val funnel = funnels.filter(names.contains).flatMap { n =>
      val cand = lastPass.subtree.filter(_.name == n).foldLeft(new Counters)(
        (a, s) => a.merge(s.inclusive)).maxJoinRows
      val outRows = dumpRows.getOrElse(n, 0L)
      Seq(s"$n.candidate_rows" -> cand.toDouble,
        s"$n.pair_yield" -> (if (cand > 0) outRows.toDouble / cand else 0.0))
    }
    med ++ funnel ++ Map("streaming.sinks_left" -> sinksLeft.toDouble,
      "session.conf_changed" -> confChanged.toDouble)
  }
}

/** The one field of a corpus's truth.json the harness needs: the
  * number of events the EM trainers read. */
final case class Truth(observations: Long)

object Truth {
  def parse(raw: String): Truth =
    Truth("\"observations\":\\s*(\\d+)".r.findFirstMatchIn(raw).map(_.group(1).toLong).getOrElse(0L))
}
