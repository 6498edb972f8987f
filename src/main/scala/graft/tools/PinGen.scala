package graft.tools


import graft.PinnedOracles

/** Capture tool for pinned-literal oracles (see [[graft.PinnedOracles]]).
  *
  * Runs each pin-candidate query at every SF tier and emits the
  * generated `PinnedOracleData.scala` to the path in arg 0 (or a
  * plain per-query dump to stdout with `--dump`, for stability
  * diffing). Capture procedure: run twice — once with
  * SPARK_GRAFT_CPUS=4 and once with 32 — and diff the outputs; a
  * query whose rendering differs across parallelism is NOT pinnable
  * (fold-order-sensitive beyond its rounding) and must stay spec-only.
  */
object PinGen {

  /** tier → SF dir (must match PinnedOracles.tierSql's thresholds).
    * Tier 4 is the ScaleUp ×10 self-scaled corpus — ephemeral (lives
    * in /tmp), so it joins the capture only when present; the
    * resource-write mode refuses to emit a tsv without it unless
    * GRAFT_PIN_NO_SFX1=1 says so explicitly, because silently dropping
    * tier 4 on a fresh host would un-verify the scaled tier. Rebuild
    * with: sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1
    * /tmp/graft_sfx1 10" (ScaleUp is a map-only deterministic
    * transform, so a rebuild reproduces the same content). */
  val Sfx1Dir: String = sys.env.getOrElse("GRAFT_SFX1_DIR", "/tmp/graft_sfx1")

  /** Tier 5 (round 15): the ScaleUp ×100 corpus. Joins the capture
    * when present, exactly like tier 4 — rebuild with
    * `graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sfx10 100`
    * (content-deterministic, so a rebuild reproduces the captures).
    * Capturing at ×100 is a heavy pass (the HMM family trains/decodes
    * over 10M events) — set GRAFT_PIN_NO_SFX10=1 to skip it knowingly
    * on a host without the corpus. */
  val Sfx10Dir: String = sys.env.getOrElse("GRAFT_SFX10_DIR", "/tmp/graft_sfx10")
  val tiers: Seq[(Int, String)] = Seq(
    1 -> "/root/testdata/sf0.001",
    2 -> "/root/testdata/sf0.01",
    3 -> "/root/testdata/sf0.1") ++
    (if (new java.io.File(Sfx1Dir).isDirectory) Seq(4 -> Sfx1Dir) else Nil) ++
    (if (new java.io.File(Sfx10Dir).isDirectory &&
         !sys.env.get("GRAFT_PIN_NO_SFX10").contains("1")) Seq(5 -> Sfx10Dir) else Nil)

  /** Queries whose outputs are deterministic by construction. */
  val targets: Seq[String] = Seq(
    "bpe_train", "hmm_random_model", "hmm_model_from_distributions",
    "hmm_stationary", "approx_stats",
    "knn_ivf", "knn_pq", "knn_ivf_pq", "pq_quantize", "kmeans_clusters",
    // round-10 second wave: per-sequence DP dumps from the supervised
    // (integer-count ⇒ deterministic) model, exact-integer BPE encode,
    // and the cell-bounded semantic dedup
    "hmm_forward", "hmm_backward", "hmm_likelihood",
    "hmm_predict", "hmm_decode_events", "bpe_apply", "semantic_dedup",
    // round-11: digest companions — the full viterbi/posterior/nbest/
    // session-window row sets stay unpinnable by artifact size
    // (10k-30k rows per tier), but their 1-row RelationDigest
    // companions pin at ~zero cost and carry the same exact-content
    // signal (order-independent combiners, see RelationDigest docs)
    "hmm_viterbi_digest", "hmm_posterior_digest", "hmm_nbest_digest",
    "stream_session_window_digest",
    // round-11 second wave: the soft-EM/IRLS trainers accumulate in
    // 2^-36 fixed point (HmmSuffStats/NewtonAcc) — exact associative
    // sums make the training trajectory bitwise partitioning-
    // independent, retiring the old "treeAggregate fold order" pin
    // exclusion. Determinism is spec-proved (DeterministicTrainingSpec)
    // AND empirically re-verified by the local[4]/local[32] dump diff.
    "hmm_baumwelch", "hmm_viterbi_train", "hmm_train_cli",
    "hmm_checkpoint_resume", "quality_lr",
    // round-12: tier-4 (ScaleUp sfx1) coverage — the per-sequence DP
    // dumps, bpe_apply, semantic_dedup, quality_lr and pq_quantize all
    // blow the row-pin size guard at 10× corpus, so each gets a 1-row
    // digest companion that pins at every tier including 4
    "hmm_forward_digest", "hmm_backward_digest", "hmm_likelihood_digest",
    "hmm_predict_digest", "hmm_decode_events_digest",
    "bpe_apply_digest", "semantic_dedup_digest", "quality_lr_digest",
    "pq_quantize_digest",
    // round-13: mergeable-sketch artifacts — DataSketches HLL registers
    // are per-bucket maxima and CMS counters exact integer sums, so both
    // estimates are pure functions of the input SET (layout-independent
    // by construction; re-proved by the capture diff and the layout gate)
    "sketch_hll_cube", "sketch_cms_words",
    // streaming HLL: same registers as the batch sketch ⇒ same pins
    "stream_hll_distinct",
    // KMV overlap: bottom-k sets are pure functions of the input set
    "sketch_kmv_overlap",
    // round-14: the persisted IVF-PQ index probe — same deterministic
    // trainers as knn_ivf_pq, round-tripped through parquet (lossless
    // for float arrays and codes), so the output pins identically
    "ann_index_persist",
    // round-17 (r16 verdict #4): the two r16 queries are exact-integer /
    // byte-deterministic pure functions of the corpus — media_audio_dedup
    // row-pins at every tier (≤20 fingerprint groups); the span-cut
    // re-emission row-pins at the driver tiers and carries its digest
    // companion where the corpus-sized row set blows the size guard
    "media_audio_dedup", "dedup_substring_apply", "dedup_substring_apply_digest")

  /** Fail-fast scaled-tier prerequisite (round 16, r15 verdict #7): a
    * wiped /tmp silently shrinks future pin coverage, and the old
    * post-capture check only fired AFTER the hour-long capture pass.
    * Write mode aborts up front with the exact rebuild command.
    */
  def requireTierCorpora(): Unit = {
    require(tiers.exists(_._1 == 4) || sys.env.get("GRAFT_PIN_NO_SFX1").contains("1"),
      s"$Sfx1Dir missing — a /tmp wipe silently retires tier-4 pin coverage. Rebuild it:\n" +
        "  sbt -batch \"runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sfx1 10\"\n" +
        "(ScaleUp is map-only deterministic over sf0.1, so the rebuild reproduces the " +
        "pinned content exactly; or set GRAFT_PIN_NO_SFX1=1 to knowingly write a tsv " +
        "without tier-4 pins)")
    require(tiers.exists(_._1 == 5) || sys.env.get("GRAFT_PIN_NO_SFX10").contains("1"),
      s"$Sfx10Dir missing — a /tmp wipe silently retires tier-5 pin coverage. Rebuild it:\n" +
        "  sbt -batch \"runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sfx10 100\"\n" +
        "(deterministic rebuild, ~20 min; or set GRAFT_PIN_NO_SFX10=1 to knowingly " +
        "write a tsv without tier-5 pins)")
  }

  def main(args: Array[String]): Unit = {
    // abort a doomed WRITE before the capture pass, not after it
    if (!args.headOption.forall(_ == "--dump")) requireTierCorpora()
    val spark = graft.LocalSession("graft-pin-gen")

    val captured: Seq[(String, Seq[(String, String)], Map[Int, Seq[String]])] =
      targets.map { name =>
        val fn = graft.SparkEntry.queries(name)
        var cols: Seq[(String, String)] = Nil
        val byTier = tiers.map { case (tier, dir) =>
          val df = fn(spark, dir)
          cols = df.schema.fields.toSeq.map(f => f.name -> PinnedOracles.duckType(f.dataType))
          val rows = df.collect().map(r => PinnedOracles.renderRow(r, df.schema)).toSeq
          System.err.println(s"[pingen] $name tier $tier: ${rows.size} rows")
          tier -> rows
        }.toMap
        // corpus-independent results (seeded models) collapse to one
        // tier — decided over ALL captured tiers including the scaled
        // one, so "collapsed" really means corpus-independent
        val collapsed =
          if (byTier.values.toSet.size == 1) Map(1 -> byTier(1)) else byTier
        (name, cols, collapsed)
      }.flatMap { case (name, cols, rows) =>
        // size guard: a pinned VALUES relation beyond ~8000 rows / 400 KB
        // per tier stops being a reasonable oracle artifact. Driver
        // tiers (1-3) over the limit drop the whole query; an oversized
        // tier-4 capture drops ONLY tier 4 (the query keeps its driver
        // pins; Pinned.hasTier(4) = false then excludes it from the
        // sfx1 gate).
        def sizeOf(rs: Seq[String]) = (rs.size, rs.map(_.length + 8).sum)
        val (oversized, kept) = rows.partition { case (_, rs) =>
          val (n, chars) = sizeOf(rs); n > 8000 || chars > 400000
        }
        val maxRows = rows.values.map(_.size).max
        val maxChars = rows.values.map(_.map(_.length + 8).sum).max
        val driverTierTooBig = oversized.keys.exists(_ <= 3)
        val note =
          if (driverTierTooBig) "  SKIP (driver tier too big to pin)"
          else if (oversized.nonEmpty) s"  tier ${oversized.keys.mkString(",")} too big — pinned for driver tiers only"
          else ""
        System.err.println(f"[pingen] $name%-30s maxRows=$maxRows%5d maxKB=${maxChars / 1024}%4d$note")
        if (driverTierTooBig) None else Some((name, cols, kept))
      }

    args.headOption match {
      case Some("--dump") | None =>
        // data rows use the same Sep character as the resource format so
        // the stability-diff filter (^(###|\d+\x1f)) matches them — a tab
        // here made the local[4]-vs-local[32] diff compare headers only
        captured.foreach { case (name, cols, rows) =>
          println(s"### $name ${cols.map { case (n, t) => s"$n:$t" }.mkString(",")}")
          rows.toSeq.sortBy(_._1).foreach { case (tier, rs) =>
            rs.foreach(r => println(s"$tier${PinnedOracles.Sep}$r"))
          }
        }
      case Some(out) =>
        // belt-and-braces re-check (the fail-fast ran before capture)
        requireTierCorpora()
        // resource format parsed by PinnedOracleData (see its docs)
        val sb = new StringBuilder
        captured.foreach { case (name, cols, rows) =>
          sb ++= s"#Q $name ${cols.map { case (n, t) => s"$n:$t" }.mkString(",")}\n"
          rows.toSeq.sortBy(_._1).foreach { case (tier, rs) =>
            rs.foreach(r => sb ++= s"$tier${graft.PinnedOracles.Sep}$r\n")
          }
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
        println(s"[pingen] wrote $out (${sb.length / 1024} KB)")
    }
    spark.stop()
  }
}
