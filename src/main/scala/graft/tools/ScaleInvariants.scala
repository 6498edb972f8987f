package graft.tools

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Similarity}
import graft.sources.Tables

/** Closed-form correctness checks for the nine queries the self-scaled
  * gate cannot oracle in DuckDB (the naive SQL recomputation is
  * super-linear on a K-clique corpus: all-pairs Jaccard/cosine inflates
  * ×K², recursive-CTE reachability and wedge materialization blow past
  * memory — see SCALE_GATE_r11.md).
  *
  * The [[ScaleUp]] corpus has exact algebraic structure that makes
  * every one of those outputs derivable from the BASE tier's outputs —
  * which ARE DuckDB-oracled at sf0.1 by the driver gate — with no
  * approximation:
  *
  *  - Content tables are replicated verbatim under shifted ids, so the
  *    near-dup similarity graph at K× is the K-clique blow-up of the
  *    base graph: every base doc's K clones are pairwise duplicates
  *    (J = 1, Hamming = 0, cos = 1), and clones of a base pair (u,v)
  *    inherit EXACTLY the base pair's similarity (identical integer
  *    shingle counts / identical float arrays → bit-identical doubles).
  *    Pair sets, CC labels, triangle/wedge counts, and incremental-dedup
  *    counters all follow in closed form.
  *  - Key tables are remapped per copy with consistent foreign-key
  *    offsets, so the trade graph is K disjoint isomorphic copies:
  *    PageRank mass per node scales by exactly 1/K while the ×n output
  *    normalization cancels it — rank_scaled is copy-invariant.
  *
  * This converts the scaled gate's nine "oracle infeasible at tier"
  * exclusions into exact engine-side verifications. Workflow (after
  * ScaleUp + Verify + check.py, see .claude/skills/verify/SKILL.md):
  *
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt -batch \
  *   "runMain graft.tools.ScaleInvariants /root/testdata/sf0.1 /tmp/graft_sfx1 10"
  * }}}
  */
object ScaleInvariants {

  sealed trait Outcome
  case object Pass extends Outcome
  final case class Fail(detail: String) extends Outcome
  /** A check whose PRECONDITION on the base corpus does not hold (e.g.
    * a rank tie straddling the top-50 cut) — reported, never silent. */
  final case class Skip(reason: String) extends Outcome

  def main(args: Array[String]): Unit = {
    val baseDir   = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaledDir = args.lift(1).getOrElse("/tmp/graft_sfx1")
    val copies    = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.LocalSession("graft-scale-invariants")
    val results = run(spark, baseDir, scaledDir, copies)
    results.foreach {
      case (name, Pass)         => println(s"PASS $name")
      case (name, Skip(reason)) => println(s"SKIP $name: $reason")
      case (name, Fail(detail)) => println(s"FAIL $name: $detail")
    }
    val nFail = results.count(_._2.isInstanceOf[Fail])
    println(s"${results.count(_._2 == Pass)}/${results.size} invariants pass" +
      (if (nFail > 0) s", $nFail FAIL" else ""))
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }

  def run(spark: SparkSession, baseDir: String, scaledDir: String,
      copies: Int): Seq[(String, Outcome)] = {
    val checks: Seq[(String, () => Outcome)] = Seq(
      "dedup_ngram_jaccard" -> (() => ngramJaccard(spark, baseDir, scaledDir, copies)),
      "dedup_minhash_lsh"   -> (() => minhashLsh(spark, baseDir, scaledDir, copies)),
      "dedup_simhash"       -> (() => simhash(spark, baseDir, scaledDir, copies)),
      "dedup_embedding"     -> (() => embedding(spark, baseDir, scaledDir, copies)),
      "dedup_groups"        -> (() => dedupGroups(spark, baseDir, scaledDir, copies)),
      "dedup_incremental"   -> (() => dedupIncremental(spark, baseDir, scaledDir, copies)),
      "knn_brute"           -> (() => knnBrute(spark, baseDir, scaledDir, copies)),
      "triangle_count"      -> (() => triangleCount(spark, baseDir, scaledDir, copies)),
      "pagerank"            -> (() => pagerank(spark, baseDir, scaledDir, copies)))
    checks.map { case (name, f) =>
      val o = try f() catch { case e: Exception => Fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      System.err.println(s"[scaleinv] $name: $o")
      name -> o
    }
  }

  // ---------------------------------------------------------------- helpers

  private def copyIdx(spark: SparkSession, copies: Int, name: String): DataFrame =
    broadcast(spark.range(copies).toDF(name))

  /** All K² clone images of the base (a_id, b_id, value...) pair set,
    * re-canonicalized to a_id < b_id (clone offsets can flip the
    * order). Values carry over verbatim: clone pairs reproduce the
    * base pair's similarity bit-for-bit (same integers / same float
    * arrays through the same expressions).
    */
  private def blowupPairs(spark: SparkSession, base: DataFrame, off: Long,
      copies: Int, valueCols: Seq[String]): DataFrame = {
    val withCopies = base
      .crossJoin(copyIdx(spark, copies, "ci"))
      .crossJoin(copyIdx(spark, copies, "cj"))
    val a = col("a_id") + col("ci") * off
    val b = col("b_id") + col("cj") * off
    withCopies.select(
      (least(a, b).as("a_id") +: greatest(a, b).as("b_id") +: valueCols.map(col)): _*)
  }

  /** The C(K,2) within-clique pairs per base id — every clone pair of
    * one base row is an exact duplicate, with the given literal
    * similarity value(s).
    */
  private def cliquePairs(spark: SparkSession, ids: DataFrame, off: Long,
      copies: Int, values: Seq[Column]): DataFrame = {
    val pairs = ids
      .crossJoin(copyIdx(spark, copies, "ci"))
      .crossJoin(copyIdx(spark, copies, "cj"))
      .filter(col("ci") < col("cj"))
    pairs.select(
      ((col("id") + col("ci") * off).as("a_id") +:
        (col("id") + col("cj") * off).as("b_id") +: values): _*)
  }

  /** Exact multiset equality, with `expected` cast column-by-column to
    * `actual`'s schema so literal-typed expected columns can't fail on
    * dtype alone.
    */
  private def compareExact(actual: DataFrame, expected: DataFrame): Outcome = {
    val exp = expected.select(
      actual.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    val a = actual.cache()
    val e = exp.cache()
    try {
      val extra = a.exceptAll(e).count()
      val missing = e.exceptAll(a).count()
      if (extra == 0 && missing == 0) Pass
      else Fail(s"$extra rows not expected, $missing expected rows absent " +
        s"(actual ${a.count()}, expected ${e.count()})")
    } finally { a.unpersist(); e.unpersist() }
  }

  /** Base doc ids that shingle (≥ 3 words) — the nodes eligible for
    * clone-clique membership in the word-3-gram graph. */
  private def shingleEligible(spark: SparkSession, baseDir: String): DataFrame =
    Tables.documents(spark, baseDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("id"))

  // ---------------------------------------------------------------- checks

  private def ngramJaccard(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val base = Dedup.ngramJaccard(spark, baseDir)
    val expected = blowupPairs(spark, base, ScaleUp.DocOff, copies, Seq("jaccard"))
      .unionByName(cliquePairs(spark, shingleEligible(spark, baseDir),
        ScaleUp.DocOff, copies, Seq(lit(1.0).as("jaccard"))))
    compareExact(Dedup.ngramJaccard(spark, scaledDir), expected)
  }

  /** Identical content ⇒ identical MinHash signatures ⇒ clone pairs of
    * a banding-caught base pair are caught, clone cliques are always
    * caught (all 32 bands collide), and a base false negative stays a
    * false negative — the LSH family is deterministic, so the blow-up
    * carries the base output's exact recall profile.
    */
  private def minhashLsh(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val base = Dedup.minhashLsh(spark, baseDir)
    val expected = blowupPairs(spark, base, ScaleUp.DocOff, copies, Seq("jaccard"))
      .unionByName(cliquePairs(spark, shingleEligible(spark, baseDir),
        ScaleUp.DocOff, copies, Seq(lit(1.0).as("jaccard"))))
    compareExact(Dedup.minhashLsh(spark, scaledDir), expected)
  }

  private def simhash(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val base = Dedup.simhash(spark, baseDir, oracleHash = true)
    // every doc has ≥1 token (split of "" is [""]), so every clone
    // clique is Hamming-0 complete; the pigeonhole join has exact
    // recall at ≤3, so the base output is the full ≤3 pair set and the
    // blow-up is exhaustive
    val allDocs = Tables.documents(spark, baseDir).select(col("doc_id").as("id"))
    val expected = blowupPairs(spark, base, ScaleUp.DocOff, copies, Seq("hamming"))
      .unionByName(cliquePairs(spark, allDocs, ScaleUp.DocOff, copies,
        Seq(lit(0).as("hamming"))))
    compareExact(Dedup.simhash(spark, scaledDir, oracleHash = true), expected)
  }

  private def embedding(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val base = Dedup.embeddingDedup(spark, baseDir)
    // zero-norm vectors produce NaN cosines and drop out of the
    // actual output — exclude them from the expected cliques too
    val vecs = Tables.embeddings(spark, baseDir)
      .filter(graft.functions.arrayNorm(col("embedding")) > 0)
      .select(col("vec_id").as("id"))
    val expected = blowupPairs(spark, base, ScaleUp.VecOff, copies, Seq("cos_sim"))
      .unionByName(cliquePairs(spark, vecs, ScaleUp.VecOff, copies,
        Seq(lit(1.0).as("cos_sim"))))
    compareExact(Dedup.embeddingDedup(spark, scaledDir), expected)
  }

  /** Clone cliques merge a base component's K copies into ONE
    * component whose min id is the base canonical (copy 0 keeps base
    * ids, offsets are positive); base-isolated shingling docs become
    * K-clone components canonicalized at the base id. No other merges
    * can occur: cross-content clone pairs inherit base similarity, and
    * the base pair set is exact.
    */
  private def dedupGroups(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val baseLabels = Dedup.dedupGroups(spark, baseDir)
      .select(col("doc_id").as("id"), col("canonical_id"))
    val canon = shingleEligible(spark, baseDir)
      .join(baseLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canon"))
    val expected = canon.crossJoin(copyIdx(spark, copies, "k"))
      .select((col("id") + col("k") * ScaleUp.DocOff).as("doc_id"),
        col("canon").as("canonical_id"))
    compareExact(Dedup.dedupGroups(spark, scaledDir), expected)
  }

  /** The %4 delta split is copy-invariant (DocOff ≡ 0 mod 4), so a
    * clone lands on its base doc's side: clone cliques never cross the
    * split (no new exact dups), every base delta↔history near pair
    * blows up ×K on the history side (n_near_history scales by exactly
    * K), and max_jaccard carries over bit-identically.
    */
  private def dedupIncremental(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    require(ScaleUp.DocOff % 4 == 0, "delta split must be copy-invariant")
    val base = Dedup.dedupIncremental(spark, baseDir)
    val expected = base.crossJoin(copyIdx(spark, copies, "k"))
      .select((col("doc_id") + col("k") * ScaleUp.DocOff).as("doc_id"),
        col("exact_dup"),
        (col("n_near_history") * copies).as("n_near_history"),
        col("max_jaccard"))
    compareExact(Dedup.dedupIncremental(spark, scaledDir), expected)
  }

  /** The query set (vec_id < 10) is exactly the base query set (clone
    * ids start at VecOff), and each query's K−1 exact clones sit at
    * cos_sim 1.0 — with no base cosine rounding to 1.0, the top-5 is
    * the 5 smallest-id clones, ordered by n_id.
    */
  private def knnBrute(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val k = 5
    if (copies - 1 < k)
      return Skip(s"needs ≥ ${k + 1} copies so clones fill the top-$k")
    val base = Similarity.knnBrute(spark, baseDir).cache()
    try {
      val maxCos = base.agg(max(col("cos_sim"))).first().getDouble(0)
      if (maxCos >= 1.0)
        return Skip(f"base corpus has a cos_sim=1 pair (max=$maxCos%.6f): " +
          "clones would tie with real neighbors at the id tiebreak")
      val expected = base.select(col("q_id")).distinct()
        .crossJoin(broadcast(spark.range(1, k + 1).toDF("rnk")))
        .select(col("q_id"), (col("q_id") + col("rnk") * ScaleUp.VecOff).as("n_id"),
          lit(1.0).as("cos_sim"), col("rnk"))
      compareExact(Similarity.knnBrute(spark, scaledDir), expected)
    } finally base.unpersist()
  }

  /** Exact integer census of the K-clique blow-up G[K_s] of the base
    * similarity graph H = (D eligible docs, m edges, T triangles):
    * nodes K·D (every clone has ≥ K−1 clique edges), edges K²m +
    * C(K,2)·D, triangles K³T + K²(K−1)·m + C(K,3)·D (three groups /
    * two groups across a base edge / one clique), wedges
    * Σ_u K·C((K−1) + K·deg(u), 2) over ALL eligible docs (isolated
    * base docs have clone-degree K−1). Clustering mirrors the query's
    * own BigDecimal HALF_UP rounding on the same doubles.
    */
  private def triangleCount(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val kL = copies.toLong
    val baseRow = Graph.triangleCount(spark, baseDir).first()
    val m = baseRow.getAs[Long]("n_edges")
    val t = baseRow.getAs[Long]("n_triangles")
    val d = shingleEligible(spark, baseDir).count()
    val pairs = Dedup.ngramJaccard(spark, baseDir).select("a_id", "b_id").cache()
    val (sumWedgesPos, nPos) = try {
      val degs = pairs.select(col("a_id").as("v"))
        .unionByName(pairs.select(col("b_id").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val cloneDeg = (lit(kL - 1) + lit(kL) * col("deg"))
      // cloneDeg·(cloneDeg−1) is a product of consecutive integers —
      // always even, so >>1 is exact integer halving. Keeping the whole
      // term in LONG (ANSI overflow-guarded) preserves the "exact
      // census" claim; `/ lit(2)` would detour through double and lose
      // integer exactness past 2^53.
      val r = degs.agg(
        sum(lit(kL) * shiftright(cloneDeg * (cloneDeg - 1), 1)).as("w"),
        count(lit(1)).as("n")).first()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    } finally pairs.unpersist()
    val isoClone = kL - 1 // clone degree of a base-isolated doc
    val expWedges = sumWedgesPos + (d - nPos) * kL * isoClone * (isoClone - 1) / 2
    val expNodes = kL * d
    val expEdges = kL * kL * m + kL * (kL - 1) / 2 * d
    val expTri = kL * kL * kL * t + kL * kL * (kL - 1) * m +
      kL * (kL - 1) * (kL - 2) / 6 * d
    val expClust =
      if (expWedges > 0) BigDecimal(3.0 * expTri / expWedges)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
    val a = Graph.triangleCount(spark, scaledDir).first()
    val got = (a.getAs[Long]("n_nodes"), a.getAs[Long]("n_edges"),
      a.getAs[Long]("n_triangles"), a.getAs[Long]("n_wedges"),
      a.getAs[Double]("clustering"))
    val want = (expNodes, expEdges, expTri, expWedges, expClust)
    if (got == want) Pass else Fail(s"got $got, expected $want")
  }

  /** Disjoint isomorphic copies: rank'(clone) = rank(base)/K at every
    * iteration (teleport (1−d)/(K·n) and contributions both scale by
    * 1/K), and the ×n output normalization cancels it — rank_scaled is
    * copy-invariant up to exchange fold-order drift ≪ 1e-5. Membership
    * of the scaled top-50 follows from the base top-50 alone when the
    * cut is FP-safe; the preconditions verify that on the base output
    * and report a Skip (never a silent pass) if the corpus ties at the
    * boundary.
    */
  private def pagerank(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Outcome = {
    val tol = 1e-5
    val margin = 1e-4
    val base = Graph.pagerank(spark, baseDir).collect()
    val nodeOff = 2 * ScaleUp.CustOff // node = 2·custkey | 2·suppkey+1
    // expand every base row into its K clones, re-sort, cut at 50
    val expanded = (for {
      r <- base; k <- 0 until copies
    } yield (r.getAs[Long]("node") + k * nodeOff, r.getAs[String]("kind"),
        r.getAs[Long]("entity_key") + k * ScaleUp.CustOff,
        r.getAs[Double]("rank_scaled")))
      .sortBy { case (node, _, _, rank) => (-rank, node) }
    val cut = expanded.take(50)
    val cutoff = cut.last._4
    // intrusion guard: every node absent from the base top-50 has base
    // rank ≤ the base 50th value; require it strictly below the cut
    if (base.length == 50 && base.last.getAs[Double]("rank_scaled") >= cutoff - margin
        && expanded.length > 50)
      return Skip("base 50th rank within FP margin of the scaled cut — " +
        "membership not derivable from the truncated base output")
    val actual = Graph.pagerank(spark, scaledDir).collect()
    if (actual.length != cut.length)
      return Fail(s"${actual.length} rows, expected ${cut.length}")
    val baseByKey = base.map(r =>
      (r.getAs[String]("kind"), r.getAs[Long]("entity_key")) -> r.getAs[Double]("rank_scaled")).toMap
    // 1) every scaled row is a clone of a base top-50 row, rank within tol
    val badRows = actual.flatMap { r =>
      val key = (r.getAs[String]("kind"), r.getAs[Long]("entity_key") % ScaleUp.CustOff)
      baseByKey.get(key) match {
        case None => Some(s"${r.mkString(",")} is not a clone of any base top-50 row")
        case Some(rank) =>
          val d = math.abs(r.getAs[Double]("rank_scaled") - rank)
          if (d > tol) Some(s"${r.mkString(",")} drifts $d from base rank $rank") else None
      }
    }
    if (badRows.nonEmpty)
      return Fail(badRows.take(3).mkString("; "))
    // 2) clone multiplicities match the expected cut except where FP
    // drift could legitimately reorder rows across the cut value
    val expCounts = cut.groupBy { case (node, kind, _, _) => (kind, node % nodeOff) }
      .map { case (k, v) => k -> v.length }
    val actCounts = actual.groupBy(r =>
      (r.getAs[String]("kind"), r.getAs[Long]("node") % nodeOff))
      .map { case (k, v) => k -> v.length }
    val multBad = (expCounts.keySet ++ actCounts.keySet).flatMap { k =>
      val (kind, nodeMod) = k
      val rank = baseByKey((kind, nodeMod / 2))
      val exp = expCounts.getOrElse(k, 0)
      val act = actCounts.getOrElse(k, 0)
      if (exp != act && math.abs(rank - cutoff) > tol)
        Some(s"$k: $act clones in scaled top-50, expected $exp (base rank $rank)")
      else None
    }
    if (multBad.nonEmpty) Fail(multBad.take(3).mkString("; ")) else Pass
  }
}
