package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo
import graft.functions.{arrayDot, arrayNorm}
import graft.sources.Tables

/** Deduplication operators over `documents` / `embeddings`
  * (SURVEY.md §2.4). The common scale shape: NEVER form the n²
  * cross product — every operator generates candidates through an
  * inverted-index / band-bucket equi-join (shuffle keyed on
  * shingle/band/block, not on document pairs), then verifies only the
  * joined candidates.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact: one shuffle of (md5, id) — the text itself never moves.
  // -------------------------------------------------------------------

  /** Exact dup groups over any (doc_id, text) relation — split out so
    * planted-duplicate corpora exercise the positive case (the driver
    * corpus has no exact dups, so the oracle alone passes vacuously).
    */
  def exactFor(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("dup_hash"))
      .groupBy("dup_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy("dup_hash")

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactFor(Tables.documents(spark, dir))

  val exactSql: String =
    """SELECT md5(text) AS dup_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
      |FROM documents GROUP BY md5(text) HAVING count(*) > 1
      |ORDER BY dup_hash""".stripMargin

  // -------------------------------------------------------------------
  // Word-3-gram Jaccard ≥ 0.8, exact, via inverted-index self-join.
  // Shuffle is keyed on shingle; intersection counts come from the
  // join, sizes from a per-doc agg — all-pairs Jaccard without the
  // cross product. At 100 TB you'd add a stop-shingle cap (drop
  // shingles in > p docs) — a bounded-recall trade this exact query
  // keeps off so the oracle stays exact.
  // -------------------------------------------------------------------

  /** Distinct word-3-gram shingles, one row per (doc_id, shingle).
    * Memoized per (session, corpus): higher-order shingle construction
    * is interpreted (and Catalyst re-evaluates the inner `split` per
    * lambda element), so build the relation once and let the
    * ngram/minhash pipelines and their verification joins all reuse
    * the materialized rows.
    */

  // Lambda-bound tokenization (functions.ngramsFromTextExpr): splits
  // the document exactly once per row under any plan transformation —
  // an inline or alias-substituted `split(text, ' ')` inside the
  // transform lambda re-splits the whole document per shingle index
  // (no CSE into interpreted HOF lambdas), turning shingling O(n²)
  // per doc — the round-12 fuzz gate's megadoc wedged here
  // (finding F2). Sub-3-token docs yield array() → dropped by explode.
  private def shingledOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(expr(
      _root_.graft.functions.ngramsFromTextExpr("text", 3))))
      .as("shingle"))

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    Memo("shingles", spark, dir, "documents")(shingledOf(Tables.documents(spark, dir)))

  /** Per-doc distinct shingle arrays, rebuilt from the cached
    * long-form relation (sorted for deterministic arrays).
    */
  private def shingleArraysOf(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(array_sort(collect_list(col("shingle"))).as("shingles"))

  private[graft] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    shingleArraysOf(shingled(spark, dir))

  // -------------------------------------------------------------------
  // Text contraction (round 14, engine side). Every similarity here is
  // a pure function of TEXT, so the quadratic work (inverted-index
  // join, census, connected components) runs over DISTINCT texts only;
  // doc-level results are recovered by an expansion that is linear in
  // its own output. On a duplication-heavy corpus (the ScaleUp clone
  // tiers; real crawl corpora are 30–60% exact dups) this removes a
  // ×K² candidate blowup — the engine-side mirror of the contracted
  // DuckDB oracles. On a unique-text corpus the contraction is the
  // identity and the kernel degenerates to the original doc-level join.
  // -------------------------------------------------------------------

  /** One row per distinct SHINGLEABLE text (≥ 3 tokens — sub-3-token
    * docs produce no shingles and never enter any Jaccard relation):
    * (rep = min doc_id, ids = sorted member doc_ids, sz, text).
    * One shuffle; the tokenizability predicate runs once per distinct
    * text, after the contraction.
    *
    * Round-15 advice: the grouping key is a 128-bit digest pair
    * (xxhash64 under two seeds), NOT the text itself — a megabyte doc
    * would otherwise travel the exchange as a multi-MB shuffle key
    * and be hash-compared in full on every probe. The text is carried
    * as a min/max aggregate pair (map-side partials collapse clones
    * before the exchange), and min = max within every digest group is
    * a COMPLETE collision check: a 128-bit collision between distinct
    * texts would make them differ, tripping raise_error instead of
    * silently merging two groups (p ≈ n²/2¹²⁹ — never, but checked).
    */
  private[operators] def textGroups(spark: SparkSession, dir: String): DataFrame =
    allTextGroups(spark, dir)
      .filter(size(expr(
        _root_.graft.functions.ngramsFromTextExpr("text", 3))) > 0)

  /** The unfiltered distinct-text contraction every text-pure operator
    * derives from (dedup_substring needs sub-3-token docs too — a
    * 40-char repeat doesn't require 3 whitespace tokens). Memoized
    * once per (session, corpus); [[textGroups]] is the shingleable
    * filtered view over the same materialized rows.
    */
  private[graft] def allTextGroups(spark: SparkSession, dir: String): DataFrame =
    Memo("textGroups", spark, dir, "documents")(textGroupsBuild(spark, dir))

  private[graft] def textGroupsBuild(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .groupBy(xxhash64(col("text")).as("tk1"), xxhash64(lit(42L), col("text")).as("tk2"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("ids"),
        count(lit(1)).as("sz"),
        min(col("text")).as("text"),
        max(col("text")).as("tmax"))
      .select(col("rep"), col("ids"), col("sz"),
        when(col("text") === col("tmax"), col("text"))
          .otherwise(raise_error(lit("textGroups: 128-bit digest collision"))).as("text"))

  /** Shingles of the contracted corpus: one (rep, shingle) relation,
    * identical in form to [[shingled]] but over representatives only.
    */
  private def repShingled(spark: SparkSession, dir: String): DataFrame =
    Memo("repShingles", spark, dir, "documents")(
      shingledOf(textGroups(spark, dir).select(col("rep").as("doc_id"), col("text"))))

  /** Verified rep-level near-dup pairs (a_id < b_id are group reps,
    * jaccard rounded 6) — the contracted relation the expanded pair
    * set, the duplicate-group components, and the triangle census are
    * all derived from. Memoized per (session, corpus, τ).
    */
  private[operators] def repPairsFor(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    Memo("repPairs", spark, dir, "documents", threshold)(repPairsBuild(spark, dir, threshold))

  private[graft] def repPairsBuild(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    pairKernelFromShingles(repShingled(spark, dir), threshold)

  /** Expansion of a rep-level pair relation back to doc-id pairs:
    * each cross-content rep pair becomes the |A|×|B| clone images at
    * the rep pair's jaccard (pure function of text — bit-equal to
    * computing it per pair), and each group of size ≥ 2 contributes
    * its C(sz,2) internal clique at exactly 1.0 (n/(n+n−n) — the
    * literal the oracle uses). Cost is linear in the OUTPUT.
    */
  private def expandPairs(rp: DataFrame, g: DataFrame,
      valueCol: String, cliqueValue: Column): DataFrame = {
    val cross = rp
      .select(col("a_id").as("a_rep"), col("b_id").as("b_rep"), col(valueCol))
      .join(g.select(col("rep").as("a_rep"), col("ids").as("ia")), "a_rep")
      .join(g.select(col("rep").as("b_rep"), col("ids").as("ib")), "b_rep")
      .select(explode(col("ia")).as("x"), col("ib"), col(valueCol))
      .select(col("x"), explode(col("ib")).as("y"), col(valueCol))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col(valueCol))
    // ids is sorted ascending, so pairing position i with the slice
    // after it emits each unordered pair once, already (a_id < b_id);
    // the trailing empty slice is dropped by explode (never throws —
    // slice start is ≥ 2, the round-12 totality rule).
    val cliq = g.filter(col("sz") >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "a_id")), col("ids"), col("sz"))
      .select(col("a_id"),
        explode(slice(col("ids"), col("i") + lit(2),
          (col("sz") - col("i") - lit(1)).cast("int"))).as("b_id"))
      .withColumn(valueCol, cliqueValue)
    cross.unionByName(cliq)
  }

  /** Exact Jaccard with PPJoin-style prefix filtering: under a global
    * rare-first shingle order (docfreq asc, shingle asc), any pair
    * with J ≥ τ must collide inside the first n − ⌈τ·n⌉ + 1 shingles
    * of each document. The inverted-index join runs only on those
    * prefixes — hot (frequent) shingles fall out of the index
    * entirely, which is what kills the df² pair blowup — and the
    * exact verification touches candidates only. Result is identical
    * to the naive all-pairs join.
    */
  // The verified pair relation feeds three queries (dedup_ngram_jaccard,
  // dedup_groups, triangle_count) — memoized per (session, corpus, τ),
  // so the PPJoin build runs once per dataset, not once per caller.
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    Memo("ngramPairs", spark, dir, "documents", threshold)(
      ngramJaccardCompute(spark, dir, threshold))

  /** Contraction + expansion (round 14): the PPJoin kernel runs over
    * distinct texts only, then the rep pairs expand back to doc pairs.
    * Output is identical to the former doc-level join — same pair set
    * (jaccard is a pure function of text, so clone images inherit the
    * rep pair's value bit-for-bit; identical texts pair at exactly
    * 1.0, the value n/(n+n−n) the doc-level join computed) — but the
    * quadratic candidate stage no longer multiplies by the clone
    * factor (the ×100 tier's 35-minute pair build drops to base cost).
    */
  private[graft] def ngramJaccardCompute(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // Contraction precondition (round-15 advice): expandPairs emits
    // within-group cliques unconditionally at jaccard = 1.0, which is
    // only equivalent to the doc-level join while τ ≤ 1.0.
    require(threshold <= 1.0, s"jaccard threshold must be <= 1.0, got $threshold")
    expandPairs(repPairsFor(spark, dir, threshold), textGroups(spark, dir),
      "jaccard", lit(1.0))
      .orderBy("a_id", "b_id")
  }

  /** PPJoin over an arbitrary (doc_id, shingle) relation; returns the
    * complete (a_id < b_id, jaccard ≥ τ) pair set.
    */
  private def pairKernelFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val ranked = sh.join(df, "shingle")
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val prefix = ranked
      .filter(col("pos") <= col("n") - ceil(col("n") * lit(threshold)) + 1)
      .select("doc_id", "shingle", "pos", "n")
    // PPJoin pruning on the colliding prefix entry:
    //  - length filter: τ·|A| ≤ |B| (sizes within a τ band)
    //  - positional filter: remaining suffixes must still allow the
    //    minimum overlap α = ⌈τ/(1+τ)·(|A|+|B|)⌉
    val cand = prefix.as("a").join(prefix.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(col("b.n") >= ceil(col("a.n") * lit(threshold)) &&
        col("a.n") >= ceil(col("b.n") * lit(threshold)))
      // α = ⌈τ/(1+τ)·(|A|+|B|)⌉ with an epsilon slack: τ/(1+τ) can
      // round UP in double (0.8/1.8 does), and an over-tight ceil
      // would over-prune exact-boundary pairs. Slack only admits a
      // few extra candidates — the exact verify discards them.
      .filter(lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
        ceil((col("a.n") + col("b.n")) * lit(threshold / (1 + threshold)) - lit(1e-9)))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val arrs = shingleArraysOf(sh)
    cand
      .join(arrs.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(arrs.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Contracted-oracle kernel (round 14): all pair similarity here is a
    * pure function of TEXT, so the oracle first contracts the corpus to
    * distinct texts (rep = min doc_id, ids = the sorted member list)
    * and runs the shingle self-join over representatives only. On a
    * clone corpus (the ScaleUp ×10/×100 tiers, where every text repeats
    * K times under distinct ids) this keeps the join at BASE-tier cost
    * instead of inflating ×K² through the shingle hash groups — the
    * reason the naive formulation had to be GRAFT_CHECK_SKIPped at ×10.
    * Pair expansion afterwards is linear in the OUTPUT: cross-content
    * pairs are the K×K clone images of each rep pair (built as two
    * zipped flatten/list_transform lists — never a lateral unnest,
    * which re-materializes carried lists per row), and within-group
    * pairs are the C(sz,2) cliques at Jaccard exactly 1.0 (integer
    * n/(n+n−n) — bit-exact on both engines). On corpora with unique
    * texts the contraction is the identity and this reduces to the
    * original all-pairs oracle.
    */
  /** The kernel, exposed for other oracles built on the same contracted
    * pair relation (triangle_count's census). */
  private[graft] def contractedJaccardKernelForOracles(threshold: Double): String =
    contractedJaccardKernel(threshold)

  private def contractedJaccardKernel(threshold: Double): String =
    s"""grp AS (
       |  SELECT text, min(doc_id) AS rep, list_sort(list(doc_id)) AS ids,
       |    count(*) AS sz
       |  FROM documents WHERE text IS NOT NULL GROUP BY text
       |), t AS (
       |  SELECT rep, sz, ids, str_split(text, ' ') AS w FROM grp
       |  WHERE len(str_split(text, ' ')) >= 3
       |), sh AS (
       |  SELECT DISTINCT rep,
       |    unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
       |  FROM t
       |), shn AS (
       |  SELECT rep, count(*) AS n FROM sh GROUP BY rep
       |), rp AS (
       |  SELECT a.rep AS a_rep, b.rep AS b_rep, count(*) AS inter
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.rep < b.rep
       |  GROUP BY 1, 2
       |), rsim AS (
       |  SELECT a_rep, b_rep, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
       |  FROM rp
       |  JOIN shn sa ON sa.rep = a_rep
       |  JOIN shn sb ON sb.rep = b_rep
       |  WHERE inter / (sa.n + sb.n - inter) >= $threshold
       |)""".stripMargin

  /** Expansion of the contracted pair relation back to doc-id pairs:
    * K×K clone images of each cross-content rep pair plus the C(sz,2)
    * within-group cliques at the given exact-duplicate value.
    */
  private def contractedPairExpansion(valueCol: String, cliqueValue: String): String =
    s"""cross_ex AS (
       |  SELECT
       |    unnest(flatten(list_transform(ga.ids, x ->
       |      list_transform(gb.ids, y -> least(x, y))))) AS a_id,
       |    unnest(flatten(list_transform(ga.ids, x ->
       |      list_transform(gb.ids, y -> greatest(x, y))))) AS b_id,
       |    $valueCol
       |  FROM rsim
       |  JOIN t ga ON ga.rep = a_rep
       |  JOIN t gb ON gb.rep = b_rep
       |), cliq AS (
       |  SELECT
       |    unnest(flatten(list_transform(range(1, sz + 1), i ->
       |      list_transform(ids[i+1:sz], x -> ids[i])))) AS a_id,
       |    unnest(flatten(list_transform(range(1, sz + 1), i ->
       |      ids[i+1:sz]))) AS b_id,
       |    $cliqueValue AS $valueCol
       |  FROM t WHERE sz >= 2
       |)""".stripMargin

  private def contractedJaccardSql: String =
    s"""WITH
       |${contractedJaccardKernel(0.8)},
       |${contractedPairExpansion("jaccard", "CAST(1.0 AS DOUBLE)")}
       |SELECT a_id, b_id, jaccard FROM (
       |  SELECT * FROM cross_ex UNION ALL SELECT * FROM cliq
       |)
       |ORDER BY a_id, b_id""".stripMargin

  val ngramJaccardSql: String = contractedJaccardSql

  // -------------------------------------------------------------------
  // Duplicate-GROUP resolution: connected components over the exact
  // near-dup pairs → (doc_id, canonical_id = min id in component) —
  // the keep/drop list a dedup pipeline actually consumes. Spark side
  // is iterative min-label propagation over the (tiny relative to the
  // corpus) duplicate-pair edge set, materialized per round; at true
  // 100 TB pair volumes swap the loop body for the large-star/
  // small-star step — same fixpoint, fewer rounds. Oracle: DuckDB
  // recursive-CTE reachability closure.
  // -------------------------------------------------------------------

  /** Connected components over an (a_id, b_id) edge relation →
    * (doc_id, canonical_id = component min). ADAPTIVE min-label
    * propagation: the first [[CcJumpAfter]] rounds run the plain
    * neighbor-min step (one shuffle each — real dup corpora converge
    * here, diameters are shallow); a component still unconverged
    * after that is provably deep, so later rounds add the
    * pointer-jumping shortcut (l(v) ← min(l(v), l(l(v))) — labels
    * always point at real nodes, so the self-join halves the
    * label-tree height per round and a diameter-D chain finishes in
    * O(log D) extra rounds, not D) and truncate lineage with
    * [[graft.Lineage.cut]] every [[CcCheckpointEvery]] rounds (only the
    * deep path runs long enough for plan growth to matter).
    * Convergence is read from the SAME action that materializes the
    * round: each row carries its previous label, and one aggregate
    * counts decreases — no separate join+count pass.
    * Returns (labels, rounds) so specs can assert the round bound.
    */
  private[graft] def connectedComponentsFor(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst").cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var changed = 1L
    var rounds = 0
    val labelLoop = new graft.Lineage.Loop // labels is the loop variable
    while (changed > 0 && rounds < 40) {
      val nmin = edges.join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
      // (id, old = entering label, label = neighbor-min update)
      val propagated = labels.join(nmin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      val deep = rounds >= CcJumpAfter
      var hop: Option[DataFrame] = None
      val next =
        if (!deep) propagated
        else {
          val p = propagated.cache() // read twice by the self-join
          hop = Some(p)
          p.as("x")
            .join(p.select(col("id").as("label"), col("label").as("ll")).as("y"),
              Seq("label"), "left")
            .select(col("id"), col("old"),
              least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        }
      val updated =
        if (deep && (rounds + 1) % CcCheckpointEvery == 0) labelLoop.cut(next)
        else next.cache()
      // single materializing action: labels only ever decrease, so
      // "any row with label < old" ⇔ not yet converged. coalesce: the
      // edge set can be legitimately EMPTY now that CC runs on the REP
      // graph (a corpus whose only duplicates are exact ones has
      // cliques but zero cross-content edges — the fuzz corpus), and
      // sum over an empty relation is NULL, not 0.
      changed = updated
        .agg(coalesce(sum(when(col("label") < col("old"), 1L).otherwise(0L)), lit(0L))
          .as("changed"))
        .first().getLong(0)
      hop.foreach(_.unpersist())
      labels.unpersist()
      labels = updated
      rounds += 1
    }
    edges.unpersist()
    // the last round's rows become a cut, so the cached step is released
    val out = graft.Lineage.cut(labels.select(col("id").as("doc_id"), col("label").as("canonical_id")))
    labels.unpersist()
    labelLoop.drop(pairs.sparkSession)
    (out, rounds)
  }

  /** Rounds of plain propagation before engaging the pointer-jump
    * (deep-chain) machinery; shallow corpora never pay for it. */
  private[graft] val CcJumpAfter = 3

  private[graft] val CcCheckpointEvery = 5

  /** Default near-dup Jaccard threshold, shared by the batch family
    * defaults, [[graft.streaming.StreamingJobs.streamDocDedup]], and
    * the generated oracle SQL — one constant so a non-default call
    * can't silently diverge from the registered oracle (r17 ADVICE).
    */
  val NearDupThreshold = 0.8

  /** Memoized CC labels over the rep-level near-dup pair graph —
    * (doc_id = rep, canonical_id). The fixpoint is an iterative
    * multi-action loop (the most expensive kernel in the dedup
    * family), and THREE operators consume its labels (dedup_groups,
    * curate_corpus via dispositionsFor, corpus_emit) — before r18
    * each re-ran the loop. Keyed (session, corpus, τ) like the other
    * memoized relations. The labels are already a cut, which severs
    * the loop's thousand-node plan so consumers join against rows, so
    * the memo keeps them as a value rather than cutting them again.
    */
  private[operators] def ccLabelsFor(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    Memo.value("ccLabels", spark, dir, "documents", threshold)(
      connectedComponentsFor(repPairsFor(spark, dir, threshold).select("a_id", "b_id"))._1)

  /** Contracted (round 14): components are computed on the REP graph —
    * base-tier size at any clone factor — and members inherit their
    * group's component label. Identical output to CC over the expanded
    * pair set: a group's docs are an internal clique (one component
    * with its rep), rep = min(ids), so the component minimum over docs
    * equals the minimum rep of the rep-component; a group participates
    * iff it has an internal pair (sz ≥ 2) or a cross-content edge —
    * exactly the nodes of the expanded graph.
    */
  def dedupGroups(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val g = textGroups(spark, dir)
    val labels = ccLabelsFor(spark, dir, threshold)
    g.join(labels.select(col("doc_id").as("rep"), col("canonical_id")), Seq("rep"), "left")
      .filter(col("canonical_id").isNotNull || col("sz") >= 2)
      .select(explode(col("ids")).as("doc_id"),
        coalesce(col("canonical_id"), col("rep")).as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Contracted CC oracle (round 14): the reachability walk runs over
    * the REP graph (distinct texts — base-tier size at any clone
    * factor); member docs inherit their group's component label. The
    * component canonical is min(rep) over the component: each rep is
    * its group's min doc_id, so min over reps = min doc_id in the
    * component. A group participates (emits rows) iff it has an
    * internal clique (sz ≥ 2) or any cross-content edge — matching the
    * engine, whose labels exist only for nodes of the pair graph.
    */
  val dedupGroupsSql: String =
    s"""WITH RECURSIVE
       |${contractedJaccardKernel(0.8)},
       |redges AS (
       |  SELECT a_rep AS src, b_rep AS dst FROM rsim
       |  UNION
       |  SELECT b_rep, a_rep FROM rsim
       |), walk(id, reach) AS (
       |  SELECT src, dst FROM redges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN redges e ON w.reach = e.src
       |), rcanon AS (
       |  SELECT id AS rep, least(id, min(reach)) AS canon
       |  FROM walk GROUP BY id
       |)
       |SELECT unnest(t.ids) AS doc_id, coalesce(rc.canon, t.rep) AS canonical_id
       |FROM t LEFT JOIN rcanon rc ON rc.rep = t.rep
       |WHERE t.sz >= 2 OR rc.rep IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // MinHash(128) + LSH banding (32 bands × 4 rows). Signatures are
  // computed with array-lambda native functions — per doc, NO explode
  // of shingles and no shuffle until the tiny (doc, band, key) relation
  // is bucket-joined. This is the operator that still works when
  // all-pairs Jaccard can't: candidate volume is O(collisions), and
  // the exact-Jaccard verify touches only candidates.
  // -------------------------------------------------------------------

  val NumPerm = 128
  val Bands = 32
  val RowsPerBand: Int = NumPerm / Bands

  private def mixConst(i: Long): Long = graft.functions.Hashing.splitmix64(i)

  private val P31: Long = 2147483647L // 2^31 − 1 (Mersenne prime)
  private lazy val permAArr: Array[Long] =
    Array.tabulate(NumPerm)(i => (mixConst(2 * i) & 0x7FFFFFFFL) % (P31 - 1) + 1L)
  private lazy val permBArr: Array[Long] =
    Array.tabulate(NumPerm)(i => Math.floorMod(mixConst(2 * i + 1), P31))

  // -------------------------------------------------------------------
  // Scala-side mirror of the LSH family (round 17): the STREAMING band
  // index computes per-document signatures inside a typed flatMap (a
  // pre-stateful aggregation is not available in a streaming plan), so
  // the same shingles → xxhash64 → (a·h+b mod p) min-perm → band-key
  // chain is mirrored in plain JVM loops. MinhashFamilySpec pins the
  // bit-equality against the Catalyst path, so streaming candidates
  // inherit the batch family's verified FN-freeness on every gated
  // corpus instead of introducing a second, separately-provable family.
  // -------------------------------------------------------------------

  /** Spark-identical xxhash64 (seed 42 = `functions.xxhash64`). */
  private[graft] def xxh64String(s: String, seed: Long = 42L): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, seed)

  private def xxh64Long(v: Long, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      v, org.apache.spark.sql.types.LongType, seed)

  private def xxh64Int(v: Int, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      v, org.apache.spark.sql.types.IntegerType, seed)

  /** Distinct word 3-gram shingles, matching `ngramsFromTextExpr`'s
    * tokenization exactly (split on a single space, empty tokens
    * kept — Spark `split` semantics).
    */
  private[graft] def shinglesOf(text: String, n: Int = 3): Array[String] = {
    val w = text.split(" ", -1)
    if (w.length < n) Array.empty
    else w.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** The 32 LSH band keys of a non-empty shingle set — bit-equal to
    * the batch banding (xxhash64 of the band's 4 min-perm signature
    * rows chained with the band index, seed 42).
    */
  private[graft] def bandKeysOf(shingles: Array[String]): Array[Long] = {
    require(shingles.nonEmpty, "bandKeysOf needs >= 1 shingle")
    val hs = shingles.map(s => xxh64String(s) & 0x7FFFFFFFL)
    val sig = new Array[Long](NumPerm)
    var i = 0
    while (i < NumPerm) {
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        // h < 2^31, a < 2^31 ⇒ product < 2^62: no overflow, and every
        // term is non-negative so % IS pmod
        val v = (hs(j) * permAArr(i) + permBArr(i)) % P31
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    Array.tabulate(Bands) { b =>
      var seed = 42L
      var r = 0
      while (r < RowsPerBand) { seed = xxh64Long(sig(b * RowsPerBand + r), seed); r += 1 }
      xxh64Int(b, seed)
    }
  }

  // The verified-pairs relation is shared by three queries
  // (dedup_minhash_lsh, contam_minhash, dedup_incremental) — memoized
  // per (session, corpus, τ), so the signature + banding build runs
  // once per dataset (the r10 bench flagged the cold rebuild as
  // contam_minhash's 3.4× intra-run spread).
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    Memo("lshPairs", spark, dir, "documents", threshold)(
      minhashLshCompute(spark, dir, threshold))

  private[graft] def minhashLshCompute(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val docs = shingleArrays(spark, dir)
    // 128 permutations from ONE xxhash64 per shingle: sig_i =
    // min((A_i·h + B_i) mod p), p = 2^31 − 1 — codegen'd min
    // aggregates with map-side partial agg, instead of 128
    // interpreted array passes per document. The mod p is LOAD-
    // BEARING: without it a·h + b is monotone in h, so every
    // "permutation" ranks shingles identically and the whole
    // signature collapses to a function of min(h) — one effective
    // permutation, detect probability j instead of 1−(1−j⁴)³²
    // (caught by the exact-Jaccard oracle: pairs at j = 0.96 were
    // missed at ~4% rates). With the Mersenne-prime reduction this
    // is the standard 2-universal (a·x+b mod p) family.
    // 31-bit hash × <2^31 constants keeps products < 2^62: no ANSI
    // overflow, and the family over 31 bits is ample for minhashing
    // shingle sets ≪ 2^31.
    val buckets = bandBucketsOf(shingled(spark, dir))
    val cand = buckets.as("a").join(buckets.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // exact-Jaccard verification on candidates only
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** The batch banding pipeline factored for reuse and for the family
    * spec: (doc_id, shingle) rows → (doc_id, band, bkey). 128
    * permutations from ONE xxhash64 per shingle as codegen'd min
    * aggregates; band key = xxhash64 of the band's 4 signature rows
    * chained with the band index. [[bandKeysOf]] is the Scala mirror.
    */
  private[graft] def bandBucketsOf(sh: DataFrame): DataFrame = {
    val h = sh.withColumn("h", xxhash64(col("shingle")) bitwiseAND lit(0x7FFFFFFFL))
    val sigAggs = (0 until NumPerm).map(i =>
      min(pmod(col("h") * lit(permAArr(i)) + lit(permBArr(i)), lit(P31))).as(s"m$i"))
    val sig = h.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandCols: Seq[Column] = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows :+ lit(b): _*).as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  /** Exact-Jaccard oracle for [[minhashLsh]]: the LSH family is
    * deterministic (one xxhash64 per shingle + fixed splitmix
    * permutation constants), so whether banding surfaces every pair
    * with J ≥ τ is a FIXED property of a given corpus, not a per-run
    * coin flip — and the per-pair false-negative probability at
    * τ = 0.8 is (1−j⁴)³² ≤ 5e-8 (the [[contamMinhash]] argument).
    * Equality against the all-pairs inverted-index Jaccard is
    * therefore a legitimate driver oracle, verified at every SF.
    */
  val minhashLshSql: String = contractedJaccardSql

  /** Doc-level cross-corpus decontamination: benchmark docs that are
    * NEAR-duplicates of corpus docs (Jaccard ≥ τ), found through the
    * MinHash-LSH candidate machinery and exact-verified — the
    * document-granularity complement of the 5-gram contam audit
    * (paraphrased/near-identical leaks that exact n-gram matching
    * understates).
    *
    * Oracle note: LSH has a theoretical false-negative rate of
    * (1−j⁴)³² ≤ 5e-8 at j = τ = 0.8 — and the hash family is
    * deterministic, so oracle equality is a fixed property of the
    * corpus, verified at every SF, not a per-run coin flip.
    */
  def contamMinhash(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val bench = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (substring(md5(col("text").cast("binary")), 1, 1) === "0").as("is_bench"))
    minhashLsh(spark, dir, threshold)
      .join(bench.select(col("doc_id").as("a_id"), col("is_bench").as("ab")), "a_id")
      .join(bench.select(col("doc_id").as("b_id"), col("is_bench").as("bb")), "b_id")
      .filter(col("ab") =!= col("bb"))
      .select(
        when(col("ab"), col("a_id")).otherwise(col("b_id")).as("bench_id"),
        when(col("ab"), col("b_id")).otherwise(col("a_id")).as("corpus_id"),
        col("jaccard"))
      .groupBy("bench_id")
      .agg(
        countDistinct(col("corpus_id")).as("n_near_dup_docs"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("bench_id")
  }

  val contamMinhashSql: String =
    """WITH t AS (
      |  SELECT doc_id, substring(md5(text), 1, 1) = '0' AS is_bench,
      |    str_split(text, ' ') AS w
      |  FROM documents WHERE len(str_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, is_bench,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM t
      |), sz AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.is_bench AS a_bench,
      |    count(*) AS inter
      |  FROM sh a JOIN sh b USING (shingle)
      |  WHERE a.doc_id < b.doc_id AND a.is_bench <> b.is_bench
      |  GROUP BY 1, 2, 3
      |), j AS (
      |  SELECT CASE WHEN a_bench THEN a_id ELSE b_id END AS bench_id,
      |    CASE WHEN a_bench THEN b_id ELSE a_id END AS corpus_id,
      |    round(inter / (sa.n + sb.n - inter), 6) AS jaccard
      |  FROM pairs
      |  JOIN sz sa ON sa.doc_id = a_id
      |  JOIN sz sb ON sb.doc_id = b_id
      |  WHERE inter / (sa.n + sb.n - inter) >= 0.8
      |)
      |SELECT bench_id,
      |  CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_near_dup_docs,
      |  max(jaccard) AS max_jaccard
      |FROM j GROUP BY bench_id ORDER BY bench_id""".stripMargin

  /** Incremental (delta-vs-history) dedup — the continuous-crawl
    * shape: the corpus is split by ARRIVAL ORDER into HISTORY
    * (doc_id % 4 != 0, ~75%) and DELTA (every 4th doc_id, ~25%; see
    * [[deltaSplit]] — the split is deliberately NOT content-
    * addressed, since an md5 split would send identical texts to the
    * same side and make cross-split exact dups structurally
    * impossible), and each delta doc is audited against history
    * only: exact dup (hash join on md5) and near-dup (the
    * MinHash-LSH candidate machinery filtered to cross-split pairs). Per flagged delta doc: the exact flag,
    * the number of near-duplicate history docs, and the max Jaccard.
    *
    * Scale: history hashes are one (md5, id) relation — the delta
    * side probes it with an equi-join (at 100 TB the history hash
    * set lives partitioned on disk and the probe is a shuffle-join
    * or a bloom-prefiltered one, per contam_bloom); the near-dup leg
    * rides the shared banding pipeline unchanged. The driver corpus
    * has no exact dups (dedup_exact precedent), so the exact leg is
    * exercised by a planted spec.
    */
  def dedupIncremental(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val docs = deltaSplit(Tables.documents(spark, dir))
    val exactDup = incrementalExactFor(docs)
    val near = minhashLsh(spark, dir, threshold)
      .join(docs.select(col("doc_id").as("a_id"), col("is_delta").as("ad")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("is_delta").as("bd")), "b_id")
      .filter(col("ad") =!= col("bd"))
      .select(
        when(col("ad"), col("a_id")).otherwise(col("b_id")).as("doc_id"),
        col("jaccard"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_near_history"), max(col("jaccard")).as("max_jaccard"))
    near.join(exactDup, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("n_near_history"), lit(0L)).as("n_near_history"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy("doc_id")
  }

  /** DELTA = every 4th doc_id — an arrival-order stand-in. The split
    * must NOT be content-addressed: identical texts hash to the same
    * side under an md5 split, which would make cross-split exact
    * duplication structurally impossible (a real crawl splits by
    * ingest time, and re-crawled pages land in the delta).
    */
  private def deltaSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .withColumn("is_delta", col("doc_id") % 4 === 0)

  /** Exact leg, injectable for the planted-dup spec (the driver
    * corpus is exact-dup-free, dedup_exact precedent).
    */
  private[graft] def incrementalExactFor(split: DataFrame): DataFrame =
    split.filter(col("is_delta")).as("d")
      .join(split.filter(!col("is_delta")).as("hh"),
        col("d.h") === col("hh.h"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))

  private[graft] def incrementalExactForDocs(docs: DataFrame): DataFrame =
    incrementalExactFor(deltaSplit(docs))

  /** Oracle: the same split rule + exact hash join + the exact
    * all-pairs Jaccard (the [[minhashLshSql]] argument makes the LSH
    * leg oracle-able: deterministic family, FN-freeness a fixed
    * corpus property).
    */
  /** Contracted delta-vs-history oracle (round 14): the %4 split is on
    * doc_id, so a content group carries delta members and history
    * members separately (dids / hsz). Per delta doc d in group g:
    * exact_dup ⇔ g has ≥1 history member (md5 equality ≡ text
    * equality); n_near_history = hsz(g) [the same-content pairs, J=1,
    * eligible groups only] + Σ_{g'~g in rsim} hsz(g'); max_jaccard =
    * max(1.0 if hsz(g)>0, max over history-bearing neighbors' J). The
    * rep-level similarity join stays base-tier-sized at any clone
    * factor.
    */
  val dedupIncrementalSql: String =
    s"""WITH
       |${contractedJaccardKernel(0.8)},
       |gd AS (
       |  SELECT text,
       |    min(doc_id) AS rep,
       |    list_sort(list(doc_id) FILTER (WHERE doc_id % 4 = 0)) AS dids,
       |    count(*) FILTER (WHERE doc_id % 4 <> 0) AS hsz
       |  FROM documents WHERE text IS NOT NULL GROUP BY text
       |), nb AS (
       |  SELECT a_rep AS rep, b_rep AS nrep, jaccard FROM rsim
       |  UNION ALL
       |  SELECT b_rep, a_rep, jaccard FROM rsim
       |), nagg AS (
       |  SELECT nb.rep,
       |    CAST(sum(g2.hsz) AS BIGINT) AS nh,
       |    max(CASE WHEN g2.hsz > 0 THEN nb.jaccard END) AS mj
       |  FROM nb JOIN gd g2 ON g2.rep = nb.nrep
       |  GROUP BY nb.rep
       |), gnear AS (
       |  -- eligible groups only: same-content near pairs need shingles
       |  SELECT gd.rep, gd.dids,
       |    gd.hsz + coalesce(nagg.nh, 0) AS n_near,
       |    greatest(
       |      CASE WHEN gd.hsz > 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
       |      coalesce(nagg.mj, CAST(0.0 AS DOUBLE))) AS mj
       |  FROM gd JOIN t ON t.rep = gd.rep
       |  LEFT JOIN nagg ON nagg.rep = gd.rep
       |), near2 AS (
       |  SELECT unnest(dids) AS doc_id,
       |    CAST(n_near AS BIGINT) AS n_near_history, mj
       |  FROM gnear WHERE n_near > 0 AND len(dids) > 0
       |), exact2 AS (
       |  SELECT unnest(dids) AS doc_id FROM gd
       |  WHERE hsz > 0 AND len(dids) > 0
       |)
       |SELECT coalesce(n.doc_id, e.doc_id) AS doc_id,
       |  e.doc_id IS NOT NULL AS exact_dup,
       |  coalesce(n.n_near_history, 0) AS n_near_history,
       |  coalesce(n.mj, 0.0) AS max_jaccard
       |FROM near2 n FULL OUTER JOIN exact2 e ON n.doc_id = e.doc_id
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Fuzzy vocabulary join: edit distance ≤ 1 via the symmetric-delete
  // (FastSS/SymSpell) neighborhood — candidates come from an
  // inverted-index equi-join on single-deletion variants, never an
  // all-pairs product. COMPLETE for distance ≤ 1: a substitution at
  // position i collides after both sides delete i; an indel collides
  // because the shorter word is itself a deletion variant of the
  // longer. False candidates (e.g. transpositions) die in the exact
  // levenshtein verify, which touches candidates only.
  // -------------------------------------------------------------------

  /** Near-identical vocabulary pairs (typos, inflection variants)
    * with corpus frequencies — the fuzzy-key-matching primitive of
    * record linkage and typo-dedup. minLen keeps stopword-length
    * hubs out of the variant index (realistic: fuzzy matching is for
    * long identifiers, not 3-letter words).
    */
  def editDistanceJoin(spark: SparkSession, dir: String, minLen: Int = 8): DataFrame =
    editDistanceJoinFor(Tables.documents(spark, dir), minLen)

  /** Docs-injectable form: the driver corpus draws from a fixed
    * wordlist with no distance-1 pairs at ANY length (verified at
    * every SF), so the oracle alone passes vacuously — the planted-
    * typo spec exercises the positive path (dedup_exact precedent).
    */
  private[graft] def editDistanceJoinFor(docs: DataFrame, minLen: Int = 8): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= minLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val variants = vocab.select(col("word"), col("freq"),
      explode(array_distinct(concat(array(col("word")), expr(
        """transform(sequence(1, length(word)),
          |  i -> concat(substring(word, 1, i - 1),
          |              substring(word, i + 1, length(word) - i)))""".stripMargin))))
        .as("key"))
    variants.as("a").join(variants.as("b"), "key")
      .filter(col("a.word") < col("b.word"))
      .select(col("a.word").as("word_a"), col("b.word").as("word_b"),
        col("a.freq").as("freq_a"), col("b.freq").as("freq_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("word_a"), col("word_b")))
      .filter(col("dist") <= 1)
      .orderBy("word_a", "word_b")
  }

  /** Oracle: the identical symmetric-delete construction in DuckDB —
    * exact by the completeness argument above, so this recomputes
    * the full distance ≤ 1 pair set without a quadratic join.
    */
  val editDistanceJoinSql: String =
    """WITH v AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(str_split(text, ' ')) AS word FROM documents
      |  ) WHERE length(word) >= 8 GROUP BY word
      |), var AS (
      |  SELECT word, freq, unnest(list_distinct(list_append(
      |    list_transform(range(1, length(word) + 1),
      |      i -> substr(word, 1, i - 1) || substr(word, i + 1, length(word) - i)),
      |    word))) AS key
      |  FROM v
      |), cand AS (
      |  SELECT DISTINCT a.word AS word_a, b.word AS word_b,
      |    a.freq AS freq_a, b.freq AS freq_b
      |  FROM var a JOIN var b USING (key)
      |  WHERE a.word < b.word
      |)
      |SELECT word_a, word_b,
      |  CAST(freq_a AS BIGINT) AS freq_a, CAST(freq_b AS BIGINT) AS freq_b,
      |  CAST(levenshtein(word_a, word_b) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(word_a, word_b) <= 1
      |ORDER BY word_a, word_b""".stripMargin

  // -------------------------------------------------------------------
  // Exact variable-length substring dedup (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better"): the union of all
  // maximal character spans of length ≥ L that occur more than once in
  // the (distinct-text) corpus. dedup_span's fixed token 10-grams miss
  // repeats shorter than 10 tokens (long-word phrases) and repeats not
  // aligned to token boundaries; this operator is exact at character
  // granularity. The suffix-array equivalence: two suffixes with
  // LCP ≥ L share their first L characters, so grouping every L-char
  // window (stride 1) by VALUE finds exactly the positions covered by
  // some repeated substring of length ≥ L — a repeated span of length
  // M ≥ L appears as M − L + 1 consecutive duplicated window starts,
  // recovered by the gaps-and-islands merge below.
  // -------------------------------------------------------------------

  /** Duplicated-span relation: one row per (doc_id, maximal duplicated
    * span) with 1-based char positions. Semantics: window occurrences
    * are counted over DISTINCT texts (exact-duplicate docs are the
    * dedup_exact family's job; counting clones would mark every span
    * of any duplicated doc), and clone images inherit their rep's
    * spans — positions are text-relative, so the expansion is exact.
    *
    * Scale: the window explode is O(len·L) bytes of map-side work per
    * distinct doc (L constant ⇒ linear), one window-keyed exchange for
    * the duplicate test (map-side partial agg collapses within-doc
    * repeats), a semi-join back, and a per-doc sort of only the
    * DUPLICATED positions. No pairwise joins anywhere — output is the
    * span set itself, linear in the corpus at any clone factor.
    */
  def dedupSubstring(spark: SparkSession, dir: String, minLen: Int = 40): DataFrame = {
    val L = minLen
    val g = allTextGroups(spark, dir)
    val dupSites = dupWindowSites(g, L, withCanon = false).select("rep", "p")
    val spans = islandSpans(dupSites, L)
    spans.join(g.select(col("rep"), col("ids")), "rep")
      .select(explode(col("ids")).as("doc_id"),
        col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Window sites of the contracted corpus with the duplicate test
    * resolved: one row per (rep, p) whose L-char window occurs at ≥ 2
    * (text, pos) sites — across docs OR twice within one (within-doc
    * verbatim repeats are duplicated training content too, same as
    * Lee et al.) — carrying the window's canonical site
    * (crep, cp) = min (rep, p) over its occurrences.
    *
    * CharWindows is a native single-pass expression: a
    * substring(text, p, L) lambda is O(len²) per doc (UTF8String has
    * no random char access — wedged a core on the 1 MB fuzz doc),
    * and it is TOTAL in the doc length (round-12 rule: len < L yields
    * array(), safe under InferFiltersFromGenerate's cloned conjunct).
    *
    * Round-16 (r15 verdict #4): both exchanges here are keyed by a
    * 128-bit digest pair (xxhash64 under two seeds) instead of the raw
    * L-char window string — the sites relation is CORPUS-POSITION
    * sized (one row per char position), so shipping a 40–160-byte
    * string key per row dominated the shuffle; 16 digest bytes cut it
    * ~5-10× ON THE DUPLICATE-TEST AGGREGATION, whose input is every
    * window position. (The collision-check exchange below still ships
    * the win string once per DUPLICATED site — on a boilerplate-heavy
    * corpus where most positions are duplicated, that second exchange
    * approaches corpus-position size again; the saving there is only
    * the dup fraction. r16 advice: comment corrected, formulation
    * deliberate — see below.) Collision safety: min = max of the
    * window string within every digest group is a COMPLETE check —
    * any 128-bit collision between distinct windows trips raise_error
    * instead of fabricating a duplicate (p ≈ n²/2¹²⁹ — never, but
    * checked). Unlike textGroups, the min/max here are WINDOW
    * functions over the duplicated sites, NOT agg buffers: a string
    * min/max buffer would demote the corpus-position HashAggregate to
    * SortAggregate (the CLAUDE.md round-16 rule), so the big agg
    * carries a LONG count only and the string compare rides the
    * (usually much smaller) duplicated-site set.
    *
    * `withCanon` adds each window's canonical site (crep, cp) =
    * min (rep, p) — only the apply path needs it.
    *
    * Aggregation shape matters here: the duplicate test runs over the
    * CORPUS-POSITION relation, and a string (or struct) aggregation
    * buffer demotes HashAggregate to SortAggregate — a per-partition
    * sort of every window position (caught by the plan-fingerprint
    * diff on the round-16 rewrite). So the big agg carries a LONG
    * count only, and the collision check + canonical site are computed
    * as window functions over the DUPLICATED sites — which is still a
    * COMPLETE collision check: a 128-bit collision needs ≥ 2 sites, so
    * every colliding group has nw ≥ 2 and lands in the checked set.
    */
  private[graft] def dupWindowSites(g: DataFrame, L: Int, withCanon: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sites = g.select(col("rep"),
        posexplode(_root_.graft.functions.charWindows(col("text"), L)).as(Seq("pidx", "win")))
      .select(col("rep"), (col("pidx") + lit(1)).as("p"),
        xxhash64(col("win")).as("wk1"), xxhash64(lit(42L), col("win")).as("wk2"),
        col("win"))
    val dupKeys = sites.groupBy("wk1", "wk2").agg(count(lit(1)).as("nw"))
      .filter(col("nw") >= 2).select("wk1", "wk2")
    val dupSites = sites.join(dupKeys, Seq("wk1", "wk2"))
    val w = Window.partitionBy("wk1", "wk2")
    // the check rides the OUTPUT position column so column pruning can
    // never drop it (a standalone check column would be optimized away
    // before evaluation)
    val checkedP =
      when(min(col("win")).over(w) === max(col("win")).over(w), col("p"))
        .otherwise(raise_error(lit("dedupSubstring: 128-bit window digest collision"))
          .cast("int")).as("p")
    if (withCanon) {
      val canon = min(struct(col("rep"), col("p"))).over(w)
      dupSites.select(col("rep"), checkedP,
        canon.getField("rep").as("crep"), canon.getField("p").as("cp"))
    } else dupSites.select(col("rep"), checkedP)
  }

  /** Gaps-and-islands merge of duplicated window starts into maximal
    * spans: starts p < q with q ≤ p + L overlap or touch (consecutive
    * duplicated starts always merge), so each island is one maximal
    * duplicated span [min p, max p + L − 1] — exactly the coverage
    * union of the member windows.
    */
  private[graft] def islandSpans(dupSites: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("rep").orderBy("p")
    dupSites
      .withColumn("brk", when(col("p") - lag("p", 1).over(w) > L, lit(1)).otherwise(lit(0)))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("rep", "isl")
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(L - 1)).cast("long").as("span_end"))
  }

  /** Contracted oracle for [[dedupSubstring]]: same window-group →
    * islands → expansion pipeline over distinct texts. Positions are
    * code points on both engines (DuckDB string_split(s, '') yields
    * one element per code point, astral emoji included — matching
    * CharWindows). Window strings are built by a moving-frame
    * string_agg over char ROWS: both substr(text, q, 40) (code-point
    * scan from byte 0) AND a list-slice inside a lambda that captures
    * the char list (carried-list re-materialization, the CLAUDE.md
    * lateral trap) measured O(len²) on the 1 MB fuzz doc (>5 min);
    * the frame form is 0.4 s. The char/position unnests in `c` zip
    * (round-12 rule), and the final expansion is a bounded lateral
    * (ids lists are clone counts; only three ints carried).
    */
  val dedupSubstringSql: String =
    """WITH grp AS (
      |  SELECT text, min(doc_id) AS rep, list_sort(list(doc_id)) AS ids
      |  FROM documents WHERE text IS NOT NULL GROUP BY text
      |), t AS (
      |  SELECT rep, string_split(text, '') AS cs FROM grp
      |  WHERE length(text) >= 40
      |), c AS (
      |  SELECT rep, unnest(cs) AS ch, unnest(range(1, len(cs) + 1)) AS p FROM t
      |), wn AS (
      |  SELECT rep, p,
      |    string_agg(ch, '') OVER (PARTITION BY rep ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 39 FOLLOWING) AS win,
      |    count(*) OVER (PARTITION BY rep) AS nc
      |  FROM c
      |), s AS (
      |  SELECT rep, p, win FROM wn WHERE p <= nc - 39
      |), d AS (
      |  SELECT win FROM s GROUP BY win HAVING count(*) >= 2
      |), ds AS (
      |  SELECT rep, p FROM s JOIN d USING (win)
      |), lagged AS (
      |  SELECT rep, p, lag(p) OVER (PARTITION BY rep ORDER BY p) AS pp FROM ds
      |), isl AS (
      |  SELECT rep, p,
      |    sum(CASE WHEN p - pp > 40 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY rep ORDER BY p) AS grp_no
      |  FROM lagged
      |), sp AS (
      |  SELECT rep, min(p) AS span_start, max(p) + 39 AS span_end
      |  FROM isl GROUP BY rep, grp_no
      |)
      |SELECT u.doc_id AS doc_id,
      |  CAST(span_start AS BIGINT) AS span_start,
      |  CAST(span_end AS BIGINT) AS span_end,
      |  CAST(span_end - span_start + 1 AS BIGINT) AS span_len
      |FROM sp JOIN grp USING (rep), unnest(grp.ids) AS u(doc_id)
      |ORDER BY doc_id, span_start""".stripMargin

  /** The CONSUMER of the duplicated-span relation (r15 verdict #2):
    * re-emit the corpus with every ≥ L-char duplicated span CUT,
    * keeping one canonical occurrence per duplicated window — Lee et
    * al.'s actual pipeline step (their released tool's default cuts
    * every occurrence; the paper's stated semantics keep one, which is
    * what a training corpus wants — content must survive somewhere).
    *
    * Canonical rule, exact on both engines: for each duplicated
    * window VALUE, the occurrence at min (rep, p) — document order,
    * then position — is canonical and is never cut; all other
    * occurrences are cut sites. An APERIODIC repeated span keeps its
    * full first occurrence intact (each window value's canonical site
    * is there); within-doc repeats keep the first occurrence. A
    * PERIODIC span (period < L) is internally duplicated — every
    * window inside it is one value — so only the first window's
    * coverage survives, which is the desired dedup of self-repeating
    * boilerplate. Cut coverage is the
    * union of [p, p+L−1] over cut sites — the same gaps-and-islands
    * merge as [[dedupSubstring]] — removed from the text in ONE byte
    * pass by the native CutSpans expression (a substring-concat
    * rebuild is O(len·spans) on UTF8String; the megadoc rule).
    *
    * Output: one row per non-NULL-text document (clones inherit their
    * rep's cleaned text — exact-duplicate removal is dedup_exact's
    * job, not this operator's): (doc_id, cleaned_text, chars_removed,
    * bytes_removed). Linear at any clone factor: the kernel runs over
    * distinct texts, the expansion over documents.
    */
  def dedupSubstringApply(spark: SparkSession, dir: String, minLen: Int = 40): DataFrame =
    Memo("substringApply", spark, dir, "documents", minLen)(
      dedupSubstringApplyBuild(spark, dir, minLen))

  private[graft] def dedupSubstringApplyBuild(spark: SparkSession, dir: String, minLen: Int): DataFrame = {
    val L = minLen
    val g = allTextGroups(spark, dir)
    g.join(cutSpanArrays(g, L), Seq("rep"), "left")
      .select(explode(col("ids")).as("doc_id"), col("text"),
        col("cut_starts"), col("cut_ends"))
      .select(col("doc_id"),
        when(col("cut_starts").isNull, col("text"))
          .otherwise(_root_.graft.functions.cutSpans(
            col("text"), col("cut_starts"), col("cut_ends"))).as("cleaned_text"),
        col("text"))
      .select(col("doc_id"), col("cleaned_text"),
        (length(col("text")) - length(col("cleaned_text"))).cast("long").as("chars_removed"),
        (octet_length(col("text")) - octet_length(col("cleaned_text"))).cast("long").as("bytes_removed"))
      .orderBy("doc_id")
  }

  /** Merged cut-span arrays per rep: the non-canonical duplicated
    * window sites of `g` (rep, text), gaps-and-islands merged and
    * collected as parallel start/end arrays for [[graft.functions.cutSpans]].
    * Islands first: collecting merged SPANS per doc is O(spans) per
    * row, never the O(positions) a raw cut-site collect pays on a
    * fully-duplicated megadoc.
    */
  private def cutSpanArrays(g: DataFrame, L: Int): DataFrame = {
    val cutSites = dupWindowSites(g, L, withCanon = true)
      .filter(!(col("rep") === col("crep") && col("p") === col("cp")))
      .select("rep", "p")
    islandSpans(cutSites, L)
      .groupBy("rep")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"))
      .select(col("rep"),
        expr("transform(sp, x -> x.span_start)").as("cut_starts"),
        expr("transform(sp, x -> x.span_end)").as("cut_ends"))
  }

  /** Span-cut re-emission over an arbitrary (doc_id, text) relation —
    * the [[dedupSubstringApply]] kernel without the clone-group
    * expansion, for callers whose input texts are already pairwise
    * distinct (corpus_emit's kept set: the exact-dup rule keeps one
    * doc per text, so the contraction would be the identity). Same
    * canonical rule (min (doc, pos) occurrence survives per duplicated
    * window value), same single CutSpans byte pass.
    */
  private[operators] def spanCutTexts(docs: DataFrame, L: Int = 40): DataFrame = {
    val g = docs.select(col("doc_id").as("rep"), col("text"))
    g.join(cutSpanArrays(g, L), Seq("rep"), "left")
      .select(col("rep").as("doc_id"),
        when(col("cut_starts").isNull, col("text"))
          .otherwise(_root_.graft.functions.cutSpans(
            col("text"), col("cut_starts"), col("cut_ends"))).as("cleaned_text"))
  }

  /** Contracted oracle for [[dedupSubstringApply]]: the
    * [[dedupSubstringSql]] window pipeline, plus the canonical test
    * (row_number over (rep, p) within each window value), cut-site
    * coverage via a moving-frame MAX over char rows (covered(p) ⇔ a
    * cut start in [p−L+1, p] — linear, no range join), and the cleaned
    * text as a per-position string_agg (empty string, not NULL, when
    * everything is covered). DuckDB strlen is BYTES (= Spark
    * octet_length); DuckDB length is code points (= Spark length).
    */
  val dedupSubstringApplySql: String =
    """WITH grp AS (
      |  SELECT text, min(doc_id) AS rep, list_sort(list(doc_id)) AS ids
      |  FROM documents WHERE text IS NOT NULL GROUP BY text
      |), t AS (
      |  SELECT rep, string_split(text, '') AS cs FROM grp
      |  WHERE length(text) >= 40
      |), c AS (
      |  SELECT rep, unnest(cs) AS ch, unnest(range(1, len(cs) + 1)) AS p FROM t
      |), wn AS (
      |  SELECT rep, p,
      |    string_agg(ch, '') OVER (PARTITION BY rep ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 39 FOLLOWING) AS win,
      |    count(*) OVER (PARTITION BY rep) AS nc
      |  FROM c
      |), s AS (
      |  SELECT rep, p, win FROM wn WHERE p <= nc - 39
      |), wk AS (
      |  SELECT rep, p,
      |    count(*) OVER (PARTITION BY win) AS nw,
      |    row_number() OVER (PARTITION BY win ORDER BY rep, p) AS rn
      |  FROM s
      |), cutf AS (
      |  SELECT rep, p, 1 AS f FROM wk WHERE nw >= 2 AND rn > 1
      |), cov AS (
      |  SELECT rep, p, ch,
      |    max(coalesce(f, 0)) OVER (PARTITION BY rep ORDER BY p
      |      ROWS BETWEEN 39 PRECEDING AND CURRENT ROW) AS covered
      |  FROM c LEFT JOIN cutf USING (rep, p)
      |), cl AS (
      |  SELECT rep,
      |    string_agg(CASE WHEN covered = 1 THEN '' ELSE ch END, '' ORDER BY p) AS cleaned
      |  FROM cov GROUP BY rep
      |)
      |SELECT u.doc_id AS doc_id,
      |  coalesce(cl.cleaned, grp.text) AS cleaned_text,
      |  CAST(length(grp.text) - length(coalesce(cl.cleaned, grp.text)) AS BIGINT) AS chars_removed,
      |  CAST(strlen(grp.text) - strlen(coalesce(cl.cleaned, grp.text)) AS BIGINT) AS bytes_removed
      |FROM grp LEFT JOIN cl ON cl.rep = grp.rep, unnest(grp.ids) AS u(doc_id)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // SimHash(64) + Hamming ≤ 3 via the 4-block pigeonhole: distance ≤ 3
  // means at least one 16-bit block is identical, so an equi-join on
  // (block_id, block_value) has exact recall. All bit arithmetic is
  // native (xxhash64 / shiftright / bit_count) inside codegen.
  // -------------------------------------------------------------------

  /** SimHash near-dup audit with a pluggable token-hash family:
    * `oracleHash = false` (production default) is one xxhash64 per
    * token over 64 bits — the cheapest family, spec-verified;
    * `oracleHash = true` derives a 60-bit hash from the md5 hex
    * prefix, which DuckDB recomputes EXACTLY (md5 is the hash both
    * engines share), making the whole operator driver-oracled end to
    * end. Same majority vote, same pigeonhole blocking, same output:
    * 60 vs 64 bits changes nothing structural (4 blocks of 15 bits;
    * Hamming ≤ 3 still forces ≥ 1 equal block).
    */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 3,
      oracleHash: Boolean = false): DataFrame = {
    val nBits = if (oracleHash) 60 else 64
    val blockBits = nBits / 4
    val mask = (1L << blockBits) - 1L
    // The per-doc simhash relation feeds BOTH sides of the pigeonhole
    // self-join below; left as lazy lineage, Catalyst replicates the
    // whole corpus tokenize + md5 + 60-sum aggregate subtree into each
    // side (r19 plan audit: 2 parquet scans, 2 wide aggregates — the
    // lm_perplexity class). The eager Lineage.cut runs the heavy build
    // exactly once per invocation (never registered with the
    // CacheManager — no cross-invocation result reuse), and the
    // doc-count×16-byte cut relation is read twice instead.
    val docs = graft.Lineage.cut(simhashDocs(spark, dir, oracleHash))
    val blockCols = (0 until 4).map { j =>
      struct(lit(j).as("blk"), (shiftright(col("simhash"), j * blockBits) bitwiseAND lit(mask)).as("bval"))
    }
    val blocked = docs.select(col("doc_id"), col("simhash"), explode(array(blockCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.blk"), col("bb.bval"))
    blocked.as("a").join(blocked.as("b"), Seq("blk", "bval"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("hamming") <= maxHamming)
      .orderBy("a_id", "b_id")
  }

  /** The heavy pre-cut build of [[simhash]] — (doc_id, simhash): one
    * token hash per occurrence, then nBits codegen'd conditional-sum
    * aggregates (map-side partial agg); the bit-majority vote and
    * word assembly are a single narrow projection afterwards.
    * Exposed for the plan audit (SparkEntry.auditPlans): the entry
    * query hides this subtree behind the lineage cut above.
    */
  private[graft] def simhashDocs(
      spark: SparkSession, dir: String, oracleHash: Boolean): DataFrame = {
    val nBits = if (oracleHash) 60 else 64
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .withColumn("h",
        if (oracleHash)
          conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long")
        else xxhash64(col("t")))
    val bitAggs = (0 until nBits).map(k =>
      sum((shiftright(col("h"), k) bitwiseAND lit(1L)) * lit(2L) - lit(1L)).as(s"s$k"))
    tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(k => when(col(s"s$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Oracle for [[simhash]] with `oracleHash = true`: DuckDB
    * recomputes the md5-prefix 60-bit token hashes, the per-bit
    * majority vote, the 15-bit pigeonhole blocks, and the Hamming
    * filter — every step is deterministic integer arithmetic, so
    * this is a full bit-for-bit recomputation, not an invariant.
    */
  /** Contracted (round 14): the simhash is a pure function of text, so
    * the bit pipeline and the pigeonhole join run over distinct-text
    * representatives (base-tier cost at any clone factor); identical
    * texts expand to Hamming-0 cliques (every non-null text has ≥ 1
    * token — str_split('') = [''] — so every duplicated group
    * pairs), and cross-content rep pairs expand to their K×K clone
    * images carrying the rep Hamming distance verbatim.
    */
  val simhashSql: String =
    """WITH grp AS (
      |  SELECT text, min(doc_id) AS rep, list_sort(list(doc_id)) AS ids,
      |    count(*) AS sz
      |  FROM documents WHERE text IS NOT NULL GROUP BY text
      |), t AS (
      |  SELECT rep, sz, ids FROM grp
      |), tok AS (
      |  SELECT rep, unnest(str_split(text, ' ')) AS t FROM grp
      |), h AS (
      |  SELECT rep, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv
      |  FROM tok
      |), bits AS (
      |  SELECT rep, k, sum(CASE WHEN (hv >> k) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, unnest(generate_series(0, 59)) AS r(k)
      |  GROUP BY rep, k
      |), sim AS (
      |  SELECT rep,
      |    sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(k AS INTEGER) ELSE 0::BIGINT END) AS sh
      |  FROM bits GROUP BY rep
      |), blk AS (
      |  SELECT rep, sh, j, (sh >> (15 * CAST(j AS INTEGER))) & 32767 AS bval
      |  FROM sim, unnest(generate_series(0, 3)) AS q(j)
      |), rsim AS (
      |  SELECT * FROM (
      |    SELECT DISTINCT a.rep AS a_rep, b.rep AS b_rep,
      |      CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      |    FROM blk a JOIN blk b ON a.j = b.j AND a.bval = b.bval
      |    WHERE a.rep < b.rep
      |  ) WHERE hamming <= 3
      |), cross_ex AS (
      |  SELECT
      |    unnest(flatten(list_transform(ga.ids, x ->
      |      list_transform(gb.ids, y -> least(x, y))))) AS a_id,
      |    unnest(flatten(list_transform(ga.ids, x ->
      |      list_transform(gb.ids, y -> greatest(x, y))))) AS b_id,
      |    hamming
      |  FROM rsim
      |  JOIN t ga ON ga.rep = a_rep
      |  JOIN t gb ON gb.rep = b_rep
      |), cliq AS (
      |  SELECT
      |    unnest(flatten(list_transform(range(1, sz + 1), i ->
      |      list_transform(ids[i+1:sz], x -> ids[i])))) AS a_id,
      |    unnest(flatten(list_transform(range(1, sz + 1), i ->
      |      ids[i+1:sz]))) AS b_id,
      |    CAST(0 AS INTEGER) AS hamming
      |  FROM t WHERE sz >= 2
      |)
      |SELECT a_id, b_id, hamming FROM (
      |  SELECT * FROM cross_ex UNION ALL SELECT * FROM cliq
      |)
      |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------------
  // Embedding near-dup: EXACT cosine ≥ τ self-join, cluster-blocked.
  //
  // Why not projection bands: a qualifying pair only satisfies
  // |Δ⟨·,u⟩| ≤ √(2−2τ) per axis, but projections of isotropic 64-d
  // unit vectors concentrate at σ = 1/√dim = 0.125 — far inside the
  // band width (1.05 at τ=0.45, and still 0.316 at τ=0.95). Measured
  // on the testdata: a 1-axis band leaves ALL C(n,2) pairs, and no
  // Lipschitz bucketing can do better, so round-1's band join was
  // really an all-pairs join through ~2 hot shuffle keys — one
  // reducer at scale. The exact fix is not a better band, it's:
  //
  // 1. Partition the sphere into deterministic cells (dominant
  //    signed coordinate → ≤ 2·dim cells, data-independent).
  // 2. Per cell: centroid + max member angle α (one tiny agg).
  // 3. Prune cell PAIRS by the spherical triangle inequality:
  //    angle(x,y) ≥ θ(ci,cj) − αi − αj for x∈ci, y∈cj, so a pair of
  //    cells with cos(θ−αi−αj) < τ cannot contain a qualifying pair.
  //    Exact — zero false negatives.
  // 4. Surviving cell pairs become balanced blocked join keys; exact
  //    cosine verify runs on the join output only.
  //
  // On clustered corpora (the production near-dup case) the bound
  // kills almost all cross-cell pairs (spec proves ≥10× on planted
  // clusters). On isotropic data nothing CAN prune at low τ, and this
  // degrades gracefully to a BALANCED all-pairs: ~cells²/2 evenly
  // sized join keys instead of one hot bucket — the n²·d work
  // parallelizes over every executor. Cells come from the shared
  // deterministic k-means (KMeans.lloyd), so on clustered data the
  // cells ARE the clusters and α stays small. A skew extension
  // (sub-split oversized cells by hash) is straightforward but not
  // needed at these corpus sizes.
  // -------------------------------------------------------------------

  /** The blocked-join plan behind [[embeddingCandidatesFor]]: the
    * (vec_id, cluster, sub) block assignment — oversized cells
    * hash-split so no single join key goes hot — plus the compatible
    * block-pair keys. Exposed for the skew/pruning specs.
    */
  private[graft] def blockPlan(
      spark: SparkSession, raw: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    // the Lloyd passes + α aggregation re-read this relation ~6×;
    // persist so the parquet scan happens once (LRU-evicted later —
    // the relation is (n × dim) floats, tiny next to the join)
    val e = raw.persist()
    val n = e.count()
    val k = math.max(1, math.min(256, (n / 8).toInt))
    val cents = KMeans.lloyd(spark, e, KMeans.hashSeeds(e, k), iters = 3)
    val c = graft.Lineage.cut(KMeans.assign(e, KMeans.centDf(spark, cents)))
    // unit centroids → per-cell max member angle α + cell size (one
    // O(cells) collect, the only driver-side state besides centroids)
    val unit: Map[Int, Array[Double]] = cents.zipWithIndex.map { case (v, i) =>
      val nn = math.sqrt(v.map(x => x * x).sum)
      i -> (if (nn > 0) v.map(_ / nn).toArray else v.toArray)
    }.toMap
    val unitDf = unit.toSeq.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }
      .toDF("cluster", "cvec")
    val cellStats = c.join(broadcast(unitDf), "cluster")
      .select(col("cluster"),
        (arrayDot(col("embedding"), col("cvec")) / col("nrm")).as("cc"))
      .groupBy("cluster").agg(min(col("cc")).as("min_cc"), count(lit(1)).as("sz"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // e is fully consumed by the collects above (c is cut); the
    // caller's verify joins re-scan the narrow source once — cheap
    // next to the candidate join
    e.unpersist()
    val minCc = cellStats.map { case (cell, (cc, _)) => cell -> cc }
    // Skew guard: k-means puts a planted mega-cluster (60% of a
    // boilerplate-heavy corpus) into ONE cell — exactly the hot-key
    // failure the cell blocking exists to avoid. Any cell above 2×
    // the mean membership is hash-split on vec_id into equal
    // sub-blocks; compatibility stays at CELL granularity (α is a
    // cell-level bound), each compatible cell pair expands to all its
    // sub-block pairs, so the result set is unchanged while the
    // biggest join key shrinks to ~cap.
    val cap = math.max(8L, math.ceil(2.0 * n / math.max(1, cellStats.size)).toLong)
    val nsplit: Map[Int, Int] = cellStats.map { case (cell, (_, sz)) =>
      cell -> math.max(1, math.ceil(sz.toDouble / cap).toInt)
    }
    val assigned = c.join(broadcast(nsplit.toSeq.toDF("cluster", "nsplit")), "cluster")
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsplit")).cast("int"))
      .drop("nsplit")
    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    // α rounded UP so FP error only ever ADDS candidate cell pairs
    // (the exact verify discards extras). The float-product dot gives
    // cc an absolute error ~1e-6, and acos amplifies it unboundedly
    // near cc≈1 (d acos/dc = 1/√(1−c²)) — so widen on the COSINE side
    // (cc − 1e-6) before acos, where the error actually lives, plus a
    // small radian slack for the far-from-1 regime.
    val alpha = minCc.map { case (cell, cc) => cell -> (math.acos(clamp(cc - 1e-6)) + 1e-7) }
    val ids = minCc.keys.toSeq.sorted // occupied cells only
    val compatible = for {
      i <- ids; j <- ids
      if i <= j
      theta = math.acos(clamp(unit(i).zip(unit(j)).map { case (x, y) => x * y }.sum))
      if math.cos(math.max(0.0, theta - alpha(i) - alpha(j))) >= threshold - 1e-6
      si <- 0 until nsplit(i); sj <- 0 until nsplit(j)
      if i < j || si <= sj // each unordered block pair once
      // both orientations for distinct blocks so the a_id < b_id
      // filter keeps each unordered vector pair exactly once
      ori <- if (i == j && si == sj) Seq((i, si, j, sj))
             else Seq((i, si, j, sj), (j, sj, i, si))
    } yield (ori._1, ori._2, ori._3, ori._4, s"${ori._1}.${ori._2}|${ori._3}.${ori._4}")
    (assigned, compatible.toDF("cell_a", "sub_a", "cell_b", "sub_b", "pkey"))
  }

  /** Candidate (a_id, b_id) pairs from the pruned cell-blocked join —
    * exact superset of all pairs with cosine ≥ threshold. Exposed so
    * pruning can be measured (see DedupSimilaritySpec).
    * Input raw: (vec_id, embedding float[], nrm).
    */
  def embeddingCandidatesFor(spark: SparkSession, raw: DataFrame, threshold: Double): DataFrame = {
    val (assigned, pairs) = blockPlan(spark, raw, threshold)
    val aSide = assigned.join(
      broadcast(pairs.select(col("pkey"), col("cell_a").as("cluster"), col("sub_a").as("sub"))),
      Seq("cluster", "sub"))
      .select(col("pkey"), col("vec_id").as("a_id"))
    val bSide = assigned.join(
      broadcast(pairs.select(col("pkey"), col("cell_b").as("cluster"), col("sub_b").as("sub"))),
      Seq("cluster", "sub"))
      .select(col("pkey"), col("vec_id").as("b_id"))
    aSide.join(bSide, "pkey")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  /** Exact cosine verify over pruned candidates — the arrays never
    * ride the candidate shuffle, they re-join by id.
    */
  private def verifyCosine(e: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ea"), col("nrm").as("na")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("eb"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (arrayDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("a_id", "b_id")

  /** Exact pairs with cosine ≥ threshold over an arbitrary
    * (vec_id, embedding) relation.
    */
  def embeddingDedupFor(spark: SparkSession, raw: DataFrame, threshold: Double): DataFrame = {
    // zero-norm vectors have no direction: cosine is undefined, and
    // the division aborts under ANSI (relfuzz finding R3 — a planted
    // all-zero embedding, the realistic failed-encoder output).
    // Excluded from every cosine operator, here and in the oracles.
    val e = raw.select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    verifyCosine(e, embeddingCandidatesFor(spark, e, threshold), threshold)
  }

  /** Value contraction for the embedding corpus (round 14, engine-side
    * mirror of the contracted oracle): one row per distinct embedding
    * — (rep = min vec_id, ids sorted, sz, nrm). Cosine is a pure
    * function of the vector value, so all pairwise work downstream
    * runs over reps; zero-norm vectors (no direction) drop with their
    * whole group, matching the per-vector filter they replace.
    */
  private def vecGroups(spark: SparkSession, dir: String): DataFrame =
    Memo("vecGroups", spark, dir, "embeddings")(vecGroupsBuild(spark, dir))

  private[graft] def vecGroupsBuild(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .groupBy("embedding")
      .agg(min(col("vec_id")).as("rep"),
        sort_array(collect_list(col("vec_id"))).as("ids"),
        count(lit(1)).as("sz"))
      .withColumn("nrm", arrayNorm(col("embedding")))
      .filter(col("nrm") > 0)

  // The verified rep-level pair relation is memoized per (session,
  // corpus, τ): repeated queries pay the k-means cell build once.
  /** Contracted (round 14): the cell-blocked pairwise join runs over
    * DISTINCT embeddings (rep per value), then clone images and
    * C(sz,2) cliques at cos_sim exactly 1.0 expand linearly in the
    * output. Identical vectors verify to s/(√s·√s) = 1 ± 2⁻⁵² and the
    * 6dp round collapses that to the clique literal, so the expansion
    * is bit-equal to the former all-docs join — which spilled to disk
    * exhaustion at the ×100 clone tier (candidates grow ×K² inside
    * each cell when every value repeats K times).
    */
  def embeddingDedup(spark: SparkSession, dir: String, threshold: Double = 0.45): DataFrame = {
    // Contraction precondition (round-15 advice): cliques expand at
    // cos_sim = 1.0 unconditionally — sound only while τ ≤ 1.0.
    require(threshold <= 1.0, s"cosine threshold must be <= 1.0, got $threshold")
    val rp = Memo("cellPairs", spark, dir, "embeddings", threshold)(
      embeddingRepPairsBuild(spark, dir, threshold))
    expandPairs(rp, vecGroups(spark, dir), "cos_sim", lit(1.0)).orderBy("a_id", "b_id")
  }

  private[graft] def embeddingRepPairsBuild(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val reps = vecGroups(spark, dir).select(col("rep").as("vec_id"), col("embedding"), col("nrm"))
    verifyCosine(reps, embeddingCandidatesFor(spark, reps, threshold), threshold)
  }

  /** Contracted (round 14): cosine is a pure function of the embedding
    * VALUE, so the all-pairs join runs over distinct embeddings only
    * (base-tier cost on a clone corpus). Identical vectors expand to
    * cliques at cos_sim 1.0 — safe as a literal because both engines
    * compute s/(√s·√s) = 1 ± 2⁻⁵² and the 6dp round collapses that to
    * exactly 1.0; zero-norm vectors drop with their whole group.
    */
  val embeddingDedupSql: String =
    """WITH g AS (
      |  SELECT embedding, min(vec_id) AS rep, list_sort(list(vec_id)) AS ids,
      |    count(*) AS sz
      |  FROM embeddings GROUP BY embedding
      |), n AS (
      |  -- reps + norms only: the member-id lists must NOT ride the
      |  -- 64-wide lateral below (the r12 carried-list rule — they
      |  -- re-materialize per unnest row); they join back in cross_ex
      |  SELECT rep, embedding,
      |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
      |  FROM g, unnest(generate_series(1, len(embedding))) AS t(i)
      |  GROUP BY rep, embedding
      |  HAVING sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) > 0
      |), rp AS (
      |  SELECT a.rep AS a_rep, b.rep AS b_rep,
      |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
      |      / (any_value(a.nrm) * any_value(b.nrm)) AS cos
      |  FROM n a
      |  JOIN n b ON a.rep < b.rep,
      |  unnest(generate_series(1, len(a.embedding))) AS t(i)
      |  GROUP BY a.rep, b.rep
      |  HAVING sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
      |      / (any_value(a.nrm) * any_value(b.nrm)) >= 0.45
      |), cross_ex AS (
      |  SELECT
      |    unnest(flatten(list_transform(ga.ids, x ->
      |      list_transform(gb.ids, y -> least(x, y))))) AS a_id,
      |    unnest(flatten(list_transform(ga.ids, x ->
      |      list_transform(gb.ids, y -> greatest(x, y))))) AS b_id,
      |    round(cos, 6) AS cos_sim
      |  FROM rp
      |  JOIN g ga ON ga.rep = a_rep
      |  JOIN g gb ON gb.rep = b_rep
      |), cliq AS (
      |  SELECT
      |    unnest(flatten(list_transform(range(1, sz + 1), i ->
      |      list_transform(ids[i+1:sz], x -> ids[i])))) AS a_id,
      |    unnest(flatten(list_transform(range(1, sz + 1), i ->
      |      ids[i+1:sz]))) AS b_id,
      |    CAST(1.0 AS DOUBLE) AS cos_sim
      |  FROM g JOIN n ON n.rep = g.rep
      |  WHERE g.sz >= 2
      |)
      |SELECT a_id, b_id, cos_sim FROM (
      |  SELECT * FROM cross_ex UNION ALL SELECT * FROM cliq
      |)
      |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------------
  // SemDeDup (Abbas et al. 2023): semantic dedup WITHIN k-means
  // clusters — pairwise cosine only inside a cell, duplicate groups
  // via connected components, keep the member farthest from the
  // centroid (the paper's diversity-preserving choice).
  // -------------------------------------------------------------------

  /** Per-vector SemDeDup verdict: (vec_id, cluster, group_id, keep).
    * Singleton (non-duplicate) vectors keep themselves.
    *
    * Scale shape: pairwise work is confined to within-cluster joins
    * keyed on the cluster id (never a corpus cross product — cluster
    * count grows with the corpus so cell population stays bounded; a
    * planted mega-cluster would take the blockPlan sub-split, see
    * embeddingCandidatesFor); group resolution reuses the
    * dedup_groups connected-components machinery; the keep choice is
    * one row_number window over (group, centroid-cosine).
    */
  // The verdict relation is memoized per (session, corpus, τ): repeated
  // queries pay the k-means + CC build once, and read rows instead of
  // re-analyzing its ~10 MB plan (~2 s of driver planning at sf0.1).

  def semanticDedup(spark: SparkSession, dir: String, threshold: Double = 0.45): DataFrame =
    Memo("semanticDedup", spark, dir, "embeddings", threshold)(
      semanticDedupBuild(spark, dir, threshold))

  private[graft] def semanticDedupBuild(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    semanticDedupFor(spark,
      Tables.embeddings(spark, dir).select(
        col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
        .filter(col("nrm") > 0), // no direction — see embeddingDedupFor
      threshold)

  private[graft] def semanticDedupFor(
      spark: SparkSession, raw: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val e = raw.filter(col("nrm") > 0).persist() // see embeddingDedupFor
    val n = e.count()
    // same cell-count rule as blockPlan; production k tracks n so
    // cell population stays ~constant as the corpus grows
    val k = math.max(1, math.min(256, (n / 8).toInt))
    val cents = KMeans.lloyd(spark, e, KMeans.hashSeeds(e, k), iters = 3)
    val assigned = graft.Lineage.cut(KMeans.assign(e, KMeans.centDf(spark, cents)))
    e.unpersist()
    val unitDf = cents.zipWithIndex.map { case (v, i) =>
      val nn = math.sqrt(v.map(x => x * x).sum)
      (i, (if (nn > 0) v.map(_ / nn) else v).map(_.toFloat).toSeq)
    }.toSeq.toDF("cluster", "cvec")
    val withCc = assigned.join(broadcast(unitDf), "cluster")
      .withColumn("ccos", arrayDot(col("embedding"), col("cvec")) / col("nrm"))
    // Contract the within-cell pairwise join by embedding VALUE
    // (round 14): identical vectors land in the same cell with the
    // same cosine to every other vector, so rep pairs plus the
    // implicit clone cliques (internal cosine is exactly 1 ≥ τ; τ = 1
    // exact-dup detection belongs to dedup_exact, not here) reproduce
    // the pair graph, and members inherit their rep's component.
    // K-means and the centroid-cosine stay on the FULL corpus —
    // centroids are multiset means, so contraction there would move
    // them — which keeps cluster, ccos6 and the keep window
    // bit-identical while the formerly clone-quadratic join runs over
    // distinct values only.
    val g = assigned.groupBy("cluster", "embedding")
      .agg(min(col("vec_id")).as("rep"),
        sort_array(collect_list(col("vec_id"))).as("ids"),
        count(lit(1)).as("sz"),
        min(col("nrm")).as("nrm"))
    val ar = g.select(col("cluster"), col("rep").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val br = g.select(col("cluster"), col("rep").as("b_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val repPairs = ar.join(br, "cluster").filter(col("a_id") < col("b_id"))
      .withColumn("cos", arrayDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id")
    val (repLabels, _) = connectedComponentsFor(repPairs)
    val memberLabels = g
      .join(repLabels.select(col("doc_id").as("rep"), col("canonical_id")),
        Seq("rep"), "left")
      .filter(col("canonical_id").isNotNull || col("sz") >= 2)
      .select(explode(col("ids")).as("vec_id"),
        coalesce(col("canonical_id"), col("rep")).as("group_id"))
    val grouped = withCc
      .select(col("vec_id"), col("cluster"), round(col("ccos"), 6).as("ccos6"))
      .join(memberLabels, Seq("vec_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("vec_id")))
    // centroid-cosine rounded BEFORE ranking so the keep choice is
    // FP-order stable; ties break by id
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("ccos6").asc, col("vec_id").asc)
    grouped.withColumn("rk", row_number().over(wg))
      .select(col("vec_id"), col("cluster"), col("group_id"),
        (col("rk") === 1).as("keep"))
      .orderBy("vec_id")
  }
}
