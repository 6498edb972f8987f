package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over relations the warehouse already has: the
  * customer–supplier co-trade graph (orders ⋈ lineitem) and the
  * document near-dup similarity graph. Iterative algorithms follow
  * the repo's loop discipline: node-sized relations, one keyed
  * shuffle per iteration, eager [[graft.Lineage.cut]] lineage cuts
  * (reliable checkpoint when a checkpoint dir is configured,
  * localCheckpoint otherwise) so the per-iteration plan stays O(1)
  * (the BPE/CC lesson), bounded driver state.
  */
object Graph {

  /** Undirected customer↔supplier edges from order lines; node ids
    * disambiguate the two key spaces (customer 2k, supplier 2k+1).
    * One corpus-sized distinct — everything after is edge-sized.
    */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val od = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(od, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    cs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(cs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** PageRank (damping 0.85, 10 fixed iterations) on the undirected
    * customer–supplier trade graph. Per iteration: contributions =
    * ranks ⋈ edges keyed on src (ONE shuffle, edge-partitioned),
    * summed per dst; no dangling mass (undirected ⇒ every node has
    * out-degree). Rank relation is node-sized and lineage-cut per
    * iteration, so iteration N's plan does not contain iterations
    * 1..N-1. Output rank is scaled ×n (mean 1): rank mass per node
    * is Θ(1/n), and a fixed 6dp rounding on raw ranks would lose all
    * signal at production node counts — scaling keeps the rounding
    * magnitude-appropriate (CLAUDE.md).
    *
    * Determinism: contribution sums are FP-order-dependent, but
    * per-node degrees here are ≤ ~10³ and ranks Θ(1/n): relative
    * drift ≤ ~1e-13 over 10 iterations, far inside the 6dp-at-Θ(1)
    * rounding. The DuckDB oracle unrolls the same 10 iterations.
    */
  def pagerank(spark: SparkSession, dir: String,
      iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val (withDeg, ranks0, eParts, n) = pagerankPrep(spark, dir)
    // rank is the loop VARIABLE: its handle deletes each superseded
    // reliable checkpoint as soon as the next one materializes.
    val rankLoop = new graft.Lineage.Loop
    var ranks = rankLoop.cut(ranks0)
    // Cost note (re-measured r18 at sf0.1, 16k nodes / 800k edges):
    // co-partitioning cuts the iteration to one small exchange + two
    // stages; the remaining floor is sequential stage barriers that
    // amortize away at real scale. Per-iteration eager cuts keep the
    // plan O(1) and measured no slower than periodic cuts here.
    //
    // AQE stays ON in the loop (r19 experiment, abandoned): a loop
    // probe (now `GRAFT_CONF=spark.sql.adaptive.enabled=false
    // graft.tools.Profile <sf> <out> pagerank`) measured 0.54 -> 0.45 s/iteration with AQE off, but entry-level
    // runs of the change landed 12-28 s — readings taken as the host
    // degraded ~4x (ambient load 4->9; CLAUDE.md 5x-noise rule), so
    // the regression could not be separated from contention and the
    // change was dropped as unproven. Structural caution against it:
    // the loop inputs are cut LogicalRDDs with no size stats, so
    // static planning gets sort-merge (shuffle+sort of the edge
    // relation per iteration) where AQE's runtime stats broadcast the
    // node-sized rank relation (pagerank#step fingerprint: bhj=1),
    // and an explicit broadcast(ranks) hint is forbidden at scale
    // (unbounded relation — CLAUDE.md bounded-by-construction rule).
    for (_ <- 1 to iters) {
      ranks = rankLoop.cut(rankStep(withDeg, ranks, eParts, n, damping))
    }
    ranks
      .select(
        col("node"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        round(col("rank") * n, 6).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(50)
  }

  /** One un-cut rank iteration — the scale-relevant plan the entry
    * query's per-iteration lineage cuts hide from the committed
    * fingerprint (topK=1;codegen=1). Fingerprinted as pagerank#step
    * via SparkEntry.auditPlans.
    */
  private def rankStep(withDeg: DataFrame, ranks: DataFrame,
      eParts: Int, n: Long, damping: Double): DataFrame =
    withDeg
      .join(ranks, col("src") === col("node"))
      .select(col("dst"), (col("rank") / col("out_deg")).as("contrib"))
      .repartition(eParts, col("dst"))
      .groupBy("dst")
      .agg(sum(col("contrib")).as("in_mass"))
      .select(col("dst").as("node"),
        (lit((1.0 - damping) / n) + lit(damping) * col("in_mass")).as("rank"))

  private[graft] def pagerankIterationBuild(spark: SparkSession, dir: String,
      damping: Double = 0.85): DataFrame = {
    val (withDeg, ranks0, eParts, n) = pagerankPrep(spark, dir)
    rankStep(withDeg, ranks0, eParts, n, damping)
  }

  /** Eager loop prep: the cut edge⋈degree relation, the initial rank
    * relation (UN-cut), the size-derived loop partition count, and
    * the node count.
    */
  private def pagerankPrep(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, Int, Long) = {
    val edges = tradeEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // iteration relations are EDGE/NODE-sized, not corpus-sized: lay
    // them out on size-derived partition counts before the loop so 10
    // iterations pay graph-proportional scheduling, not corpus-width
    // (the CC/BPE loop lesson; ~500k edges per partition)
    val withDeg0 = edges.join(deg, "src").persist()
    // ONE action materializes the persist and reads both loop
    // constants (the former separate deg.count() re-ran the whole
    // corpus scan + join + distinct — deg's lineage — per call)
    val cnts = withDeg0.agg(
      count(lit(1)).as("ne"), countDistinct(col("src")).as("nn")).collect()(0)
    val nEdges = cnts.getLong(0)
    val n = cnts.getLong(1) // every node appears as a src (undirected)
    val eParts = math.max(1L, math.min(nEdges / 500000L + 1L,
      spark.sparkContext.defaultParallelism.toLong)).toInt
    // Hash-repartition (not coalesce) the loop relations to the
    // size-derived eParts: the in-loop repartition(eParts, dst) lands
    // the aggregate directly on its required distribution (no second
    // exchange after the agg). NOTE measured r18: a localCheckpoint
    // LogicalRDD does NOT carry outputPartitioning in Spark 4.1, so
    // the join still exchanges its (tiny, AQE-local) inputs per
    // iteration — the probe showed per-iteration cuts beat both
    // every-3 and uncut-chain cadences (0.55 s vs ~0.64/1.1 s), so the
    // remaining floor is AQE stage rounds, which amortize at scale.
    // withDeg is loop-INVARIANT (read by every iteration): plain cut,
    // never routed through the rank loop handle below
    val withDeg = withDeg0.repartition(eParts, col("src"))
      .transform(graft.Lineage.cut)
    withDeg0.unpersist()
    // Initial ranks derive from the CUT edge relation — the former
    // deg.select(...) lineage replayed the whole corpus scan + join +
    // distinct for the init action (measured 3.2 s cold / ~1 s warm at
    // sf0.1; from withDeg it is 0.5 s).
    val ranks0 = withDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0 / n).as("rank"))
    (withDeg, ranks0, eParts, n)
  }

  /** Oracle: the same 10 iterations unrolled as chained CTEs. Every
    * stage is MATERIALIZED (round 14): each r_i is referenced once, so
    * DuckDB's default would INLINE the whole chain into one ten-level
    * nested join — the plan that blew a 56 GB cap at the ×10 tier.
    * Materialized, each iteration is one edge-sized hash join + agg
    * and the oracle is linear in the corpus, so the scaled gates can
    * content-check pagerank instead of skipping it.
    */
  val pagerankSql: String = {
    val base =
      """edges AS MATERIALIZED (
        |  SELECT c, s FROM (
        |    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  )
        |), e AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM edges
        |  UNION ALL
        |  SELECT s AS src, c AS dst FROM edges
        |), deg AS MATERIALIZED (
        |  SELECT src, count(*) AS out_deg FROM e GROUP BY src
        |), nn AS MATERIALIZED (
        |  SELECT count(*) AS n FROM deg
        |), r0 AS MATERIALIZED (
        |  -- CAST: a bare 1.0 literal is DECIMAL in DuckDB and decimal
        |  -- division would diverge from Spark's double arithmetic
        |  SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS rank
        |  FROM deg CROSS JOIN nn
        |)""".stripMargin
    val iter = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    CAST(0.15 AS DOUBLE) / nn.n
         |      + CAST(0.85 AS DOUBLE) * sum(r${i - 1}.rank / deg.out_deg) AS rank
         |  FROM e
         |  JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  JOIN deg ON deg.src = e.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$iter
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS entity_key,
       |  round(rank * nn.n, 6) AS rank_scaled
       |FROM r10 CROSS JOIN nn
       |ORDER BY rank_scaled DESC, node
       |LIMIT 50""".stripMargin
  }

  /** Triangle census of the document near-dup graph (word-3-gram
    * Jaccard ≥ 0.8 pairs): node/edge/triangle counts and the global
    * clustering coefficient — the graph-shape audit run on any
    * similarity graph before using it for clustering.
    *
    * Scale (round 14, engine-side contraction): the census runs in
    * CLOSED FORM over the text-contracted rep graph. The expanded
    * similarity graph is a blow-up of the rep graph H (each distinct
    * text an internal sz-clique, each rep edge a complete bipartite
    * sz_a×sz_b join), so every count is an exact polynomial in the
    * group sizes — the same algebra the contracted DuckDB oracle uses
    * (validated against ScaleInvariants' uniform-clone special case).
    * The former formulation wedge-joined the EXPANDED pair set: its
    * two-step join grows ×K³ in the clone factor and exhausted spill
    * disk at the ×100 tier. Here the only pairwise work is the a<b<c
    * two-step join over H — base-tier cost at any clone factor; on a
    * unique-text corpus H IS the doc graph and this is the original
    * census. Counts are exact longs; the coefficient is one rational
    * division at the end.
    */
  def triangleCount(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val gsz = Dedup.textGroups(spark, dir)
      .select(col("rep"), col("sz").cast("long").as("sz"))
    val rp = Dedup.repPairsFor(spark, dir, threshold)
      .select(col("a_id").as("a_rep"), col("b_id").as("b_rep"))
    // per-rep expanded degree: (sz − 1) internal + Σ neighbor sizes
    val nbr = rp.join(gsz.select(col("rep").as("b_rep"), col("sz").as("nsz")), "b_rep")
        .select(col("a_rep").as("rep"), col("nsz"))
      .unionByName(
        rp.join(gsz.select(col("rep").as("a_rep"), col("sz").as("nsz")), "a_rep")
          .select(col("b_rep").as("rep"), col("nsz")))
      .groupBy("rep").agg(sum(col("nsz")).as("nsum"))
    // a group participates iff it has an internal pair (sz ≥ 2) or a
    // cross-content edge — exactly the nodes of the expanded graph
    val parts = gsz.join(nbr, Seq("rep"), "left")
      .filter(col("sz") >= 2 || col("nsum").isNotNull)
      .select(col("sz"),
        (coalesce(col("nsum"), lit(0L)) + col("sz") - lit(1L)).as("ddeg"))
    // integer `div`: n(n−1) and n(n−1)(n−2) are divisible by 2 and 6,
    // so the division is exact; double division would lose bits past
    // 2^53 long before a real corpus stops fitting
    val aAgg = parts.agg(
      coalesce(sum(col("sz")), lit(0L)).as("n_nodes"),
      coalesce(sum(expr("sz * (sz - 1) div 2")), lit(0L)).as("e_int"),
      coalesce(sum(expr("sz * (sz - 1) * (sz - 2) div 6")), lit(0L)).as("t_int"),
      coalesce(sum(expr("sz * (ddeg * (ddeg - 1) div 2)")), lit(0L)).as("n_wedges"))
    val bAgg = rp
      .join(gsz.select(col("rep").as("a_rep"), col("sz").as("sa")), "a_rep")
      .join(gsz.select(col("rep").as("b_rep"), col("sz").as("sb")), "b_rep")
      .agg(
        coalesce(sum(col("sa") * col("sb")), lit(0L)).as("e_cross"),
        coalesce(sum(expr("sa * (sa - 1) div 2 * sb + sa * (sb * (sb - 1) div 2)")),
          lit(0L)).as("t_2g"))
    // rep triangles: the classic a<b<c ordered two-step join over H,
    // weighted by the clone-count product
    val tAgg = rp.as("e1")
      .join(rp.as("e2"), col("e1.b_rep") === col("e2.a_rep"))
      .join(rp.as("e3"),
        col("e1.a_rep") === col("e3.a_rep") && col("e2.b_rep") === col("e3.b_rep"))
      .join(gsz.select(col("rep").as("r1"), col("sz").as("s1")),
        col("e1.a_rep") === col("r1"))
      .join(gsz.select(col("rep").as("r2"), col("sz").as("s2")),
        col("e1.b_rep") === col("r2"))
      .join(gsz.select(col("rep").as("r3"), col("sz").as("s3")),
        col("e2.b_rep") === col("r3"))
      .agg(coalesce(sum(col("s1") * col("s2") * col("s3")), lit(0L)).as("t_3g"))
    // ONE action for all three independent 1-row census aggregates
    // (r18): crossJoin of 1-row relations lets the scheduler overlap
    // their stages in a single job instead of three sequential
    // collect() round-trips (guide §2.6)
    val a = aAgg.crossJoin(bAgg).crossJoin(tAgg).collect()(0)
    val nNodes = a.getLong(0)
    val nEdges = a.getLong(1) + a.getLong(4)
    val tri = a.getLong(2) + a.getLong(5) + a.getLong(6)
    val nWedges = a.getLong(3)
    import spark.implicits._
    Seq((nNodes, nEdges, tri, nWedges,
      if (nWedges > 0) BigDecimal(3.0 * tri / nWedges)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0))
      .toDF("n_nodes", "n_edges", "n_triangles", "n_wedges", "clustering")
  }

  /** Contracted census oracle (round 14): contracting identical texts
    * into groups of size s makes the similarity graph a blow-up of the
    * rep graph H (each group an internal s-clique — identical texts
    * are J=1 pairs — and each rep edge a complete bipartite s_a×s_b
    * join), so the census is exact in closed form from H alone:
    *
    *   nodes      Σ s_g                    over participating groups
    *   edges      Σ C(s_g,2) + Σ_{(g,h)∈H} s_g·s_h
    *   triangles  Σ C(s_g,3) + Σ_{(g,h)∈H} [C(s_g,2)s_h + s_g C(s_h,2)]
    *              + Σ_{H-triangles} s_g·s_h·s_k
    *   wedges     Σ s_g·C(d_g,2), d_g = (s_g−1) + Σ_{h~g} s_h
    *
    * (a group participates iff s_g ≥ 2 or it has a rep edge; the
    * formulas were validated against the uniform-clone special case in
    * ScaleInvariants.triangleCount). Triangle enumeration runs on H —
    * base-tier cost at any clone factor — instead of wedge-joining the
    * full pair set, which is what blew past memory at ×10. On a
    * unique-text corpus every s_g = 1 and this is the original census.
    */
  val triangleCountSql: String = {
    val kernel = Dedup.contractedJaccardKernelForOracles(0.8)
    s"""WITH
       |$kernel,
       |nbr AS (
       |  SELECT rep, count(*) AS rdeg, CAST(sum(nsz) AS BIGINT) AS nsum FROM (
       |    SELECT a_rep AS rep, tb.sz AS nsz FROM rsim JOIN t tb ON tb.rep = b_rep
       |    UNION ALL
       |    SELECT b_rep, ta.sz FROM rsim JOIN t ta ON ta.rep = a_rep
       |  ) GROUP BY rep
       |), parts AS (
       |  SELECT t.sz, coalesce(nbr.nsum, 0) + t.sz - 1 AS ddeg
       |  FROM t LEFT JOIN nbr ON nbr.rep = t.rep
       |  WHERE t.sz >= 2 OR nbr.rep IS NOT NULL
       |), agg AS (
       |  SELECT
       |    CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
       |    CAST(coalesce(sum(sz * (sz - 1) // 2), 0) AS BIGINT) AS e_int,
       |    CAST(coalesce(sum(sz * (sz - 1) * (sz - 2) // 6), 0) AS BIGINT) AS t_int,
       |    CAST(coalesce(sum(sz * (ddeg * (ddeg - 1) // 2)), 0) AS BIGINT) AS n_wedges
       |  FROM parts
       |), eagg AS (
       |  SELECT
       |    CAST(coalesce(sum(ta.sz * tb.sz), 0) AS BIGINT) AS e_cross,
       |    CAST(coalesce(sum(ta.sz * (ta.sz - 1) // 2 * tb.sz
       |      + ta.sz * (tb.sz * (tb.sz - 1) // 2)), 0) AS BIGINT) AS t_2g
       |  FROM rsim JOIN t ta ON ta.rep = a_rep JOIN t tb ON tb.rep = b_rep
       |), tagg AS (
       |  SELECT CAST(coalesce(sum(t1.sz * t2.sz * t3.sz), 0) AS BIGINT) AS t_3g
       |  FROM rsim e1
       |  JOIN rsim e2 ON e1.b_rep = e2.a_rep
       |  JOIN rsim e3 ON e1.a_rep = e3.a_rep AND e2.b_rep = e3.b_rep
       |  JOIN t t1 ON t1.rep = e1.a_rep
       |  JOIN t t2 ON t2.rep = e1.b_rep
       |  JOIN t t3 ON t3.rep = e2.b_rep
       |)
       |SELECT
       |  agg.n_nodes,
       |  agg.e_int + eagg.e_cross AS n_edges,
       |  agg.t_int + eagg.t_2g + tagg.t_3g AS n_triangles,
       |  agg.n_wedges,
       |  CASE WHEN agg.n_wedges > 0
       |    THEN round(3.0 * (agg.t_int + eagg.t_2g + tagg.t_3g) / agg.n_wedges, 6)
       |    ELSE 0.0 END AS clustering
       |FROM agg CROSS JOIN eagg CROSS JOIN tagg""".stripMargin
  }
}
