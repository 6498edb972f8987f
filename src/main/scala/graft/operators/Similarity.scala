package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{arrayDot, arrayNorm}
import graft.sources.Tables

/** Similarity search over `embeddings` (SURVEY.md §2.5).
  *
  * Scale shape: queries are the small side — always broadcast; the
  * corpus is scanned once, narrow, with the dot product evaluated as
  * a native array-lambda expression inside codegen (no UDF, no
  * deserialization to Scala objects). Top-k goes through a
  * per-query window after a pre-filter, so the shuffle carries only
  * (query, candidate, score) triples.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = arrayDot(a, b)

  /** Exact top-5 cosine neighbors for the query set (vec_id < 10):
    * broadcast queries × single corpus scan, window top-k. The dot
    * product is graft's native codegen ArrayDotProduct expression.
    */
  def knnBrute(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
      // zero-norm vectors have no direction: cosine undefined, ANSI
      // division aborts (relfuzz R3) — excluded as query AND corpus,
      // mirrored in the oracle
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(round(col("cos"), 6).desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos_sim"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Contracted oracle (round 14): cosine is a pure function of the
    * embedding VALUE, so each query scores distinct embeddings once
    * (base-tier cost on a clone corpus) instead of every corpus row.
    * Only groups that can reach the top-5 are expanded back to member
    * ids: a group qualifies iff the member count in strictly-better
    * 6dp-cosine levels is < 6 (6, not 5 — the query itself may sit in
    * a qualifying group and is excluded at expansion). Ties at the
    * boundary level are all kept, so the exact (cos6 DESC, n_id)
    * ranking below sees every candidate the full scan would.
    */
  val knnBruteSql: String =
    """WITH g AS (
      |  SELECT embedding, min(vec_id) AS rep, list_sort(list(vec_id)) AS ids,
      |    count(*) AS sz
      |  FROM embeddings GROUP BY embedding
      |), n AS (
      |  SELECT rep, embedding,
      |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
      |  FROM g, unnest(generate_series(1, len(embedding))) AS t(i)
      |  GROUP BY rep, embedding
      |  HAVING sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) > 0
      |), q AS (
      |  SELECT vec_id AS q_id, embedding,
      |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |  WHERE vec_id < 10
      |  GROUP BY vec_id, embedding
      |  HAVING sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) > 0
      |), scored AS (
      |  -- reps + cosines only: member-id lists must not ride the
      |  -- 64-wide lateral (r12 carried-list rule); they join back in
      |  -- cand, where only the ~6 qualifying groups per query remain
      |  SELECT q.q_id, c.rep,
      |    round(sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
      |      / (any_value(q.nrm) * any_value(c.nrm)), 6) AS cos6
      |  FROM q
      |  JOIN n c ON true,
      |  unnest(generate_series(1, len(q.embedding))) AS t(i)
      |  GROUP BY q.q_id, c.rep
      |), lvl AS (
      |  SELECT q_id, cos6, sum(g.sz) AS lsz
      |  FROM scored JOIN g ON g.rep = scored.rep
      |  GROUP BY q_id, cos6
      |), keep AS (
      |  SELECT q_id, cos6 FROM (
      |    SELECT q_id, cos6,
      |      coalesce(sum(lsz) OVER (PARTITION BY q_id ORDER BY cos6 DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS better
      |    FROM lvl
      |  ) WHERE better < 6
      |), cand AS (
      |  SELECT s.q_id, u.n_id, s.cos6
      |  FROM scored s
      |  JOIN keep k ON k.q_id = s.q_id AND k.cos6 = s.cos6
      |  JOIN g ON g.rep = s.rep,
      |  unnest(g.ids) AS u(n_id)
      |), ranked AS (
      |  SELECT q_id, n_id, cos6 AS cos_sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rnk
      |  FROM cand WHERE n_id <> q_id
      |)
      |SELECT q_id, n_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  /** Norm / stats audit per label partition. */
  def vecNorms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), arrayNorm(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg(col("nrm")), 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))
      .orderBy("label")

  val vecNormsSql: String =
    """WITH n AS (
      |  SELECT vec_id, label,
      |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |  GROUP BY vec_id, label
      |)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(nrm), 4) AS avg_norm,
      |  round(min(nrm), 4) AS min_norm,
      |  round(max(nrm), 4) AS max_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** IVF approximate kNN: seeded Lloyd k-means (aggregations only, a
    * few tiny driver collects of the K×64 centroid table), then
    * nprobe-limited search — the corpus scan only scores vectors in
    * the probed partitions. Same output shape as knnBrute; recall vs
    * brute is asserted in the spec.
    *
    * Recall caveats: (1) the synthetic embeddings are near-uniform on
    * the sphere, the hardest case for IVF — nearest neighbors spread
    * across Voronoi cells, so recall@5 sits around 0.3–0.5 regardless
    * of nprobe; on genuinely clustered embeddings (the production
    * case) recall rises sharply. (2) centroid means are parallel FP
    * sums, so repeated builds can differ in the last ulp and flip
    * borderline assignments — inherent to distributed k-means and
    * harmless for an approximate index.
    */
  def knnIvf(
      spark: SparkSession,
      dir: String,
      numClusters: Int = 8,
      lloydIters: Int = 3,
      nprobe: Int = 2,
      k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // no direction — see knnBrute
      .cache()
    try {
      // Centroids travel as a broadcast RELATION, not as expression
      // literals: the plan is O(1) in K (the old K-struct-literal
      // expression tree blew up codegen at production K ≈ √n). The
      // Lloyd collects are O(K·dim), bounded regardless of corpus
      // size. See KMeans for the assignment shape. Centroids are pure
      // data from deterministic seeds — memoized per (dir, params)
      // like the PQ codebooks (r18), so repeated queries skip the
      // seed collect + Lloyd action chain.
      val centroids = ivfCentCache.computeIfAbsent(
        s"${Tables.contentKey(spark, dir, "embeddings")}|$numClusters|$lloydIters", _ => {
          val n = e.count()
          // deterministic seeding: evenly-strided vec_ids
          val stride = math.max(1L, n / numClusters)
          val seeds: Array[Seq[Double]] = e
            .filter(col("vec_id") % stride === 0).orderBy("vec_id").limit(numClusters)
            .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).collect()
            .map(_.getSeq[Double](0))
          KMeans.lloyd(spark, e, seeds, lloydIters)
        })
      val index = KMeans.assign(e, KMeans.centDf(spark, centroids))
      // nprobe nearest clusters per query, via the same broadcast
      // centroid relation: per-(query, cluster) distance → window
      // top-nprobe. The query set is small; the window is per-query.
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("d"), col("cluster"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
        .crossJoin(broadcast(KMeans.centDf(spark, centroids)))
        .withColumn("d",
          col("qn") * col("qn") - lit(2.0) * arrayDot(col("qe"), col("cent")) + col("cnorm2"))
        .withColumn("prnk", row_number().over(wProbe))
        .filter(col("prnk") <= nprobe)
        .select(col("q_id"), col("qe"), col("qn"), col("cluster"))
      val scored = index.join(broadcast(q), Seq("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy(col("q_id")).orderBy(round(col("cos"), 6).desc, col("n_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos_sim"), col("rnk"))
        .orderBy("q_id", "rnk")
    } finally e.unpersist()
  }

  /** Int8 scalar-quantization audit: per vector, symmetric per-vector
    * quantization (scale = max|x| / 127, q_i = round(x_i / scale)),
    * reporting the scale, an order-sensitive integer checksum of the
    * code vector, and the squared reconstruction error. This is the
    * 4×-compression step an ANN index applies before sharding — the
    * audit is what tells you the quantizer is safe for a corpus.
    *
    * Scale: pure per-row array-lambda arithmetic — zero shuffle,
    * whole-stage codegen; at 100 TB this runs at scan speed. The
    * checksum folds position-weighted codes so the oracle compares
    * the exact code VECTOR, not just a summary; the SSE fold runs
    * strictly left-to-right in both engines, so the doubles are
    * bit-identical and survive any rounding.
    */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    vecQuantizeFor(Tables.embeddings(spark, dir))

  private[graft] def vecQuantizeFor(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
      // greatest(·, 1e-300): an all-zero embedding would make scale 0
      // and the division NaN (and the ANSI BIGINT cast throw); the
      // floor maps it to code 0 / sse 0, mirrored in the oracle, and
      // is a no-op for any nonzero vector
      .withColumn("scale",
        expr("greatest(array_max(transform(e, x -> abs(CAST(x AS DOUBLE)))) / 127, 1e-300)"))
      .select(
        col("vec_id"), col("label"),
        round(col("scale"), 8).as("scale8"),
        expr("""aggregate(sequence(1, size(e)), 0L,
                 (a, i) -> a + i * CAST(round(CAST(element_at(e, i) AS DOUBLE) / scale) AS BIGINT))""")
          .as("q_checksum"),
        // squared via multiplication, not pow(): Math.pow and C pow may
        // differ in the last ulp for identical inputs; x*x is exact IEEE
        round(expr("""aggregate(transform(e, x -> CAST(x AS DOUBLE)
                   - round(CAST(x AS DOUBLE) / scale) * scale),
                 CAST(0.0 AS DOUBLE), (a, d) -> a + d * d)"""), 10)
          .as("sse10"))
      .orderBy("vec_id")

  /** Per-label centroid audit: element-wise mean vector, its norm,
    * and the label's inertia (mean squared distance to its centroid)
    * — the cluster-quality report for a labeled embedding corpus.
    *
    * Scale: one posexplode shuffle keyed (label, pos) for the means
    * (K×dim groups), one (label, pos) equi-join back for distances —
    * never a vector×vector product. Centroids are rounded 6dp BEFORE
    * the distance pass on both engines, so the distance inputs are
    * identical and the final rounding is safe against accumulation-
    * order drift.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val cent = e.groupBy("label", "pos")
      .agg(round(avg(col("v")), 6).as("c"))
    val d2 = e.join(cent, Seq("label", "pos"))
      .groupBy("label", "vec_id")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
    val norms = cent.groupBy("label")
      .agg(sqrt(sum(col("c") * col("c"))).as("centroid_norm"))
    d2.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("d2")), 6).as("inertia"))
      .join(norms, "label")
      .select(col("label"), col("n_vecs"), round(col("centroid_norm"), 6).as("centroid_norm"),
        col("inertia"))
      .orderBy("label")
  }

  val labelCentroidsSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |), cent AS (
      |  SELECT label, pos, round(avg(v), 6) AS c FROM e GROUP BY label, pos
      |), d2 AS (
      |  SELECT e.label, e.vec_id, sum((e.v - cent.c) * (e.v - cent.c)) AS d2
      |  FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
      |  GROUP BY e.label, e.vec_id
      |), norms AS (
      |  SELECT label, sqrt(sum(c * c)) AS centroid_norm FROM cent GROUP BY label
      |)
      |SELECT d2.label, count(*) AS n_vecs,
      |  round(any_value(norms.centroid_norm), 6) AS centroid_norm,
      |  round(avg(d2.d2), 6) AS inertia
      |FROM d2 JOIN norms ON d2.label = norms.label
      |GROUP BY d2.label ORDER BY d2.label""".stripMargin

  /** Product quantization (PQ): the embedding splits into m=4
    * subvectors, each assigned to its nearest of 16 per-subspace
    * codebook centroids — 64 floats compress to 4 code ids (4×4
    * bits), the layout an ADC (asymmetric-distance) ANN scan reads.
    * Output per vector: the positional base-17 encoding of the code
    * tuple (exactly invertible) and the reconstruction SSE.
    *
    * Scale shape: codebooks train per subspace via the shared
    * broadcast-centroid Lloyd (driver state = m × 16 × 16 doubles);
    * assignment is ONE broadcast join keyed on the subspace id whose
    * 16-fold blowup collapses map-side through the partial
    * min(struct) argmin — the corpus never shuffles by vector. At
    * query time the codebook becomes a per-query 4×16 lookup table
    * and scoring is pure scan-side arithmetic (measured in the spec
    * as ADC recall against the exact search).
    */
  // Result memoized per (session, corpus, params) (r18): the digest
  // companion re-ran the assignment join + argmin per invocation.
  def pqQuantize(spark: SparkSession, dir: String,
      m: Int = 4, ksub: Int = 16, iters: Int = 3): DataFrame =
    graft.Memo("pqQuantize", spark, dir, "embeddings", m, ksub, iters)(
      pqQuantizeBuild(spark, dir, m, ksub, iters))

  /** Un-memoized, un-cut build — exposed for the plan audit
    * (SparkEntry.auditPlans; the entry's memo + cut collapse its
    * committed fingerprint to a single LogicalRDD, r18 ADVICE).
    */
  private[graft] def pqQuantizeBuild(spark: SparkSession, dir: String,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    val (e, _, assigned) = pqParts(spark, dir, m, ksub, iters)
    assigned.groupBy("vec_id")
      .agg(
        sum(col("code").cast("long") *
          pow(lit((ksub + 1).toDouble), col("sub")).cast("long")).as("pq_code"),
        round(sum(col("sq")), 8).as("sse8"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("pq_code"), col("sse8"))
      .orderBy("vec_id")
  }

  private val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Seq[Double]]]]()

  /** The PQ internals — (embeddings, codebook (sub, cluster, cent,
    * cnorm2), assignment (vec_id, sub, code, sq)) — exposed for the
    * ADC-recall spec.
    */
  private[graft] def pqParts(spark: SparkSession, dir: String,
      m: Int, ksub: Int, iters: Int): (DataFrame, DataFrame, DataFrame) =
    pqPartsFor(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label"), col("embedding")),
      m, ksub, iters, memoKey = Some(Tables.contentKey(spark, dir, "embeddings")))

  private[graft] def pqPartsFor(spark: SparkSession, e: DataFrame,
      m: Int, ksub: Int, iters: Int,
      memoKey: Option[String]): (DataFrame, DataFrame, DataFrame) = {
    val subs = e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), mm -> slice(embedding, mm * (size(embedding) div $m) + 1, size(embedding) div $m))"))
        .as(Seq("sub", "sv")))
      .withColumn("snrm", arrayNorm(col("sv")))
      // cache() dedupes by analyzed plan, so repeated calls on the
      // same dir share ONE cache entry (m × n tiny subvector rows)
      .cache()
    // Codebooks train on a deterministic 25% content-hash sample —
    // standard PQ practice (codebooks need ~1e5-1e6 points, not the
    // corpus), and it keeps the m × iters Lloyd jobs off corpus-width
    // partitioning: the sample is coalesced to its own size, so each
    // tiny iteration job doesn't pay full-scan task scheduling.
    // Only the single assignment pass below touches every vector.
    val sample = subs
      .filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
      .coalesce(4).cache()
    // Codebook centroids are pure data — memoized per (dir, params)
    // like the supervised HMM model: train once per process, not once
    // per query invocation.
    def train(): Array[Array[Seq[Double]]] =
      (0 until m).map { mm =>
        val se = sample.filter(col("sub") === mm)
          .select(col("vec_id"), col("sv").as("embedding"), col("snrm").as("nrm"))
        KMeans.lloyd(spark, se, KMeans.hashSeeds(se, ksub), iters)
      }.toArray
    val cents = memoKey match {
      case Some(key) => pqBookCache.computeIfAbsent(s"$key|$m|$ksub|$iters", _ => train())
      case None      => train()
    }
    val codebook = (0 until m).map { mm =>
      KMeans.centDf(spark, cents(mm)).withColumn("sub", lit(mm))
    }.reduce(_ unionByName _)
    val assigned = subs.join(broadcast(codebook), "sub")
      .withColumn("d", col("snrm") * col("snrm") -
        lit(2.0) * arrayDot(col("sv"), col("cent")) + col("cnorm2"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.cluster").as("code"),
        greatest(col("best.d"), lit(0.0)).as("sq"))
    (e, codebook, assigned)
  }

  /** PQ/ADC k-nearest-neighbor search: the query set scores the
    * WHOLE corpus from 4-byte codes alone. Per query the codebook
    * collapses to a (sub, code) → partial-distance lookup table
    * (|queries| × 64 rows — broadcast); the corpus side joins it on
    * its codes, so the scan carries code ids, never vectors, and the
    * shuffle carries only (query, candidate, partial) triples that
    * collapse map-side. This is the memory-bound regime IVF/brute
    * can't reach: at 100 TB of vectors the ADC scan reads 4 bytes
    * per vector instead of 256.
    *
    * Approximate by construction (measured against exact search in
    * the spec); rank ties break by candidate id.
    */
  def knnPq(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (e, codebook, assigned) = pqParts(spark, dir, m = 4, ksub = 16, iters = 3)
    knnPqFrom(e, codebook, assigned, m = 4, k = k)
  }

  private[graft] def knnPqFrom(e: DataFrame, codebook: DataFrame,
      assigned: DataFrame, m: Int, k: Int): DataFrame = {
    // per-query subvectors (queries are the small side, as in knnBrute)
    val qsubs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), mm -> slice(embedding, mm * (size(embedding) div $m) + 1, size(embedding) div $m))"))
        .as(Seq("sub", "qv")))
    // LUT: ||q_sub − cent||² per (q_id, sub, code)
    val lut = qsubs.join(broadcast(codebook), "sub")
      .select(col("q_id"), col("sub"), col("cluster").as("code"),
        (arrayNorm(col("qv")) * arrayNorm(col("qv")) -
          lit(2.0) * arrayDot(col("qv"), col("cent")) + col("cnorm2")).as("pd"))
    val scored = assigned.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("pd")).as("adc_d"))
    val w = Window.partitionBy(col("q_id")).orderBy(round(col("adc_d"), 6).asc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(col("adc_d"), 6).as("adc_d"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** IVF-PQ (the FAISS-style trillion-scale ANN composition): coarse
    * k-means cells bound the search to nprobe cells per query, and
    * within them candidates are scored by ADC over RESIDUAL PQ codes
    * (vector − its coarse centroid, quantized — residuals are what
    * make 4-bit-per-subspace codes usable, since the coarse cell
    * already explains most of the vector).
    *
    * Scale shape: coarse centroids and the residual codebook are
    * broadcast relations; the per-query LUT is |queries| × nprobe ×
    * 64 rows (broadcast); the corpus side touches only its probed
    * cells and joins on (cell, sub, code) — the scan side carries
    * cell id + 4 code bytes per vector, never the vectors.
    */
  def knnIvfPq(spark: SparkSession, dir: String,
      kCoarse: Int = 8, nprobe: Int = 2, k: Int = 5): DataFrame =
    knnIvfPqFor(spark,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm")),
      kCoarse, nprobe, k, memoKey = Some(Tables.contentKey(spark, dir, "embeddings")))

  private[graft] def knnIvfPqFor(spark: SparkSession, e: DataFrame,
      kCoarse: Int, nprobe: Int, k: Int, memoKey: Option[String]): DataFrame = {
    val (centDf, codebook, codesWithCell) = ivfPqIndexRelations(spark, e, kCoarse, memoKey)
    ivfPqProbe(e, centDf, codebook, codesWithCell, nprobe, k)
  }

  /** The three relations that ARE an IVF-PQ index — coarse centroids
    * (cluster, cent, cnorm2), residual codebook (sub, cluster, cent,
    * cnorm2) and the coded corpus (vec_id, cell, sub, code) — split
    * out so [[annIndexPersist]] can round-trip them through parquet
    * and probe the read-back copies.
    */
  private[graft] def ivfPqIndexRelations(spark: SparkSession, e: DataFrame,
      kCoarse: Int, memoKey: Option[String]): (DataFrame, DataFrame, DataFrame) = {
    def trainCoarse() = KMeans.lloyd(spark, e, KMeans.hashSeeds(e, kCoarse), iters = 3)
    val cents = memoKey match {
      case Some(key) => ivfPqCoarseCache.computeIfAbsent(s"$key|$kCoarse", _ => trainCoarse())
      case None      => trainCoarse()
    }
    val centDf = KMeans.centDf(spark, cents)
    val assigned = KMeans.assign(e, centDf)
    // residual relation: vector minus its coarse centroid
    val resid = assigned.join(broadcast(centDf), "cluster")
      .select(col("vec_id"), col("cluster").as("cell"),
        zip_with(col("embedding"), col("cent"), (a, b) => (a - b).cast("float")).as("embedding"))
    val (_, codebook, codes) = pqPartsFor(spark,
      resid.select(col("vec_id"), col("embedding")),
      m = 4, ksub = 16, iters = 3, memoKey = memoKey.map(key => s"$key|ivfres$kCoarse"))
    val codesWithCell = codes.join(resid.select(col("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("sub"), col("code"))
    (centDf, codebook, codesWithCell)
  }

  /** The query side of IVF-PQ, expressed over the index RELATIONS
    * (from training or read back from parquet): nprobe nearest cells
    * per query, a per-(query, cell) residual LUT, ADC scoring over the
    * coded corpus confined to probed cells.
    */
  private[graft] def ivfPqProbe(e: DataFrame, centDf: DataFrame, codebook: DataFrame,
      codesWithCell: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("d"), col("cluster"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      .crossJoin(broadcast(centDf))
      .withColumn("d",
        col("qn") * col("qn") - lit(2.0) * arrayDot(col("qe"), col("cent")) + col("cnorm2"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nprobe)
      .select(col("q_id"), col("cluster").as("cell"),
        zip_with(col("qe"), col("cent"), (a, b) => (a - b).cast("float")).as("qres"))
    val qsubs = probes.select(col("q_id"), col("cell"), posexplode(expr(
        "transform(sequence(0, 3), mm -> slice(qres, mm * (size(qres) div 4) + 1, size(qres) div 4))"))
        .as(Seq("sub", "qv")))
    val lut = qsubs.join(broadcast(codebook), "sub")
      .select(col("q_id"), col("cell"), col("sub"), col("cluster").as("code"),
        (arrayNorm(col("qv")) * arrayNorm(col("qv")) -
          lit(2.0) * arrayDot(col("qv"), col("cent")) + col("cnorm2")).as("pd"))
    val scored = codesWithCell.join(broadcast(lut), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("pd")).as("adc_d"), count(lit(1)).as("nsub"))
      .filter(col("nsub") === 4) // all four subspaces matched in a probed cell
    val w = Window.partitionBy(col("q_id")).orderBy(round(col("adc_d"), 6).asc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(col("adc_d"), 6).as("adc_d"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** `ann_index_persist`: the IVF-PQ index as a PERSISTED artifact —
    * build once, write the three index relations to parquet, read
    * them BACK, and answer the probe from the read-back copies alone
    * (the corpus vectors are never re-read at query time). This is
    * the 100 TB ANN deployment shape — the index artifact (centroids
    * ~KB, codebook ~KB, 4-byte codes per vector) is what ships to the
    * serving fleet, mirroring sketch_hll_cube's "sketch once, roll up
    * forever" artifact discipline. Parquet round-trips float arrays
    * and integer codes losslessly, so the probe output is bit-equal
    * to the inline [[knnIvfPq]] — proven by AnnIndexSpec and pinned
    * like the rest of the deterministic ANN family.
    */
  def annIndexPersist(spark: SparkSession, dir: String,
      kCoarse: Int = 8, nprobe: Int = 2, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val (centDf, codebook, codesWithCell) =
      ivfPqIndexRelations(spark, e, kCoarse, memoKey = Some(Tables.contentKey(spark, dir, "embeddings")))
    // scratch path keyed by (corpus dir, SESSION, pid) and reused
    // across calls — the Sketches.hllCube discipline (no orphan dir
    // per invocation, no cross-session overwrite-then-read race)
    val idxDir = annIndexScratchDir(spark, dir)
    centDf.write.mode("overwrite").parquet(s"$idxDir/coarse.parquet")
    codebook.write.mode("overwrite").parquet(s"$idxDir/codebook.parquet")
    codesWithCell.write.mode("overwrite").parquet(s"$idxDir/codes.parquet")
    ivfPqProbe(e,
      spark.read.parquet(s"$idxDir/coarse.parquet"),
      spark.read.parquet(s"$idxDir/codebook.parquet"),
      spark.read.parquet(s"$idxDir/codes.parquet"),
      nprobe, k)
  }

  /** The persisted-index location for (session, corpus) — exposed so
    * the spec can assert the artifact layout on disk. */
  private[graft] def annIndexScratchDir(spark: SparkSession, dir: String): String =
    graft.ScratchDir("graft_ann_idx", spark, dir)

  private val ivfPqCoarseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Seq[Double]]]()

  // r18: knn_ivf / kmeans_clusters centroid memos (same contract as
  // ivfPqCoarseCache — centroids are pure data from deterministic
  // seeds, keyed by (dir, params))
  private val ivfCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Seq[Double]]]()
  private val kmCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Seq[Double]]]()

  /** User-facing k-means clustering report: per-cluster size and
    * inertia from the shared deterministic Lloyd machinery (hash
    * seeds, broadcast-relation assignment). The spec checks the
    * distributed result against a driver-side reference Lloyd run
    * from the same seeds (sizes exact, inertia to 1e-6 — the
    * treeAggregate FP-order rule from CLAUDE.md); the ORACLE is
    * pinned per-SF literal rows (DuckDB cannot recompute the xxhash64
    * seed selection), captured by graft.tools.PinGen into
    * [[graft.PinnedOracleData]] — coupling knobs and the local drift
    * tripwire are documented in [[graft.PinnedOracles]].
    */
  def kmeansClusters(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
    val cents = kmCentCache.computeIfAbsent(
      s"${Tables.contentKey(spark, dir, "embeddings")}|$k|$iters",
      _ => KMeans.lloyd(spark, e, KMeans.hashSeeds(e, k), iters))
    KMeans.assign(e, KMeans.centDf(spark, cents))
      .join(broadcast(KMeans.centDf(spark, cents)), "cluster")
      .withColumn("d",
        col("nrm") * col("nrm") - lit(2.0) * arrayDot(col("embedding"), col("cent"))
          + col("cnorm2"))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("d")), 4).as("inertia"))
      .orderBy("cluster")
  }

  val vecQuantizeSql: String =
    """WITH s AS (
      |  SELECT vec_id, label, embedding AS e,
      |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127,
      |      1e-300) AS scale
      |  FROM embeddings
      |)
      |SELECT vec_id, label,
      |  round(scale, 8) AS scale8,
      |  CAST(list_sum(list_transform(range(1, len(e) + 1),
      |    i -> i * CAST(round(CAST(e[i] AS DOUBLE) / scale) AS BIGINT))) AS BIGINT)
      |    AS q_checksum,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(e,
      |    x -> CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale)),
      |    (a, d) -> a + d * d), 10) AS sse10
      |FROM s ORDER BY vec_id""".stripMargin
}
