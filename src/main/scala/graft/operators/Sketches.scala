package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.sources.Tables

/** Mergeable-sketch operators — the pre-aggregated "sketch cube"
  * pattern a 100 TB pipeline uses to answer distinct-count and
  * frequency questions without rescanning the corpus:
  *
  *   - build small sketch ARTIFACTS once per (dimension, time) cell
  *     and persist them as ordinary binary columns;
  *   - answer any rollup later by MERGING cells (sketch union /
  *     counter addition), never by recounting raw rows.
  *
  * Both sketches here are layout-independent by construction, which is
  * what makes them pinnable and layout-gate-clean:
  *   - Apache DataSketches HLL (`hll_sketch_agg`): register state is a
  *     per-bucket MAX over hashed items — commutative, associative,
  *     duplicate-insensitive — and Spark's two-phase aggregation always
  *     finalizes through the union path, whose composite estimator is a
  *     pure function of the merged register state.
  *   - CountMinSketch (`count_min_sketch`): counters are exact integer
  *     SUMS into seed-fixed hash buckets; estimate = min over rows.
  *
  * Accuracy contracts (error bounds, one-sided CMS overestimate,
  * daily-union ≡ direct-sketch) are asserted in SketchesSpec; the
  * outputs themselves are pinned-literal-oracled (deterministic by
  * construction, captured across local[4]/local[32] like every pin).
  */
object Sketches {

  /** log2 of HLL register count: 2^12 registers ⇒ ~1.6% relative
    * standard error, 8 KB dense sketch — the cell artifact stays tiny
    * even with millions of cells. */
  private val HllLgK = 12

  /** sketch_hll_cube: distinct users per event type via a persisted
    * per-(type, day) HLL cube — written to parquet and read BACK, so
    * the query proves the artifact survives storage — rolled up with
    * `hll_union_agg`, alongside the exact count for the accuracy
    * columns. At 100 TB the cube is the only thing ever re-read:
    * each day's raw events are sketched once (map-side partial
    * aggregation ⇒ one tiny sketch per cell crosses the exchange) and
    * any later rollup — per type, per week, all-time — is a union
    * over 8 KB artifacts.
    */
  def hllCube(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    // one scratch dir per (session, corpus), REUSED across calls
    // (overwrite mode): repeated bench passes must not accumulate one
    // orphan dir per invocation
    val cubeDir = graft.ScratchDir("graft_hll_cube", spark, dir)
    ev.groupBy(col("event_type"), col("day"))
      .agg(expr(s"hll_sketch_agg(user_id, $HllLgK)").as("sk"))
      .write.mode("overwrite").parquet(cubeDir)
    val rolled = spark.read.parquet(cubeDir)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, Seq("event_type"))
      .select(col("event_type"), col("approx_users"), col("exact_users"))
      .orderBy(col("event_type"))
  }

  /** sketch_kmv_overlap: distinct-user overlap between every pair of
    * event types via graft's own bottom-k (KMV) sketch — the custom
    * Catalyst `TypedImperativeAggregate` in
    * org.apache.spark.sql.graft.KmvSketch. Intersection is the set
    * operation HLL registers cannot express; KMV sketches answer it
    * from two ≤ 8 KB artifacts. Beside each estimate sits the exact
    * count (countDistinct / a user-keyed pair join — bounded: each
    * user carries ≤ #types rows), so the verified output SHOWS the
    * estimator's accuracy. The sketch is a pure function of the input
    * set (k smallest hashes), so the whole output is layout-invariant
    * and pins like the rest of the sketch family.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sk = ev.groupBy(col("event_type"))
      .agg(graft.functions.kmvSketch(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
      col("exact_users").as("exact_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
      col("exact_users").as("exact_b"))
    // bounded grid: #types² sketch pairs. The broadcast hint is
    // load-bearing: the per-type sketch relation is provably tiny
    // (#types rows × ≤8 KB) but its STATS estimate scales with the
    // input, so at ×10 the planner otherwise degrades this non-equi
    // join to a CartesianProduct (caught by the sfx1 plan fingerprint)
    val pairs = a.join(broadcast(b), col("type_a") < col("type_b"))
    // exact overlap: user-keyed self-join of the distinct (type, user)
    // pairs — shuffle O(|pairs|), per-user fanout ≤ #types²
    val exactOv = ev.as("x").join(ev.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(countDistinct(col("x.user_id")).as("exact_overlap"))
    pairs.join(exactOv, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        round(graft.functions.kmvEstimate(col("sk_a")), 3).as("est_a"),
        round(graft.functions.kmvEstimate(col("sk_b")), 3).as("est_b"),
        round(graft.functions.kmvIntersect(col("sk_a"), col("sk_b")), 3).as("est_overlap"),
        col("exact_a"), col("exact_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** sketch_cms_words: corpus word frequencies via one CountMinSketch
    * (eps 1e-3, confidence 0.99, seed 42 ⇒ 5 × 2719 long counters ≈
    * 106 KB — O(1) in corpus size), probed at the exact top-20 words.
    * The collect is the bounded-artifact pattern the other trainers
    * use: ONE ~100 KB sketch row and 20 top-word rows reach the
    * driver, never corpus-sized data. Output columns: exact count,
    * CMS estimate, and the (always ≥ 0) overestimate — the one-sided
    * error guarantee made visible in the verified result.
    */
  def cmsWords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    // bounded collect #1: the sketch itself (≈106 KB, size fixed by eps/conf)
    val bin = words
      .agg(expr("count_min_sketch(word, 0.001d, 0.99d, 42)").as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(bin)
    // bounded collect #2: the exact top-20 (deterministic tie-break on word)
    val top = words.groupBy(col("word"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word"))
      .limit(20)
      .collect()
    top.map { r =>
      val w = r.getString(0); val exact = r.getLong(1)
      val est = cms.estimateCount(w)
      (w, exact, est, est - exact)
    }.toSeq.toDF("word", "exact_cnt", "cms_cnt", "overcount")
      .orderBy(col("exact_cnt").desc, col("word"))
  }
}
