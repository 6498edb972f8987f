package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed quality-classifier training — the fasttext-style
  * model-based quality scorer of an LLM data pipeline, trained here
  * to DISTILL the rule-based corpus filter (Curation.corpusFilter)
  * into a smooth logistic score: rules give crisp keep/drop labels,
  * the classifier turns them into a rankable quality signal (and
  * generalizes to documents near the thresholds).
  *
  * Spark-first shape — the same bounded-driver-state loop as the
  * Baum-Welch trainer (BaumWelchDriver.java:118-137 reshaped):
  * Newton/IRLS, per iteration broadcast(weights) → per-partition
  * accumulation of one mutable (Hessian, gradient, loss) block →
  * `treeAggregate` (depth 2) → driver-side 4×4 solve. ZERO shuffle
  * of document data; each of the ~8 iterations moves
  * O(numPartitions × dim²) doubles through the tree, and Newton
  * needs an order of magnitude fewer passes than gradient descent —
  * at 100 TB each saved pass is a full corpus scan.
  */
object Classifier {

  /** Per-partition Newton accumulator: gradient, Hessian (packed
    * row-major), log-loss, count — accumulated in the same 2^-36
    * fixed point as [[graft.hmm.HmmSuffStats]], so the aggregate (and
    * with it the trained weights) is bitwise identical under any
    * partitioning and treeAggregate combine order. Per-term rounding
    * error ≤ 2^-37 — far below the 1e-6·n ridge; overflow guarded by
    * addExact (margin features are O(10), so cells stay ~10 orders of
    * magnitude under the 2^27-mass ceiling at test-tier counts).
    */
  private final class NewtonAcc(dim: Int) extends Serializable {
    import graft.hmm.HmmSuffStats.{Scale, fx}
    val grad = new Array[Long](dim)
    val hess = new Array[Long](dim * dim)
    private var lossFx = 0L
    var n = 0L
    def add(w: Array[Double], x: Array[Double], y: Double): this.type = {
      var z = 0.0
      var i = 0
      while (i < dim) { z += w(i) * x(i); i += 1 }
      val p = 1.0 / (1.0 + math.exp(-z))
      val eps = 1e-12
      lossFx = Math.addExact(lossFx,
        fx(-(y * math.log(p + eps) + (1 - y) * math.log(1 - p + eps))))
      val d = p - y
      val s = math.max(p * (1 - p), 1e-9)
      i = 0
      while (i < dim) {
        grad(i) = Math.addExact(grad(i), fx(d * x(i)))
        var j = 0
        while (j < dim) {
          hess(i * dim + j) = Math.addExact(hess(i * dim + j), fx(s * x(i) * x(j)))
          j += 1
        }
        i += 1
      }
      n += 1
      this
    }
    def loss: Double = lossFx.toDouble / Scale
    def gradDouble: Array[Double] = grad.map(_.toDouble / Scale)
    def hessDouble: Array[Double] = hess.map(_.toDouble / Scale)
    def merge(o: NewtonAcc): this.type = {
      var i = 0
      while (i < grad.length) { grad(i) = Math.addExact(grad(i), o.grad(i)); i += 1 }
      i = 0
      while (i < hess.length) { hess(i) = Math.addExact(hess(i), o.hess(i)); i += 1 }
      lossFx = Math.addExact(lossFx, o.lossFx)
      n += o.n
      this
    }
  }

  /** Gaussian elimination with partial pivoting (dim ≤ 10s — driver
    * arithmetic, like the EM normalize step).
    */
  private def solve(aIn: Array[Double], bIn: Array[Double], dim: Int): Array[Double] = {
    val a = aIn.clone()
    val b = bIn.clone()
    for (col <- 0 until dim) {
      var piv = col
      for (r <- col + 1 until dim)
        if (math.abs(a(r * dim + col)) > math.abs(a(piv * dim + col))) piv = r
      if (piv != col) {
        for (j <- 0 until dim) {
          val t = a(col * dim + j); a(col * dim + j) = a(piv * dim + j); a(piv * dim + j) = t
        }
        val t = b(col); b(col) = b(piv); b(piv) = t
      }
      val d = a(col * dim + col)
      for (r <- col + 1 until dim) {
        val f = a(r * dim + col) / d
        for (j <- col until dim) a(r * dim + j) -= f * a(col * dim + j)
        b(r) -= f * b(col)
      }
    }
    val x = new Array[Double](dim)
    for (r <- (dim - 1) to 0 by -1) {
      var s = b(r)
      for (j <- r + 1 until dim) s -= a(r * dim + j) * x(j)
      x(r) = s / a(r * dim + r)
    }
    x
  }

  /** Feature relation: (doc_id, label, x array<double>) — the rule
    * verdict becomes the label; features are the RULE MARGINS (how
    * far each signal sits from its threshold), so the decision
    * surface the classifier must learn is axis-aligned with the
    * feature basis.
    */
  private[graft] def featureDf(docs: DataFrame): DataFrame =
    Curation.corpusFilterFor(docs)
      .withColumn("m_len", log1p(col("n_words").cast("double")) - log1p(lit(25.0)))
      .withColumn("m_dup", (lit(0.05) - col("dup_bigram_frac")) * lit(10.0))
      .withColumn("m_top", (lit(0.12) - col("top_word_frac")) * lit(10.0))
      .select(col("doc_id"), col("keep").cast("double").as("label"),
        array(
          lit(1.0), // intercept
          col("m_len"), col("m_dup"), col("m_top"),
          // the binding constraint: keep ⇔ least margin ≥ 0, which
          // makes the AND-of-thresholds rule 1-D separable — a linear
          // model without it tops out around 85% on this corpus
          least(col("m_len"), col("m_dup"), col("m_top"))).as("x"))

  private[graft] final case class TrainResult(
      weights: Array[Double], lossPerEpoch: Array[Double])

  /** Newton/IRLS to (near-)optimum in `iters` full-batch passes. A
    * small ridge keeps the Hessian solvable when a margin feature is
    * (locally) separable.
    */
  private[graft] def train(
      feats: DataFrame, iters: Int = 8, ridge: Double = 1e-6): TrainResult = {
    val spark = feats.sparkSession
    import spark.implicits._
    val data = feats.select(col("label"), col("x"))
      .as[(Double, Seq[Double])].rdd
      .map { case (y, x) => (y, x.toArray) }
      .cache()
    val n = data.count().toDouble
    val dim = data.first()._2.length
    var w = new Array[Double](dim)
    val losses = new Array[Double](iters)
    for (e <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(w)
      val acc = data.treeAggregate(new NewtonAcc(dim))(
        seqOp = (a, p) => a.add(bc.value, p._2, p._1),
        combOp = (a, b) => a.merge(b),
        depth = 2)
      bc.destroy()
      losses(e) = acc.loss / n
      val h = acc.hessDouble
      for (i <- 0 until dim) h(i * dim + i) += ridge * n
      val step = solve(h, acc.gradDouble, dim)
      w = w.indices.map(i => w(i) - step(i)).toArray
    }
    data.unpersist()
    TrainResult(w, losses)
  }

  /** Driver query: per-document smooth quality score against the
    * rule label it was distilled from. Bitwise deterministic since
    * r11 (fixed-point Newton accumulation; one memoized model per
    * session and corpus) — carries a pinned-literal oracle.
    */
  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    // the features are read by training AND by every scoring pass, so
    // they are kept as memo rows (not a CacheManager entry): the first
    // pass computes the corpus filter once, later passes read the cut
    val feats = graft.Memo("qualityLrFeatures", spark, dir, "documents")(
      featureDf(Tables.documents(spark, dir)))
    scored(feats, graft.Memo.value("qualityLrModel", spark, dir, "documents")(train(feats).weights))
  }

  private[graft] def qualityLrFor(docs: DataFrame): DataFrame = {
    val feats = featureDf(docs)
    scored(feats, train(feats).weights)
  }

  private def scored(feats: DataFrame, weights: Array[Double]): DataFrame = {
    val wCol = typedLit(weights.toSeq)
    feats
      .withColumn("z", aggregate(
        zip_with(col("x"), wCol, (a, b) => a * b),
        lit(0.0), (s, v) => s + v))
      .select(
        col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("quality_score"),
        (col("z") > 0).as("predicted_keep"),
        col("label").cast("boolean").as("rule_keep"))
      .orderBy("doc_id")
  }
}
