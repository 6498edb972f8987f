package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus/behavior insight operators: co-occurrence lift (market-
  * basket), TF-IDF keyword extraction, equi-depth histograms, and
  * per-entity EWMA smoothing. Shared scale rules: one shuffle per
  * keyed aggregate, broadcast only genuinely small stat relations,
  * rank on rationals of integers (IEEE division of identical ints is
  * bit-identical across engines) rather than on transcendentals.
  */
object Insights {

  /** Event-type co-occurrence with lift: for each unordered pair of
    * event types, how many users exhibit both, and the lift
    * n_ab·N / (n_a·n_b) vs independence — the market-basket
    * association report.
    *
    * Scale: one distinct over (user, type) — the only corpus-sized
    * shuffle; the self-join is keyed on user_id and each user
    * carries at most |type vocabulary| rows, so the join fans out
    * bounded pairs per user; pair counts and the tiny per-type
    * marginals then aggregate map-side. Lift is a rational of exact
    * integers (products < 2^63 up to ~10⁹ users): deterministic.
    */
  def cooccurLift(spark: SparkSession, dir: String): DataFrame = {
    val ut = graft.Memo("cooccurUsers", spark, dir, "events")(
      Tables.events(spark, dir).select(col("user_id"), col("event_type")).distinct())
    val nUsers = ut.select(col("user_id")).distinct().count()
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut.as("a").join(ut.as("b"), "user_id")
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        round(col("n_ab").cast("double") * lit(nUsers) / (col("n_a") * col("n_b")), 6)
          .as("lift"))
      .orderBy("type_a", "type_b")
  }

  val cooccurLiftSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), marg AS (
      |  SELECT event_type, count(*) AS n FROM ut GROUP BY event_type
      |), nu AS (
      |  SELECT count(DISTINCT user_id) AS n_users FROM ut
      |), p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      |  FROM ut a JOIN ut b USING (user_id)
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b,
      |  CAST(ma.n AS BIGINT) AS n_a, CAST(mb.n AS BIGINT) AS n_b,
      |  CAST(n_ab AS BIGINT) AS n_ab,
      |  round(CAST(n_ab AS DOUBLE) * nu.n_users / (ma.n * mb.n), 6) AS lift
      |FROM p
      |JOIN marg ma ON ma.event_type = type_a
      |JOIN marg mb ON mb.event_type = type_b
      |CROSS JOIN nu
      |ORDER BY type_a, type_b""".stripMargin

  /** Top-3 keywords per document by TF-IDF with a LINEAR idf
    * (tf · N / df): the rank statistic is a rational of exact
    * integers, so both engines compute bit-identical doubles (IEEE
    * division is correctly rounded) and the ranking is deterministic
    * — a log idf puts libm's last-ulp variation inside the ORDER BY,
    * which is exactly the cross-engine trap CLAUDE.md documents.
    * Production swaps in log-idf by changing one expression; the
    * plan is identical.
    *
    * Scale: token explode → (doc, word) counts [one shuffle] →
    * vocabulary df counts [dict-sized shuffle] → join back on word →
    * per-doc top-3 window. Words of length ≥ 4 only (stopword-ish
    * hubs drop out, keeping the word join skew-free).
    */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 4)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .withColumn("score", col("tf").cast("double") * lit(nDocs) / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("word"),
        col("tf"), col("df"), round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rnk")
  }

  val tfidfKeywordsSql: String =
    """WITH nd AS (
      |  SELECT count(*) AS n FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM tok
      |  WHERE length(word) >= 4 GROUP BY doc_id, word
      |), df AS (
      |  SELECT word, count(*) AS df FROM tf GROUP BY word
      |), s AS (
      |  SELECT doc_id, word, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * nd.n / df.df AS score
      |  FROM tf JOIN df USING (word) CROSS JOIN nd
      |), r AS (
      |  SELECT doc_id, word, tf, df, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk
      |  FROM s
      |)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, word,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  round(score, 6) AS score
      |FROM r WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** Equi-depth (decile) histogram of order totals: bucket
    * boundaries at exact rank deciles — the distribution report a
    * warehouse runs on a measure column. Buckets come from
    * [[RelationalExtras.distributedNtile]]: a range shuffle + per-
    * partition rank, NO single-task global sort, bit-identical to
    * the ntile window the oracle uses (ties broken by order key).
    */
  def equiDepthHist(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    RelationalExtras.distributedNtile(
        per, Seq(col("o_totalprice"), col("o_orderkey")), 10, "decile")
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 4).as("lo"),
        round(max(col("o_totalprice")), 4).as("hi"),
        // exact decimal sum (per-decile totals reach corpus magnitude
        // — the CLAUDE.md decimal rule, scale-2 native so the double
        // cast stays single-rounding)
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("decile")
  }

  val equiDepthHistSql: String =
    """WITH d AS (
      |  SELECT o_totalprice,
      |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders
      |)
      |SELECT CAST(decile AS BIGINT) AS decile,
      |  count(*) AS n_orders,
      |  round(min(o_totalprice), 4) AS lo,
      |  round(max(o_totalprice), 4) AS hi,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  /** Per-user EWMA smoothing of event values at two horizons
    * (α = 0.3 fast, α = 0.1 slow) — the trend/level summary a
    * monitoring pipeline keeps per entity. The recursion folds
    * left-to-right over the user's time-ordered values; Spark's
    * `aggregate` and DuckDB's `list_reduce` both fold left-to-right
    * with the identical arithmetic sequence, so the doubles are
    * bit-identical before the final rounding.
    *
    * Scale: ONE shuffle (groupBy user); each user's history is a
    * bounded in-memory array (entity histories are bounded in
    * practice; a windowed variant caps it hard). No window over a
    * global sort anywhere.
    */
  def ewmaUser(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    ev.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value"))))
        .as("h"))
      .select(col("user_id"),
        size(col("h")).cast("long").as("n_events"),
        round(expr(
          """aggregate(slice(h, 2, size(h) - 1), h[0].value,
            |  (acc, x) -> 0.3D * x.value + 0.7D * acc)""".stripMargin), 6)
          .as("ewma_fast"),
        round(expr(
          """aggregate(slice(h, 2, size(h) - 1), h[0].value,
            |  (acc, x) -> 0.1D * x.value + 0.9D * acc)""".stripMargin), 6)
          .as("ewma_slow"))
      .orderBy("user_id")
  }

  val ewmaUserSql: String =
    """WITH h AS (
      |  SELECT user_id,
      |    list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS vs
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id,
      |  CAST(len(vs) AS BIGINT) AS n_events,
      |  round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma_fast,
      |  round(list_reduce(vs, (acc, x) -> 0.1 * x + 0.9 * acc), 6) AS ewma_slow
      |FROM h ORDER BY user_id""".stripMargin
}
