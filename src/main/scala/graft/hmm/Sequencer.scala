package graft.hmm

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tables

/** Sequence construction: events → per-user time-ordered symbol
  * sequences (SURVEY.md §2.2). The reference reads pre-built
  * IntArrayWritable SequenceFiles (IntArrayWritable.java); here the
  * adapter from a raw event table is part of the engine.
  *
  * Scale: the ONLY wide op the HMM pipeline needs — a single shuffle
  * by user_id, with map-side projection to 3 narrow columns
  * (user_id, ts, sym) before the exchange. The vocab (distinct event
  * types — tiny by definition) is collected once per (session,
  * corpus) and applied as a map literal inside that projection, so
  * the build neither joins nor scans `events` a second time.
  */
object Sequencer {

  /** One (session, corpus)'s vocabulary and sequences, built lazily
    * (the memo's computeIfAbsent only allocates). `vocab` is the
    * sorted distinct event types, ordered as Spark orders strings
    * (UTF-8 binary, nulls first); a type's symbol id is its index. */
  private final class Entry(spark: SparkSession, dir: String) {
    lazy val vocab: Array[String] = {
      val types = Tables.events(spark, dir).select("event_type").distinct()
        .collect().map(_.getString(0))
      java.util.Arrays.sort(types, sparkStringOrder)
      types
    }
    /** Null never matches a type: its events drop out, as an
      * equi-join on the vocab would drop them. */
    lazy val symbols: Map[String, Int] =
      vocab.iterator.zipWithIndex.filter(_._1 != null).toMap
    /** Persisted, the library's one CacheManager entry (see
      * [[graft.Memo]]): every model-driven HMM query iterates the same
      * sequences, and the build (the pipeline's one wide op) should run
      * once per dataset, not once per query — exactly how an EM driver
      * would cache its input on a cluster. */
    lazy val sequences: Dataset[(Long, Seq[Int])] =
      sequencesFrom(spark, withSym(spark, dir, symbols)).persist()
  }

  private val sparkStringOrder: Ordering[String] = (x, y) =>
    if (x == null) { if (y == null) 0 else -1 }
    else if (y == null) 1
    else UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  private def entry(spark: SparkSession, dir: String): Entry =
    graft.Memo.value("sequences", spark, dir, "events")(new Entry(spark, dir))

  /** event_type → contiguous symbol id, deterministic (ordered by
    * event_type): a local relation over the cached vocabulary.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    val rows = entry(spark, dir).vocab.iterator.zipWithIndex
      .map { case (t, i) => Row(t, i) }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("event_type", StringType), StructField("sym", IntegerType, nullable = false))))
  }

  val vocabSql: String =
    """SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS sym
      |FROM (SELECT DISTINCT event_type FROM events)
      |ORDER BY event_type""".stripMargin

  /** CTE reused by every oracle that needs the symbol mapping. */
  val vocabCte: String =
    """vocab AS (
      |  SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS sym
      |  FROM (SELECT DISTINCT event_type FROM events)
      |)""".stripMargin

  /** events projected to (user_id, ts_us, event_id, sym). */
  def eventsWithSym(spark: SparkSession, dir: String): DataFrame =
    withSym(spark, dir, entry(spark, dir).symbols)

  /** events under an event_type → symbol mapping; events of a type
    * the mapping lacks drop out. */
  private def withSym(spark: SparkSession, dir: String, mapping: Map[String, Int]): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        try_element_at(typedLit(mapping), col("event_type")).as("sym"))
      .filter(col("sym").isNotNull)

  /** Long-form sequences: (user_id, pos, sym), pos ordered by
    * (ts, event_id). This is the SQL-oracled dump of `sequenceDs`.
    */
  def build(spark: SparkSession, dir: String): DataFrame =
    sequencesFrom(spark, eventsWithSym(spark, dir)).toDF()
      .select(col("user_id"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .orderBy("user_id", "pos")

  val buildSql: String =
    s"""WITH $vocabCte
       |SELECT user_id,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts::TIMESTAMP), event_id) - 1 AS pos,
       |  sym
       |FROM events JOIN vocab USING (event_type)
       |ORDER BY user_id, pos""".stripMargin

  /** Typed sequences for the HMM algorithms: one row per user with
    * the full ordered symbol array, persisted per (session, corpus).
    */
  def sequenceDs(spark: SparkSession, dir: String): Dataset[(Long, Seq[Int])] =
    entry(spark, dir).sequences

  /** Sequences under an EXPLICIT event_type → symbol mapping — the
    * warm-start fine-tune path, where the symbol space belongs to the
    * loaded model (a superset of the slice's own vocabulary), not to
    * the data. Unlike [[sequenceDs]] this is not cached: fine-tune
    * slices are one-shot inputs.
    */
  def sequenceDsMapped(
      spark: SparkSession, dir: String,
      mapping: Map[String, Int]): Dataset[(Long, Seq[Int])] =
    sequencesFrom(spark, withSym(spark, dir, mapping))

  private def sequencesFrom(spark: SparkSession, e: DataFrame): Dataset[(Long, Seq[Int])] = {
    import spark.implicits._
    e.select(col("user_id"), struct(col("ts_us"), col("event_id"), col("sym")).as("e"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("user_id"), expr("transform(es, x -> x.sym)").as("syms"))
      .as[(Long, Seq[Int])]
  }

  /** Per-sequence length / distinct-symbol / entropy stats.
    * Two keyed aggregations; the entropy p·ln p is exact-double on
    * both engines, rounded 4dp to absorb sum-order differences.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val c = eventsWithSym(spark, dir).groupBy("user_id", "sym").count()
    val w = Window.partitionBy("user_id")
    c.withColumn("n", sum(col("count")).over(w))
      .groupBy("user_id")
      .agg(
        first(col("n")).as("n_events"),
        count(lit(1)).as("n_syms"),
        round(-sum((col("count") / col("n")) * log(col("count") / col("n"))), 4).as("entropy"))
      .orderBy("user_id")
  }

  val statsSql: String =
    s"""WITH $vocabCte,
       |c AS (
       |  SELECT user_id, sym, count(*) AS cnt
       |  FROM events JOIN vocab USING (event_type)
       |  GROUP BY user_id, sym
       |), tot AS (
       |  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY user_id
       |)
       |SELECT t.user_id, t.n AS n_events, count(*) AS n_syms,
       |  round(-sum((cnt / t.n) * ln(cnt / t.n)), 4) AS entropy
       |FROM c JOIN tot t USING (user_id)
       |GROUP BY t.user_id, t.n
       |ORDER BY t.user_id""".stripMargin
}
