package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed BPE (byte-pair-encoding) tokenizer training — the
  * tokenizer-fitting step of an LLM data pipeline (Sennrich et al.
  * 2016, trained on the word-frequency dictionary, not the raw
  * corpus).
  *
  * Scale shape: the corpus collapses to the (word, freq) dictionary
  * with ONE shuffle — 100 TB of text becomes a ~10M-row dict, and
  * every merge iteration then runs on the dict alone: a pair-count
  * aggregate (bounded by dict size) plus a per-row lambda rewrite.
  * Driver state per iteration is exactly one argmax row (the merge),
  * mirroring the bounded-driver-state policy of the EM trainer.
  * Ties break (count desc, pair lexicographic) so training is
  * deterministic on any cluster layout.
  */
object Bpe {

  /** Dict partitions are sized to the DICT, not the corpus: one
    * partition per ~64k words, capped at the session's parallelism —
    * tiny dicts run single-task iterations (no scheduling overhead),
    * a 10M-row production dict gets ~150.
    */
  private def dictParts(spark: SparkSession, dictRows: Long): Int =
    math.max(1L, math.min(dictRows / 65536L + 1L,
      spark.sparkContext.defaultParallelism.toLong)).toInt

  /** Materialize AND lineage-cut the encode fold every this many
    * merges: each merge adds one nested `aggregate` lambda to the
    * projection, so an unbounded fold grows the logical plan linearly
    * — and since every withColumn re-analyzes the whole tree, total
    * analysis cost goes O(merges²). persist() alone does NOT fix this
    * (caching truncates execution, not the analyzed plan), so chunk
    * boundaries use an eager [[graft.Lineage.cut]] — a genuine
    * lineage cut (reliable checkpoint() when spark.checkpoint.dir is
    * configured, localCheckpoint() otherwise); superseded checkpoint
    * RDDs are freed by the ContextCleaner when unreferenced. Plan
    * depth is then O(chunk) regardless of vocabulary size.
    */
  private[operators] val EncodeChunk = 25

  /** One BPE merge step over a token-array column: merge adjacent
    * (l, r) left-to-right in a single fold — no UDF, and no SQL-parser
    * round trip (corpus-derived strings enter as typed literals, so
    * backslashes/quotes in tokens can't alter the expression).
    */
  private def mergeStep(tokens: Column, l: String, r: String): Column =
    aggregate(tokens, typedLit(Seq.empty[String]), (acc, t) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && t === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(t))))

  private def charTokens(word: Column): Column =
    filter(split(word, ""), t => t =!= "")

  /** The learned merge table: one row per merge step. */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    import spark.implicits._
    learnedFor(spark, dir, merges).toDF("step", "left", "right", "pair_count")
      .orderBy("step")
  }

  private[graft] def learnedFor(
      spark: SparkSession, dir: String, merges: Int): Seq[(Int, String, String, Long)] =
    graft.Memo.value("bpeMerges", spark, dir, "documents", merges)(
      learnMerges(Tables.documents(spark, dir), merges))

  private[graft] def bpeTrainFor(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, merges).toDF("step", "left", "right", "pair_count")
      .orderBy("step")
  }

  private[graft] def learnMerges(
      docs: DataFrame, merges: Int): Seq[(Int, String, String, Long)] = {
    val spark = docs.sparkSession
    // corpus -> word-frequency dict (the only corpus-sized shuffle);
    // the shuffle runs wide, the RESULT is dict-sized, so re-lay it
    // out on a dict-derived partition count before the merge loop —
    // iteration jobs then pay dict-proportional scheduling, not
    // corpus-width (13s -> 3s lesson from the CC loop).
    val raw = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(charTokens(col("word")).as("tokens"), col("freq"))
      .persist()
    val dictRows = raw.count()
    // eager lineage cut: iteration plans start from a LogicalRDD, so
    // the per-step analysis cost is O(1) in the step number
    val dictLoop = new graft.Lineage.Loop // dict is the loop variable
    var dict = dictLoop.cut(raw.coalesce(dictParts(spark, dictRows)))
    raw.unpersist()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      // adjacent-pair counts, weighted by word frequency
      val top = dict
        .filter(size(col("tokens")) >= 2)
        .select(col("freq"), explode(expr(
          // total in size(tokens): InferFiltersFromGenerate can run
          // this before the >= 2 filter (see functions.ngramsExpr)
          "CASE WHEN size(tokens) >= 2 THEN " +
            "transform(sequence(0, size(tokens) - 2), " +
            "i -> struct(tokens[i] AS l, tokens[i + 1] AS r)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        learned += ((step, l, r, cnt))
        dict = dictLoop.cut( // eager; superseded reliable dirs deleted by the handle
          dict.select(mergeStep(col("tokens"), l, r).as("tokens"), col("freq")))
        step += 1
      }
    }
    // merges are fully collected driver-side: the final dict
    // checkpoint has no live reader, drop it too
    dictLoop.drop(spark)
    learned.toSeq
  }

  /** BPE ENCODE: apply the learned merge sequence to every document.
    * The merges replay on the distinct-WORD dictionary (each merge a
    * single array fold, no UDF), and documents join the encoded dict
    * by word — so the per-merge work is dict-sized no matter how big
    * the corpus, and the only corpus-sized operations are the word
    * explode and one (doc_id, word)-keyed aggregate. The fold is
    * materialized every [[EncodeChunk]] merges so plan depth stays
    * bounded at production vocabulary sizes. Output per doc: word
    * count, BPE token count, and the chars-per-token compression
    * ratio the tokenizer report tracks.
    */
  // Result memoized per (session, corpus, merges) (r18): the digest
  // companion re-ran the whole dict-encode loop + corpus join per call.
  def bpeApply(spark: SparkSession, dir: String, merges: Int = 10): DataFrame =
    graft.Memo("bpeApply", spark, dir, "documents", merges)(bpeApplyBuild(spark, dir, merges))

  /** The un-memoized, un-cut encode build — exposed for the plan
    * audit (SparkEntry.auditPlans): the entry query's memo + cut
    * collapse its committed fingerprint to a single LogicalRDD, which
    * blinded the audit to the real join/agg shape (r18 ADVICE).
    * Construction replays the dict-sized encode loop (eager chunked
    * cuts), but the RETURNED plan — corpus explode ⋈ broadcast
    * encoded dict → per-doc agg — is the scale-relevant shape.
    */
  private[graft] def bpeApplyBuild(spark: SparkSession, dir: String, merges: Int = 10): DataFrame =
    bpeApplyFor(Tables.documents(spark, dir),
      learnedFor(spark, dir, merges).map(m => (m._2, m._3)))

  private[graft] def bpeApplyFor(
      docs: DataFrame, mergeSeq: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .persist()
    val dictRows = words.count()
    var cur = words.coalesce(dictParts(spark, dictRows))
      .withColumn("tokens", charTokens(col("word")))
    // chunked eager lineage cuts: bounded plan depth, bounded codegen
    val curLoop = new graft.Lineage.Loop
    mergeSeq.grouped(EncodeChunk).foreach { chunk =>
      cur = curLoop.cut(chunk.foldLeft(cur) { case (df, (l, r)) =>
        df.withColumn("tokens", mergeStep(col("tokens"), l, r))
      })
    }
    words.unpersist()
    val encoded = cur.select(col("word"),
      size(col("tokens")).cast("long").as("n_tok"),
      length(col("word")).cast("long").as("n_chars"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(encoded), "word") // dict ≪ corpus: broadcast
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tok")), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }
}
