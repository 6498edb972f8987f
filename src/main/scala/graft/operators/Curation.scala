package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Training-data curation operators over `documents` (SURVEY.md §2.4+):
  * reproducible corpus sampling and corpus-level n-gram statistics —
  * the bread-and-butter transforms between dedup and training.
  */
object Curation {

  /** Deterministic content-addressed sampling: keep documents whose
    * md5(text) falls in a fixed hex-prefix range. Content-keyed (not
    * id-keyed) so the sample is stable across re-ingestion,
    * re-partitioning, and engines — md5 hex compares identically
    * everywhere. ~10.2% at the default bound ('1a'/256 buckets).
    *
    * Scale: a narrow scan + filter; no shuffle, no RNG state. The
    * filter rate is exact-in-expectation per content, so a 100 TB
    * corpus samples without coordination.
    */
  def sampleHash(spark: SparkSession, dir: String, hexBound: String = "1a"): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", md5(col("text").cast("binary")))
      .filter(substring(col("h"), 1, 2) < hexBound)
      .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"), col("h").as("md5"))
      .orderBy("doc_id")

  val sampleHashSql: String =
    """SELECT doc_id, lang, length(text) AS text_len, md5(text) AS md5
      |FROM documents
      |WHERE substring(md5(text), 1, 2) < '1a'
      |ORDER BY doc_id""".stripMargin

  /** Corpus-level top-25 word bigrams by document frequency — the
    * n-gram statistic used for contamination checks and boilerplate
    * detection. One explode + one count shuffle; ties broken by
    * bigram text so the top-k is deterministic.
    *
    * Scale: the groupBy key space is bounded by distinct bigrams;
    * partial aggregation collapses per-partition counts before the
    * exchange, and the final top-k is a TakeOrdered, not a full sort.
    */
  def ngramTop(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    ngramTopFor(Tables.documents(spark, dir), k)

  /** Same over any (…, text) relation — spec-testable on synthetic
    * corpora (short/empty documents included).
    */
  def ngramTopFor(docs: DataFrame, k: Int = 25): DataFrame =
    docs
      // lambda-bound tokenization (ngramsFromTextExpr): total in doc
      // length AND immune to InferFiltersFromGenerate re-splitting —
      // sub-2-token docs yield array() and fall out of the explode
      .select(col("doc_id"), expr(
        s"array_distinct(${_root_.graft.functions.ngramsFromTextExpr("text", 2)})").as("bgs"))
      .select(explode(col("bgs")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("bigram"))
      .limit(k)

  val ngramTopSql: String =
    """WITH t AS (
      |  SELECT doc_id, str_split(text, ' ') AS w FROM documents
      |  WHERE len(str_split(text, ' ')) >= 2
      |), bg AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1])) AS bigram
      |  FROM t
      |)
      |SELECT bigram, count(*) AS n_docs
      |FROM bg GROUP BY bigram
      |ORDER BY n_docs DESC, bigram LIMIT 25""".stripMargin

  /** Stratified (per-source budgeted) sampling audit: each source
    * keeps a different fraction of its documents — even-numbered
    * sources 25%, odd 12.5% — selected by the same content-addressed
    * md5 prefix rule as [[sampleHash]], so membership is stable
    * across engines and re-partitioning. Output is the per-source
    * audit (total vs kept), the report a curation pipeline uses to
    * check its domain mixture.
    *
    * Scale: one narrow scan, the CASE is per-row map-side work, one
    * bounded groupBy(source) — no per-group driver loops, no RNG.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val bound = when(pmod(srcNum, lit(2)) === 0, lit("40")).otherwise(lit("20"))
    Tables.documents(spark, dir)
      .withColumn("h", substring(md5(col("text").cast("binary")), 1, 2))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("h") < bound, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  val stratifiedSampleSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN substring(md5(text), 1, 2) <
      |    (CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 2 = 0
      |     THEN '40' ELSE '20' END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Most-frequent-token count in O(n log n) per document: the count
    * of the most common token equals the longest equal-run in the
    * SORTED token array, found by one linear lambda pass. Replaces the
    * O(distinct·words) `transform(array_distinct(w), d ->
    * size(filter(w, ...)))` scan, which the round-12 fuzz gate proved
    * is a real 100 TB hazard: a single megabyte document with ~140k
    * distinct tokens turns the per-row expression into 2e10 string
    * compares and wedges an executor core for hours (fuzz finding F1).
    * The VALUE is unchanged (max multiplicity is independent of the
    * algorithm and of either engine's sort collation — any total
    * order makes equal tokens adjacent), so oracles and pins hold.
    */
  private[graft] def topWordCountExpr(w: String): String =
    s"aggregate(array_sort($w), " +
      "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), " +
      "(a, x) -> named_struct(" +
      "'prev', x, " +
      "'run',  IF(a.prev <=> x, a.run + 1L, 1L), " +
      "'best', GREATEST(a.best, IF(a.prev <=> x, a.run + 1L, 1L))), " +
      "a -> a.best)"

  /** Gopher-style repetition / quality signals, per document:
    * word count, mean word length, duplicate-bigram fraction, and
    * top-word fraction (the rules large-corpus filters use to drop
    * boilerplate and degenerate repetition).
    *
    * Scale: pure array-lambda expressions — zero shuffle, zero UDFs;
    * per-document cost is O(n log n) in document length (sorted-run
    * top-word scan, see [[topWordCountExpr]]), which beats an explode
    * + per-doc groupBy (two shuffles over every token in the corpus)
    * at any scale.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    textRepetitionFor(Tables.documents(spark, dir))

  /** Same over any (doc_id, text) relation — spec-testable on
    * planted repetitive/degenerate documents.
    */
  private[graft] def textRepetitionFor(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"), expr(
        _root_.graft.functions.ngramsExpr("w", 2)).as("bgs"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        round(expr("aggregate(w, 0L, (a, x) -> a + length(x))")
          .cast("double") / size(col("w")), 4).as("mean_word_len"),
        round(lit(1.0) - size(array_distinct(col("bgs"))).cast("double") / size(col("bgs")), 4)
          .as("dup_bigram_frac"),
        round(expr(topWordCountExpr("w"))
          .cast("double") / size(col("w")), 4).as("top_word_frac"))
      .orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, str_split(text, ' ') AS w FROM documents
      |  WHERE len(str_split(text, ' ')) >= 2
      |), bg AS (
      |  SELECT doc_id, w,
      |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bgs
      |  FROM t
      |), tw AS (
      |  SELECT doc_id, max(cnt) AS top_cnt FROM (
      |    SELECT doc_id, tok, count(*) AS cnt FROM (
      |      SELECT doc_id, unnest(w) AS tok FROM t)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id
      |)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_words,
      |  round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4)
      |    AS mean_word_len,
      |  round(1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs), 4)
      |    AS dup_bigram_frac,
      |  round(CAST(tw.top_cnt AS DOUBLE) / len(w), 4)
      |    AS top_word_frac
      |FROM bg JOIN tw USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Token-budget chunk packing: documents are laid out sequentially
    * into fixed-size token chunks (the layout step before writing
    * training shards), and each document reports the chunk span it
    * lands in. Packing is PER SOURCE — each source stream packs
    * independently, which is what makes the operator scale: a global
    * sequential layout would serialize the corpus through one
    * partition, while per-source prefix sums run as parallel window
    * partitions (at 100 TB the unit would be source × shard-range,
    * same shape, more partitions).
    *
    * Deterministic: order within a source is doc_id; token count is
    * the whitespace split; a document straddling a boundary spans
    * chunk_start..chunk_end (documents are not reordered — this is
    * the streaming-concatenation layout, not bin packing, so the
    * result is reproducible and engine-independent).
    */
  /** Default tokens-per-chunk budget, bound into BOTH the entry
    * defaults and the generated oracle SQL (one constant, so a
    * non-default call can't silently diverge from the registered
    * oracle — r17 ADVICE).
    */
  val TokenBudget = 512

  def packChunks(spark: SparkSession, dir: String, budget: Int = TokenBudget): DataFrame =
    packChunksFor(Tables.documents(spark, dir), budget)

  private[graft] def packChunksFor(docs: DataFrame, budget: Int = TokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tok_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr(s"tok_before div $budget").as("chunk_start"),
        expr(s"(tok_before + n_tokens - 1) div $budget").as("chunk_end"),
        pmod(col("tok_before"), lit(budget.toLong)).as("chunk_offset"))
      .orderBy("doc_id")
  }

  val packChunksSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (
      |      PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tok_before
      |  FROM t
      |)
      |SELECT doc_id, source, n_tokens,
      |  tok_before // $TokenBudget AS chunk_start,
      |  (tok_before + n_tokens - 1) // $TokenBudget AS chunk_end,
      |  tok_before % $TokenBudget AS chunk_offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination audit: word-5-gram overlap between a
    * deterministic "benchmark" slice (content-addressed: md5 prefix
    * '0', ~1/16 of the corpus — standing in for an eval set) and the
    * rest of the corpus. Per benchmark document: how many corpus
    * documents share at least one 5-gram, and how many distinct
    * 5-grams leak. This is the decontamination check run before
    * training on scraped data.
    *
    * Scale: candidate generation is an inverted-index equi-join on
    * the 5-gram — never a doc×doc product. When the benchmark side is
    * a genuine eval set (≪ corpus, fits an executor), pass
    * `broadcastBench = true`: map-side hash join, the corpus-side
    * gram stream never shuffles. The md5-slice ENTRY rule selects
    * ~1/16 of the whole corpus — that side GROWS with the corpus, so
    * forcing a broadcast there would eventually OOM the build side;
    * the entry leaves the strategy to AQE (broadcast while it fits,
    * shuffle join beyond).
    */
  def contamNgram(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    contamNgramFor(Tables.documents(spark, dir), n,
      substring(md5(col("text").cast("binary")), 1, 1) === "0",
      broadcastBench = false)

  /** Same with the benchmark membership injected — spec corpora plant
    * known leaks with an explicit flag instead of the md5 rule.
    */
  private[graft] def contamNgramFor(
      docs: DataFrame, n: Int, isBench: org.apache.spark.sql.Column,
      broadcastBench: Boolean = true): DataFrame = {
    val grams = docs
      .select(col("doc_id"), isBench.as("is_bench"), explode(array_distinct(expr(
        _root_.graft.functions.ngramsFromTextExpr("text", n))))
        .as("gram"))
    val bench  = grams.filter(col("is_bench"))
      .select(col("doc_id").as("bench_id"), col("gram"))
    val corpus = grams.filter(!col("is_bench"))
      .select(col("doc_id").as("corpus_id"), col("gram"))
    corpus.join(if (broadcastBench) broadcast(bench) else bench, "gram")
      .groupBy("bench_id")
      .agg(
        countDistinct(col("corpus_id")).as("n_contaminated_docs"),
        countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("bench_id")
  }

  /** Composite quality filter (the C4/Gopher-style keep/drop pass):
    * per document, the repetition/length signals plus a verdict and
    * the FIRST failing rule as the drop reason — the audit format a
    * curation pipeline reports before materializing the kept corpus.
    * Thresholds are calibrated to this corpus's signal distribution
    * so both verdicts occur (min 25 words; dup-bigram ≤ 0.05;
    * top-word ≤ 0.12).
    *
    * Scale: per-row array lambdas, zero shuffle — the verdict column
    * is scan-speed; the signal fractions are exact int/int doubles so
    * threshold comparisons are engine-independent.
    */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    corpusFilterFor(Tables.documents(spark, dir))

  private[graft] def corpusFilterFor(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("dup_bigram_frac", round(when(col("n_words") >= 2,
        lit(1.0) - size(array_distinct(expr(
          _root_.graft.functions.ngramsExpr("w", 2))))
          .cast("double") /
          expr("CAST(size(w) - 1 AS DOUBLE)")).otherwise(lit(0.0)), 4))
      .withColumn("top_word_frac", round(
        expr(topWordCountExpr("w"))
          .cast("double") / col("n_words"), 4))
      .withColumn("reason",
        when(col("n_words") < 25, "too_short")
          .when(col("dup_bigram_frac") > 0.05, "repetitive_bigrams")
          .when(col("top_word_frac") > 0.12, "top_word_dominance")
          .otherwise("ok"))
      .select(col("doc_id"), col("n_words"), col("dup_bigram_frac"),
        col("top_word_frac"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")

  val corpusFilterSql: String =
    """WITH t AS (
      |  SELECT doc_id, str_split(text, ' ') AS w FROM documents
      |), s AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |    round(CASE WHEN len(w) >= 2 THEN
      |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(w)),
      |        i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
      |        / CAST(len(w) - 1 AS DOUBLE)
      |      ELSE 0.0 END, 4) AS dup_bigram_frac,
      |    round(CAST(tw.top_cnt AS DOUBLE) / len(w), 4)
      |      AS top_word_frac
      |  FROM t JOIN (
      |    SELECT doc_id, max(cnt) AS top_cnt FROM (
      |      SELECT doc_id, tok, count(*) AS cnt FROM (
      |        SELECT doc_id, unnest(w) AS tok FROM t)
      |      GROUP BY doc_id, tok)
      |    GROUP BY doc_id) tw USING (doc_id)
      |)
      |SELECT doc_id, n_words, dup_bigram_frac, top_word_frac,
      |  (CASE WHEN n_words < 25 THEN 'too_short'
      |        WHEN dup_bigram_frac > 0.05 THEN 'repetitive_bigrams'
      |        WHEN top_word_frac > 0.12 THEN 'top_word_dominance'
      |        ELSE 'ok' END) = 'ok' AS keep,
      |  CASE WHEN n_words < 25 THEN 'too_short'
      |       WHEN dup_bigram_frac > 0.05 THEN 'repetitive_bigrams'
      |       WHEN top_word_frac > 0.12 THEN 'top_word_dominance'
      |       ELSE 'ok' END AS reason
      |FROM s ORDER BY doc_id""".stripMargin

  /** End-to-end curation audit — the pipeline's final report: every
    * document gets ONE disposition under the standard drop order
    * (exact dup → near-dup group non-canonical → quality filter →
    * kept), counted per source. This is the operator a user runs to
    * see what the whole curation pass did to their domain mixture.
    *
    * Composes the exact-hash window, the connected-components
    * keep/drop list ([[Dedup.dedupGroups]]), and [[corpusFilterFor]];
    * the oracle composes the same three as SQL CTEs (including the
    * recursive closure), so the driver verifies the full pipeline
    * end to end.
    */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame =
    dispositionsFor(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("disposition") === "exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("disposition") === "near_dup", 1L).otherwise(0L)).as("n_near_dup"),
        sum(when(col("disposition") === "low_quality", 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(col("disposition") === "kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")

  /** Per-document disposition under the standard drop order —
    * (doc_id, source, text, disposition) — the shared frame behind
    * [[curateCorpus]] (the per-source audit) and [[corpusEmit]] (the
    * materialized training corpus), so both report the SAME keep/drop
    * decision by construction.
    */
  private[operators] def dispositionsFor(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("dispositions", spark, dir, "documents")(dispositionsBuild(spark, dir))

  private[graft] def dispositionsBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val exact = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .select(col("doc_id"), (col("doc_id") =!= col("min_id")).as("exact_dup"))
    val near = Dedup.dedupGroups(spark, dir)
      .select(col("doc_id"), (col("doc_id") =!= col("canonical_id")).as("near_dup"))
    val qual = corpusFilterFor(docs).select(col("doc_id"), (!col("keep")).as("low_q"))
    docs
      .join(exact, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .join(qual, "doc_id")
      .withColumn("disposition",
        when(col("exact_dup"), "exact_dup")
          .when(coalesce(col("near_dup"), lit(false)), "near_dup")
          .when(col("low_q"), "low_quality")
          .otherwise("kept"))
  }

  val curateCorpusSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a_id, b_id FROM (
       |${Dedup.ngramJaccardSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) jq
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION
       |  SELECT b_id, a_id FROM pairs
       |), walk(id, reach) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
       |), cc AS (
       |  SELECT id AS doc_id, least(id, min(reach)) AS canonical_id
       |  FROM walk GROUP BY id
       |), ex AS (
       |  SELECT doc_id,
       |    doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
       |  FROM documents
       |), fs AS (
       |  SELECT doc_id, str_split(text, ' ') AS w FROM documents
       |), fq AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    round(CASE WHEN len(w) >= 2 THEN
       |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(w)),
       |        i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
       |        / CAST(len(w) - 1 AS DOUBLE)
       |      ELSE 0.0 END, 4) AS dup_bigram_frac,
       |    round(CAST(tw.top_cnt AS DOUBLE) / len(w), 4)
       |      AS top_word_frac
       |  FROM fs JOIN (
       |    SELECT doc_id, max(cnt) AS top_cnt FROM (
       |      SELECT doc_id, tok, count(*) AS cnt FROM (
       |        SELECT doc_id, unnest(w) AS tok FROM fs)
       |      GROUP BY doc_id, tok)
       |    GROUP BY doc_id) tw USING (doc_id)
       |), q AS (
       |  SELECT doc_id,
       |    (n_words < 25 OR dup_bigram_frac > 0.05 OR top_word_frac > 0.12) AS low_q
       |  FROM fq
       |)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ex.exact_dup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_dup,
       |  CAST(sum(CASE WHEN NOT ex.exact_dup
       |    AND coalesce(d.doc_id <> cc.canonical_id, false) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_near_dup,
       |  CAST(sum(CASE WHEN NOT ex.exact_dup
       |    AND NOT coalesce(d.doc_id <> cc.canonical_id, false)
       |    AND q.low_q THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |  CAST(sum(CASE WHEN NOT ex.exact_dup
       |    AND NOT coalesce(d.doc_id <> cc.canonical_id, false)
       |    AND NOT q.low_q THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents d
       |JOIN ex USING (doc_id)
       |LEFT JOIN cc USING (doc_id)
       |JOIN q USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The END PRODUCT of the curation pipeline (r16 verdict #1): the
    * materialized training corpus a run actually consumes, emitted in
    * ONE flow instead of four hand-wired operators — kept-disposition
    * documents ([[dispositionsFor]]'s drop order: exact dup → near-dup
    * non-canonical → quality filter), re-emitted with every ≥ 40-char
    * duplicated span cut ([[Dedup.spanCutTexts]], Lee et al.'s
    * substring dedup applied AFTER doc-level dedup — spans are
    * detected within the kept corpus, since content that only
    * duplicated against dropped docs is already gone with them), and
    * laid out into fixed-budget token chunks ([[packChunks]]'s
    * per-source streaming-concatenation layout over the CLEANED token
    * counts). Output: one row per kept document — (doc_id, source,
    * cleaned_text, n_tokens, chunk_start, chunk_end, chunk_offset).
    *
    * Scale: every stage is the already-scale-shaped kernel it reuses —
    * dispositions are corpus-linear (one md5 window + the contracted
    * CC + scan-speed quality signals), the span-cut window pipeline
    * runs over the kept set only (≈ distinct texts: the exact-dup rule
    * keeps one doc per text, so this is base-tier-sized at any clone
    * factor), and packing is parallel per-source prefix sums.
    */
  def corpusEmit(spark: SparkSession, dir: String, budget: Int = TokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // kept fans out to BOTH sides of the cleaned join (the span-cut
    // kernel derives from it); the dispositions are memoized rows
    val kept = dispositionsFor(spark, dir)
      .filter(col("disposition") === "kept")
      .select("doc_id", "source", "text")
    val cleaned = kept
      .join(Dedup.spanCutTexts(kept.select("doc_id", "text")), "doc_id")
      .select(col("doc_id"), col("source"), col("cleaned_text"),
        size(split(col("cleaned_text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    cleaned
      .withColumn("tok_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("cleaned_text"), col("n_tokens"),
        expr(s"tok_before div $budget").as("chunk_start"),
        expr(s"(tok_before + n_tokens - 1) div $budget").as("chunk_end"),
        pmod(col("tok_before"), lit(budget.toLong)).as("chunk_offset"))
      .orderBy("doc_id")
  }

  /** Oracle for [[corpusEmit]]: the [[curateCorpusSql]] disposition
    * CTEs (exact window + recursive CC closure + quality signals)
    * reduced to the kept set, the [[Dedup.dedupSubstringApplySql]]
    * char-row window pipeline over kept texts (rep = doc_id — kept
    * texts are pairwise distinct by the exact-dup rule, no group
    * expansion), and the [[packChunksSql]] per-source prefix sums over
    * the cleaned token counts.
    */
  val corpusEmitSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a_id, b_id FROM (
       |${Dedup.ngramJaccardSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) jq
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION
       |  SELECT b_id, a_id FROM pairs
       |), walk(id, reach) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
       |), cc AS (
       |  SELECT id AS doc_id, least(id, min(reach)) AS canonical_id
       |  FROM walk GROUP BY id
       |), ex AS (
       |  SELECT doc_id,
       |    doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
       |  FROM documents
       |), fs AS (
       |  SELECT doc_id, str_split(text, ' ') AS w FROM documents
       |), fq AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    round(CASE WHEN len(w) >= 2 THEN
       |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(w)),
       |        i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
       |        / CAST(len(w) - 1 AS DOUBLE)
       |      ELSE 0.0 END, 4) AS dup_bigram_frac,
       |    round(CAST(tw.top_cnt AS DOUBLE) / len(w), 4)
       |      AS top_word_frac
       |  FROM fs JOIN (
       |    SELECT doc_id, max(cnt) AS top_cnt FROM (
       |      SELECT doc_id, tok, count(*) AS cnt FROM (
       |        SELECT doc_id, unnest(w) AS tok FROM fs)
       |      GROUP BY doc_id, tok)
       |    GROUP BY doc_id) tw USING (doc_id)
       |), q AS (
       |  SELECT doc_id,
       |    (n_words < 25 OR dup_bigram_frac > 0.05 OR top_word_frac > 0.12) AS low_q
       |  FROM fq
       |), kept AS (
       |  SELECT d.doc_id, d.source, d.text
       |  FROM documents d
       |  JOIN ex USING (doc_id)
       |  LEFT JOIN cc USING (doc_id)
       |  JOIN q USING (doc_id)
       |  WHERE NOT ex.exact_dup
       |    AND NOT coalesce(d.doc_id <> cc.canonical_id, false)
       |    AND NOT q.low_q
       |), t AS (
       |  SELECT doc_id AS rep, string_split(text, '') AS cs FROM kept
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
       |), cln AS (
       |  SELECT k.doc_id, k.source, coalesce(cl.cleaned, k.text) AS cleaned_text
       |  FROM kept k LEFT JOIN cl ON cl.rep = k.doc_id
       |), pk AS (
       |  SELECT doc_id, source, cleaned_text,
       |    CAST(len(str_split(cleaned_text, ' ')) AS BIGINT) AS n_tokens
       |  FROM cln
       |), c2 AS (
       |  SELECT doc_id, source, cleaned_text, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_before
       |  FROM pk
       |)
       |SELECT doc_id, source, cleaned_text, n_tokens,
       |  tok_before // $TokenBudget AS chunk_start,
       |  (tok_before + n_tokens - 1) // $TokenBudget AS chunk_end,
       |  tok_before % $TokenBudget AS chunk_offset
       |FROM c2 ORDER BY doc_id""".stripMargin

  val contamNgramSql: String =
    """WITH t AS (
      |  SELECT doc_id, substring(md5(text), 1, 1) = '0' AS is_bench,
      |    str_split(text, ' ') AS w
      |  FROM documents WHERE len(str_split(text, ' ')) >= 5
      |), g AS (
      |  SELECT DISTINCT doc_id, is_bench,
      |    unnest(list_transform(range(1, len(w) - 3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS gram
      |  FROM t
      |)
      |SELECT b.doc_id AS bench_id,
      |  CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_contaminated_docs,
      |  CAST(count(DISTINCT b.gram) AS BIGINT) AS n_shared_grams
      |FROM g b JOIN g c ON b.gram = c.gram AND NOT c.is_bench
      |WHERE b.is_bench
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** Bloom-prefiltered decontamination: same audit as contam_ngram,
    * but corpus grams pass through a Bloom filter of the benchmark
    * grams BEFORE any join — the 100 TB pattern where the corpus
    * gram stream is too large to even hash-join against a broadcast
    * relation without first discarding the (vast) non-matching
    * majority at scan speed.
    *
    * The filter is plain column arithmetic, not a UDF: k=3 xxhash64
    * probes into an m=2^20-bit array carried as an array<long>
    * literal (16 K words, 128 KB — broadcast-sized). False positives
    * pass the prefilter and are then eliminated by the exact join, so
    * the output is bit-identical to contam_ngram (same oracle); the
    * spec asserts that equality on the real corpus and planted leaks.
    */
  def contamBloom(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    contamBloomFor(Tables.documents(spark, dir), n,
      substring(md5(col("text").cast("binary")), 1, 1) === "0")

  private[graft] def contamBloomFor(
      docs: DataFrame, n: Int, isBench: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.Column
    val mBits = 1 << 20
    val k = 3
    val grams = docs
      .select(col("doc_id"), isBench.as("is_bench"), explode(array_distinct(expr(
        _root_.graft.functions.ngramsFromTextExpr("text", n))))
        .as("gram"))
    val bench = grams.filter(col("is_bench"))
      .select(col("doc_id").as("bench_id"), col("gram"))
    // Build the filter from the (small) benchmark side: k probe
    // positions per gram, deduped — bounded by k × |bench grams|,
    // the same cardinality the broadcast join already assumes.
    def probes(c: Column): Seq[Column] =
      (0 until k).map(i => pmod(xxhash64(c, lit(i)), lit(mBits.toLong)).cast("int"))
    val positions = bench
      .select(explode(array(probes(col("gram")): _*)).as("pos")).distinct()
      .collect().map(_.getInt(0))
    val words = new Array[Long](mBits / 64)
    positions.foreach(p => words(p >> 6) |= (1L << (p & 63)))
    val bits = typedLit(words.toSeq)
    def mightContain(c: Column): Column =
      probes(c).map { pos =>
        call_function("bit_get",
          element_at(bits, (shiftright(pos, 6) + 1).cast("int")),
          (pos % 64).cast("int")) === 1
      }.reduce(_ && _)
    val corpus = grams.filter(!col("is_bench"))
      .select(col("doc_id").as("corpus_id"), col("gram"))
      .filter(mightContain(col("gram"))) // scan-side prune, no shuffle yet
    corpus.join(broadcast(bench), "gram") // exact verify kills bloom FPs
      .groupBy("bench_id")
      .agg(
        countDistinct(col("corpus_id")).as("n_contaminated_docs"),
        countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("bench_id")
  }

  /** Exact repeated-window (span) dedup audit — the fixed-width
    * approximation of suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * per document, how many of its word 10-gram windows also occur
    * in at least one other document.
    *
    * Scale: windows collapse to (doc_id, gram, cnt) with map-side
    * partial aggregation before the first exchange; document
    * frequency is a second gram-keyed aggregate over that already-
    * collapsed relation. Both passes key on a 128-BIT digest pair
    * (xxhash64 under two seeds — the dedupSubstring r16 precedent)
    * instead of the ~80-byte string (r18/r19, guide §2.3 "narrower
    * types"): the two exchanges and the gram-keyed join carry 16
    * bytes, ~5× fewer shuffle bytes, and the per-partition hash maps
    * compare two longs instead of strings. r19 (VERDICT r18 item 7):
    * the former single 64-bit key had a REAL birthday bound at 100 TB
    * (10^10–10^11 distinct 10-grams ⇒ ~dozens-to-hundreds of expected
    * collided pairs, each inflating df); at 128 bits the expectation
    * is n²/2^129 ≈ 1.5e-17 at n = 10^11 — structurally collision-free
    * at any conceivable corpus size, and still oracle-verified per
    * tier against the exact-string DuckDB formulation.
    */
  def dedupSpan(spark: SparkSession, dir: String, n: Int = 10): DataFrame =
    dedupSpanFor(Tables.documents(spark, dir), n)

  private[graft] def dedupSpanFor(docs: DataFrame, n: Int): DataFrame = {
    val wins = docs
      .select(col("doc_id"), explode(expr(
        _root_.graft.functions.ngramsFromTextExpr("text", n))).as("g0"))
      .select(col("doc_id"),
        xxhash64(col("g0")).as("gk1"), xxhash64(lit(42L), col("g0")).as("gk2"))
    val perDoc = wins.groupBy("doc_id", "gk1", "gk2").agg(count(lit(1)).as("cnt"))
    val dfRel = perDoc.groupBy("gk1", "gk2").agg(count(lit(1)).as("df"))
    perDoc.join(dfRel, Seq("gk1", "gk2"))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_windows"),
        sum(when(col("df") >= 2, col("cnt")).otherwise(lit(0L))).as("n_dup_windows"),
        round(sum(when(col("df") >= 2, col("cnt")).otherwise(lit(0L))).cast("double") /
          sum(col("cnt")), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dedupSpanSql: String =
    """WITH t AS (
      |  SELECT doc_id, str_split(text, ' ') AS w
      |  FROM documents WHERE len(str_split(text, ' ')) >= 10
      |), g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w) - 8),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' ||
      |           w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8] || ' ' || w[i+9])) AS gram
      |  FROM t
      |), pd AS (
      |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
      |), f AS (
      |  SELECT gram, count(*) AS df FROM pd GROUP BY 1
      |)
      |SELECT doc_id,
      |  CAST(sum(cnt) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |  round(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt), 4) AS dup_frac
      |FROM pd JOIN f USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Domain-mixture reweighting (XLM-R temperature sampling, α=0.5):
    * per-source token mass → sqrt-tempered target shares and the
    * per-source sampling weight that realizes them. The knob a
    * multi-source training mix is tuned with.
    *
    * Scale: one bounded groupBy(source) with map-side partial sums;
    * the share normalization is a window over the |sources| result
    * rows (20 here, thousands at worst) — never over the corpus.
    * sqrt (not pow) on both engines: IEEE-correctly-rounded, so the
    * tempered shares agree bit-for-bit.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame =
    domainMixFor(Tables.documents(spark, dir))

  private[graft] def domainMixFor(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("total", sum(col("n_tokens")).over(all))
      .withColumn("natural_share", col("n_tokens").cast("double") / col("total"))
      .withColumn("s", sqrt(col("natural_share")))
      .withColumn("target_share", col("s") / sum(col("s")).over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("natural_share"), 6).as("natural_share"),
        round(col("target_share"), 6).as("target_share"),
        round(col("target_share") / col("natural_share"), 6).as("sample_weight"),
        floor(col("target_share") * col("total").cast("double")).cast("long").as("expected_tokens"))
      .orderBy("source")
  }

  val domainMixSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
      |    n_tokens::DOUBLE / CAST(sum(n_tokens) OVER () AS BIGINT) AS natural_share,
      |    sqrt(n_tokens::DOUBLE / CAST(sum(n_tokens) OVER () AS BIGINT)) AS s
      |  FROM per
      |)
      |SELECT source, n_docs, n_tokens,
      |  round(natural_share, 6) AS natural_share,
      |  round(s / sum(s) OVER (), 6) AS target_share,
      |  round((s / sum(s) OVER ()) / natural_share, 6) AS sample_weight,
      |  CAST(floor(s / sum(s) OVER () * total::DOUBLE) AS BIGINT) AS expected_tokens
      |FROM t ORDER BY source""".stripMargin

  /** Deterministic train/val/test holdout assignment: the split is a
    * pure function of the content hash (md5 first two hex chars mod
    * 100 → 80/10/10), so it is reproducible across runs, engines,
    * cluster layouts — and immune to upstream reordering, which a
    * row_number-based split is not. Per split: doc/token counts and
    * mean doc length. The md5-prefix integer is the same
    * DuckDB-computable trick the simhash oracle uses.
    */
  def holdoutSplits(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        (conv(substring(md5(col("text").cast("binary")), 1, 2), 16, 10)
          .cast("long") % 100).as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("mean_chars"))
      .orderBy("split")

  val holdoutSplitsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(str_split(text, ' ')) AS n_tokens,
      |    length(text) AS n_chars,
      |    CAST(concat('0x', substring(md5(text), 1, 2)) AS BIGINT) % 100 AS b
      |  FROM documents
      |)
      |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS mean_chars
      |FROM d GROUP BY split ORDER BY split""".stripMargin
}
