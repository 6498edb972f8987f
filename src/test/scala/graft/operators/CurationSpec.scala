package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

class CurationSpec extends AnyFunSuite {

  test("hash sampling is deterministic, content-keyed, and near the target rate") {
    val total = graft.sources.Tables.documents(spark, sfDir).count()
    val a = Curation.sampleHash(spark, sfDir).collect().map(_.getLong(0)).toSeq
    val b = Curation.sampleHash(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(a == b, "sample must be deterministic across runs")
    val rate = a.length.toDouble / total
    // 26/256 = 10.2% expected; generous band for a 500-doc corpus
    assert(rate > 0.03 && rate < 0.25, s"sample rate $rate out of band")
    // widening the bound strictly grows the sample (prefix property)
    val wide = Curation.sampleHash(spark, sfDir, hexBound = "40")
      .collect().map(_.getLong(0)).toSet
    assert(a.toSet.subsetOf(wide), "narrow sample must nest in the wide one")
  }

  test("ngram stats survive empty and single-word documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world hello world"),
      (2L, "hello"), // single token: no bigrams
      (3L, ""),      // empty text
      (4L, "hello world")
    ).toDF("doc_id", "text")
    val rows = Curation.ngramTopFor(docs).collect()
    val byBigram = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBigram("hello world") == 2, s"got $byBigram")
    assert(!byBigram.contains("hello"), "unigrams must not appear")
  }

  test("top bigrams are document-frequency ranked with deterministic ties") {
    val rows = Curation.ngramTop(spark, sfDir).collect()
    assert(rows.length == 25)
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sorted.reverse), "not sorted by df desc")
    // every reported bigram must actually occur in some document
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .collect().map(_.getString(1))
    val top = rows.head.getString(0)
    assert(corpus.exists(_.contains(top)), s"top bigram '$top' not found in corpus")
  }

  test("repetition signals hit closed-form values on planted documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),           // pure repetition
      (2L, "a b c d"),           // no repetition
      (3L, "spam ham spam ham spam"), // alternating: every bigram repeated
      (4L, "solo")               // < 2 words: dropped
    ).toDF("doc_id", "text")
    val got = Curation.textRepetitionFor(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(!got.contains(4L), "sub-2-word docs must be dropped")
    // doc 1: 4 words len 1; bigrams = ["a a"]*3 -> dup frac 1 - 1/3
    assert(got(1L) == ((4L, 1.0, 0.6667, 1.0)), s"got ${got(1L)}")
    // doc 2: all distinct
    assert(got(2L) == ((4L, 1.0, 0.0, 0.25)), s"got ${got(2L)}")
    // doc 3: bigrams = [spam ham, ham spam, spam ham, ham spam] -> 1 - 2/4
    val (n3, mwl3, dup3, top3) = got(3L)
    assert(n3 == 5L && dup3 == 0.5 && top3 == 0.6, s"got ${got(3L)}")
    assert(mwl3 == math.rint(10000.0 * 18 / 5) / 10000)
  }

  test("stratified sample keeps the per-source budgets of the md5 prefix rule") {
    val got = Curation.stratifiedSample(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // recompute per-doc membership driver-side with the same rule
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val bound = if (src.replaceAll("\\D", "").toInt % 2 == 0) "40" else "20"
      val kept = ds.count { case (_, text) =>
        val hex = md.digest(text.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 2)
        hex < bound
      }
      src -> ((ds.length.toLong, kept.toLong))
    }
    assert(got == expected)
    // every source is audited and budgets bind: kept <= total
    assert(got.keySet == docs.map(_._1).toSet)
    got.values.foreach { case (n, k) => assert(k <= n) }
  }

  test("corpus filter drops planted degenerate docs with the right first reason") {
    import spark.implicits._
    val long = Seq.tabulate(30)(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long),                                   // clean: keep
      (2L, "too short"),                            // too_short
      (3L, Seq.fill(30)("spam spam").mkString(" ")),// repetitive AND dominated:
                                                    //   first failing rule wins
      // w0 dominates (6/40 > 0.12) but stays non-adjacent, so every
      // bigram is unique and only the top-word rule fires
      (4L, long + " " + (1 to 5).map(i => s"w0 x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Curation.corpusFilterFor(docs).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(4), r.getString(5)))).toMap
    assert(got(1L) == ((true, "ok")), s"got ${got(1L)}")
    assert(got(2L) == ((false, "too_short")), s"got ${got(2L)}")
    assert(got(3L) == ((false, "repetitive_bigrams")), s"got ${got(3L)}")
    assert(got(4L) == ((false, "top_word_dominance")), s"got ${got(4L)}")
    // the corpus split is non-vacuous at the calibrated thresholds
    val corpus = Curation.corpusFilter(spark, sfDir).collect().map(_.getBoolean(4))
    assert(corpus.exists(identity) && corpus.exists(!_),
      "thresholds must produce both keep and drop verdicts on the corpus")
  }

  test("chunk packing lays out documents sequentially per source (closed form)") {
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, "s0", words(6)),  // before=0  -> chunk 0..0, offset 0
      (2L, "s0", words(8)),  // before=6  -> chunk 0..1 (straddles), offset 6
      (3L, "s0", words(4)),  // before=14 -> chunk 1..1, offset 4
      (4L, "s1", words(25))  // own source: before=0 -> chunk 0..2, offset 0
    ).toDF("doc_id", "source", "text")
    val got = Curation.packChunksFor(docs, budget = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(1L) == ((6L, 0L, 0L, 0L)), s"got ${got(1L)}")
    assert(got(2L) == ((8L, 0L, 1L, 6L)), s"got ${got(2L)}")
    assert(got(3L) == ((4L, 1L, 1L, 4L)), s"got ${got(3L)}")
    // sources pack independently: doc 4 starts at chunk 0 of s1
    assert(got(4L) == ((25L, 0L, 2L, 0L)), s"got ${got(4L)}")
  }

  test("contamination audit counts planted 3-gram leaks exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),  // benchmark: grams {a b c, b c d, c d e}
      (2L, "a b c x y"),  // leaks "a b c"
      (3L, "q w e r t"),  // clean
      (4L, "b c d e f")   // leaks "b c d", "c d e"
    ).toDF("doc_id", "text")
    val got = Curation.contamNgramFor(docs, n = 3,
      isBench = org.apache.spark.sql.functions.col("doc_id") === 1L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 2L, s"contaminated docs: ${r.getLong(1)}") // docs 2 and 4
    assert(r.getLong(2) == 3L, s"shared grams: ${r.getLong(2)}")      // all three leak
  }

  test("PII scrub redacts planted emails, URLs, and long numbers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s0", "contact john.doe@example.com now"),
      (2L, "s0", "see https://example.com/page for info"),
      (3L, "s0", "card 1234567890 stolen"),
      (4L, "s0", "clean text only"),
      // the URL swallows its digit run BEFORE the number pass runs,
      // but the per-class count is over the raw text
      (5L, "s1", "mail a@b.co or http://x.io/1234567")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.scrubFor(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6))))
      .toMap
    assert(got(1L)._1 == 1L && got(1L)._4 == "contact <EMAIL> now")
    assert(got(2L)._2 == 1L && got(2L)._4 == "see <URL> for info")
    assert(got(3L)._3 == 1L && got(3L)._4 == "card <NUM> stolen")
    assert(got(4L) == ((0L, 0L, 0L, "clean text only", 0L)))
    val (em5, url5, num5, scrub5, _) = got(5L)
    assert(em5 == 1L && url5 == 1L && num5 == 1L, s"got ${got(5L)}")
    assert(scrub5 == "mail <EMAIL> or <URL>", s"got '$scrub5'")
    // len_delta is consistent with the redacted text on every row
    got.values.foreach { case (_, _, _, s, d) => assert(d >= 0 || s.length > 0) }
    docs.collect().foreach { r =>
      val (_, _, _, s, d) = got(r.getLong(0))
      assert(d == r.getString(2).length - s.length)
    }
  }

  test("bloom-prefiltered contamination audit equals the exact one") {
    import spark.implicits._
    // planted leaks: bloom must not lose any true match
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x y"),
      (3L, "q w e r t"),
      (4L, "b c d e f")
    ).toDF("doc_id", "text")
    val isBench = org.apache.spark.sql.functions.col("doc_id") === 1L
    val exact = Curation.contamNgramFor(docs, n = 3, isBench).collect().toSeq
    val bloom = Curation.contamBloomFor(docs, n = 3, isBench).collect().toSeq
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    // and on the real corpus (bench = md5-prefix rule), bit-identical
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val rule = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text").cast("binary")), 1, 1) === "0"
    val e2 = Curation.contamNgramFor(corpus, 5, rule).collect().toSeq
    val b2 = Curation.contamBloomFor(corpus, 5, rule).collect().toSeq
    assert(b2 == e2)
  }

  test("span dedup audit counts shared 10-gram windows exactly") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"w$i").mkString(" ") // one 10-gram
    val docs = Seq(
      (1L, shared + " ta1 ta2"),          // 3 windows, 1 shared with doc 2
      (2L, "tb1 tb2 " + shared),          // 3 windows, 1 shared with doc 1
      (3L, shared),                       // exactly the shared window
      (4L, (1 to 12).map(i => s"u$i").mkString(" ")), // unique, 3 windows
      (5L, "short doc")                   // < 10 tokens: excluded
    ).toDF("doc_id", "text")
    val rows = Curation.dedupSpanFor(docs, n = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows(1L) == ((3L, 1L, 0.3333)), s"got ${rows(1L)}")
    assert(rows(2L) == ((3L, 1L, 0.3333)), s"got ${rows(2L)}")
    assert(rows(3L) == ((1L, 1L, 1.0)), s"got ${rows(3L)}")
    assert(rows(4L) == ((3L, 0L, 0.0)), s"got ${rows(4L)}")
    assert(!rows.contains(5L), "sub-window docs must be excluded")
  }

  test("domain mixture tempers a 4:1 source imbalance toward the sqrt law") {
    import spark.implicits._
    // srcA: 4× the token mass of srcB → natural 0.8/0.2,
    // target ∝ sqrt: 2/3 and 1/3, weights 5/6 and 5/3
    val docs = Seq(
      (1L, "a", "t t t t t t t t"),
      (2L, "a", "t t t t t t t t"),
      (3L, "b", "t t t t")
    ).toDF("doc_id", "source", "text")
    val got = Curation.domainMixFor(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    assert(got("a") == ((2L, 16L, 0.8, 0.666667, 0.833333, 13L)), s"got ${got("a")}")
    assert(got("b") == ((1L, 4L, 0.2, 0.333333, 1.666667, 6L)), s"got ${got("b")}")
  }

  test("spanCutTexts keeps the canonical occurrence and cuts later sites exactly") {
    import spark.implicits._
    // aperiodic shared boilerplate > 40 chars at the start of two docs
    // with differing tails: every duplicated window lies fully inside
    // the boilerplate, so the cut coverage in the LATER doc is exactly
    // the boilerplate span; the earlier doc owns every canonical site
    // and survives untouched.
    val boiler = "the quick brown fox jumps over the lazy dog 0123456789"
    // tails must differ at their FIRST char: a shared leading char
    // would extend the duplicated window region one past the
    // boilerplate (the windows are all 40-char substrings, not tokens)
    val d1 = boiler + " alpha tail content here"
    val d2 = boiler + "-totally different beta ending words"
    val d3 = "no shared content at all in this one"
    val got = Dedup.spanCutTexts(
        Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == d1, "canonical doc must survive untouched")
    assert(got(2L) == d2.substring(boiler.length),
      s"later doc must lose exactly the boilerplate span, got '${got(2L)}'")
    assert(got(3L) == d3, "unshared doc must survive untouched")
  }

  test("corpus_emit composes kept dispositions, span cutting, and the chunk layout") {
    val out = Curation.corpusEmit(spark, sfDir).collect()
    // 1. row set = the kept dispositions, exactly
    val keptIds = Curation.dispositionsFor(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("disposition") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet == keptIds,
      s"emitted ${out.length} rows vs ${keptIds.size} kept dispositions")
    assert(out.nonEmpty)
    // 2. n_tokens counts the CLEANED text's whitespace tokens
    assert(out.forall(r => r.getLong(3) == r.getString(2).split(" ", -1).length.toLong),
      "n_tokens must count cleaned_text tokens")
    // 3. chunk layout is the per-source prefix-sum closed form,
    //    recomputed from the output itself
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      var running = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        val n = r.getLong(3)
        assert(r.getLong(4) == running / 512 && r.getLong(6) == running % 512 &&
          r.getLong(5) == (running + n - 1) / 512,
          s"chunk layout broke at doc ${r.getLong(0)}: running=$running row=$r")
        running += n
      }
    }
  }

  test("dispositions, CC labels, and the span-cut apply are memoized per (session, dir)") {
    // r18: the CC fixpoint is the dedup family's most expensive kernel
    // and three operators consume it (dedup_groups, curate_corpus,
    // corpus_emit) — instance identity proves one run per session.
    assert(Curation.dispositionsFor(spark, sfDir) eq Curation.dispositionsFor(spark, sfDir),
      "second dispositions call must hit the (session, dir) cache")
    assert(Dedup.ccLabelsFor(spark, sfDir, 0.8) eq Dedup.ccLabelsFor(spark, sfDir, 0.8),
      "second CC-labels call must hit the (session, dir, τ) cache")
    assert(Dedup.dedupSubstringApply(spark, sfDir) eq Dedup.dedupSubstringApply(spark, sfDir),
      "the apply (and its digest companion) must share one memoized base")
    assert(graft.LocalSpark.isLineageCut(Curation.dispositionsFor(spark, sfDir)),
      "the dispositions frame must be materialized rows, not a replayable plan")
    assert(graft.LocalSpark.isLineageCut(Dedup.dedupSubstringApply(spark, sfDir)),
      "the apply frame must be materialized rows, not a replayable plan")
  }
}
