package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}


/** Adversarial-content differential-fuzz corpus (round-12 verdict
  * item 4): the text/dedup/curation family is oracle-verified only on
  * the driver generator's clean ASCII corpus, which can't surface
  * cross-engine divergence in regex/locale/normalization behavior.
  * This tool manufactures a corpus whose `documents` table is planted
  * with the content classes most likely to split Spark and DuckDB --
  * empty/whitespace-only/1-char docs, NFC-vs-NFD combining sequences,
  * astral-plane emoji and ZWJ sequences, RTL and mixed scripts,
  * locale-sensitive casings (dotless i, sharp s), regex
  * metacharacters, unicode spaces (NBSP/EM SPACE/ZWSP), embedded
  * control chars and a NUL byte, megabyte docs (one all-repetition,
  * one all-unique), PII patterns, plus exact- and near-duplicate
  * pairs so the dedup family has real work. Every other table is
  * byte-copied from the base SF so the full Verify contract (events
  * tripwire, joins) still holds.
  *
  * All non-ASCII content is written as explicit unicode escapes so
  * the planted byte sequences are reviewable and immune to editor
  * normalization (this source file is pure ASCII; generated by
  * tools/gen_fuzz_corpus.py, hand-maintained afterwards).
  *
  * Gate (documents-derived, SQL-oracled queries only; pins excluded --
  * pin tiers are keyed to the driver corpora); tools/fuzz_gate.sh
  * runs exactly this:
  * {{{
  * sbt -batch "runMain graft.tools.FuzzCorpus /root/testdata/sf0.001 /tmp/graft_fuzz"
  * GRAFT_EXCLUDE_PINNED=1 sbt -batch "runMain graft.Verify /tmp/graft_fuzz /tmp/verify_fuzz <text-family list>"
  * python3 tools/check.py /tmp/graft_fuzz /tmp/verify_fuzz
  * }}}
  */
object FuzzCorpus {

  /** The documents-derived queries with recomputable SQL oracles -- the
    * fuzz gate's query list (pinned queries excluded by definition;
    * embedding/similarity queries keep the base embeddings table and
    * gain nothing from text fuzz). */
  val gateQueries: Seq[String] = Seq(
    "text_tokens", "text_langid", "text_quality", "text_fingerprint",
    "text_repetition", "lm_perplexity", "pii_scrub", "bm25_topk",
    "tfidf_keywords", "token_len_hist", "text_zipf", "ngram_top",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_span", "dedup_substring",
    "dedup_substring_apply", "dedup_groups", "dedup_incremental",
    // r17: hostile content THROUGH the stateful streaming path —
    // megadoc in state, NFC/NFD twins, dup pairs. NOTE: comments in
    // this block must not end with a close-paren: fuzz_gate.sh's sed
    // range ends at the first line ending in one.
    "stream_doc_dedup",
    "corpus_filter", "curate_corpus", "corpus_emit", "domain_mix", "pack_chunks",
    "contam_ngram", "contam_bloom", "contam_minhash",
    "sample_hash", "stratified_sample", "holdout_splits",
    "media_meta", "media_parse", "media_framesample", "media_audio_stats",
    "media_dedup", "media_audio_dedup")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs: Seq[Doc] = {
    val adversarial: Seq[String] = Seq(
      /* 0: empty */ "",
      /* 1: single char */ "a",
      /* 2: whitespace only */ "   ",
      /* 3: NFD (combining accents) */ "cafe\u0301 cafe\u0301 re\u0301sume\u0301 normalization twins",
      /* 4: NFC twin of 3 (binary-different, NFC-equal) */ "caf\u00e9 caf\u00e9 r\u00e9sum\u00e9 normalization twins",
      /* 5: regex metachars */ ".* +? ^$ () [] {} | \\ regex .* metacharacters (a|b)* [c-z]+ scattered",
      /* 6: quotes */ "it's a \"quoted\" `backtick` 'single' text with ''doubled'' quotes",
      /* 7: astral emoji */ "\ud83d\ude00 \ud83d\ude80 astral plane emoji \ud83d\ude00\ud83d\ude80 repeated \ud83d\ude00",
      /* 8: CJK */ "\u6f22\u5b57 \u6d4b\u8bd5 \u6587\u672c \u6c49\u5b57 \u6d4b\u8bd5 \u4e2d\u6587 \u5206\u8bcd \u8fb9\u754c",
      /* 9: RTL arabic */ "\u0627\u062e\u062a\u0628\u0627\u0631 \u0627\u0644\u0646\u0635 \u0627\u0644\u0639\u0631\u0628\u064a \u0645\u0639 \u0627\u0644\u0627\u062a\u062c\u0627\u0647",
      /* 10: embedded newlines/tabs */ "line one\u000aline two\u000d\u000aline three\u0009tabbed end",
      /* 11: dotless i casing trap */ "\u0130stanbul ISTANBUL istanbul \u0131 dotless casing trap",
      /* 12: NUL + control chars */ "null\u0000byte embedded \u0001 control \u0007 chars",
      /* 13: one giant token */ "x" * 10000,
      /* 14: megadoc, all repetition (1 distinct shingle) */ Array.fill(200000)("spam").mkString(" "),
      /* 15: megadoc, all unique tokens */ (0 until 140000).map(i => "w" + i).mkString(" "),
      /* 16: numeric */ "0 1 2 3 42 4242 12345678901234567890 3.14159 -17 1e308",
      /* 17: punctuation only */ "!!! ??? ... ,,, ;;; ::: --- ___ ~~~ ###",
      /* 18: PII patterns */ "contact john.doe@example.com or +1-555-123-4567 ssn 123-45-6789 card 4111 1111 1111 1111",
      /* 19: unicode spaces NBSP/EMSP/ZWSP */ "word\u00a0nbsp\u2003emspace\u200bzwsp word plain again",
      /* 20: mixed scripts */ "latin \u043a\u0438\u0440\u0438\u043b\u043b\u0438\u0446\u0430 \u03b5\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03ac \u3072\u3089\u304c\u306a mixed scripts",
      /* 21: sharp s casing */ "STRASSE stra\u00dfe Stra\u00dfe sharp s casing",
      /* 22: stacked combining marks */ "a\u0301\u0302\u0303\u0304 stacked z\u0300\u0301 combining marks",
      /* 23: ZWJ sequences */ "\ud83d\udc68\u200d\ud83d\udc69\u200d\ud83d\udc67\u200d\ud83d\udc66 family zwj sequence \ud83c\udff3\ufe0f\u200d\ud83c\udf08 flag",
      /* 24 */ "the quick brown fox jumps over the lazy dog near the river bank today",
      /* 25: exact dup of 24 */ "the quick brown fox jumps over the lazy dog near the river bank today",
      /* 26: exact dup of 7 */ "\ud83d\ude00 \ud83d\ude80 astral plane emoji \ud83d\ude00\ud83d\ude80 repeated \ud83d\ude00",
      /* 27 */ "spark query engine shuffles the partition data across every worker node tonight quickly",
      /* 28: near dup of 27 */ "spark query engine shuffles the partition data across every worker node today quickly",
      /* 29: stopword heavy */ "the the the of of and and a a in in the of and the")
    // filler in the generator's own register so scoring/sampling
    // queries have non-degenerate mass (seeded: content is fixed at
    // write time; both engines read the same file)
    val vocab = Array("spark", "group", "query", "row", "data", "slow", "small",
      "filter", "customer", "line", "the", "batch", "value", "join", "window",
      "stream", "sort", "merge", "fast", "key", "order", "table", "scan", "part", "hash")
    val rnd = new java.util.Random(7)
    val filler = (0 until 20).map { _ =>
      (0 until (30 + rnd.nextInt(50))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val langs = Array("en", "es", "de", "zh", "fr")
    val sources = Array("src0", "src1", "src2", "src3", "src4")
    (adversarial ++ filler).zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, langs(i % langs.length), sources(i % sources.length),
        t.codePointCount(0, t.length).toLong)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out  = args.lift(1).getOrElse("/tmp/graft_fuzz")
    Files.createDirectories(Paths.get(out))
    // byte-copy every non-documents table (driver tiers store one file
    // per table) so joins, the events tripwire, and the content-
    // addressed contamination benchmark all run unchanged
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$base/$t.parquet"), Paths.get(s"$out/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val spark = graft.LocalSession("graft-fuzz-corpus")
    import spark.implicits._
    docs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$out/documents.parquet")
    System.err.println(s"[fuzz] wrote ${docs.size} adversarial documents to $out")
    spark.stop()
  }
}
