package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Self-scaled correctness tier: writes a corpus K× the base SF by
  * unioning K key-remapped copies of every table, preserving
  * referential integrity (each copy's foreign keys shift by the same
  * per-entity offset, so joins land inside their own copy; copy 0 is
  * the identity, so the base corpus is a subset).
  *
  * Motivation (round-11 verdict): two real bugs in this project's
  * history were invisible below a magnitude threshold (bucketed_join's
  * 4dp sum drift appeared only at sf0.1; q2_min_cost's half-boundary
  * round flip only at sf0.001). This tool manufactures the next
  * magnitude tier (sf0.1 × 10 ≈ sf1: 6M lineitem rows) without driver
  * support; the oracled gate then runs over it unchanged:
  *
  * {{{
  * sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sfx1 10"
  * GRAFT_EXCLUDE_PINNED=1 SPARK_GRAFT_CPUS=32 \
  *   sbt -batch "runMain graft.Verify /tmp/graft_sfx1 /tmp/verify_sfx1"
  * python3 tools/check.py /tmp/graft_sfx1 /tmp/verify_sfx1
  * }}}
  *
  * Pinned-literal oracles are excluded (GRAFT_EXCLUDE_PINNED): pins are
  * captured against the driver corpus per tier, and this corpus is a
  * different one that merely lands in tier 3's lineitem-count range.
  *
  * Dedup semantics at this tier are deliberately adversarial: document
  * text is replicated verbatim K times under distinct doc_ids, so every
  * content group becomes a K-clique of exact duplicates — a realistic
  * stress of the LSH banding, PPJoin, and connected-components paths
  * (the oracle recomputes over the same corpus, so the compare stays
  * exact).
  *
  * Scale shape: one scan per table crossJoined with a broadcast
  * K-row copy index — no per-copy rescan, no shuffle (writes are
  * scan-partitioned).
  */
object ScaleUp {

  // per-entity key offsets; one copy's id space never collides with
  // another's at any supported K (offsets ≫ base cardinality × K).
  // Public: ScaleInvariants derives closed-form expected outputs from
  // these same constants.
  val CustOff  = 10000000L // also events.user_id (same id space)
  val SuppOff  = 10000000L
  val PartOff  = 10000000L
  val OrderOff = 100000000L
  val EventOff = 1000000000L
  val DocOff   = 10000000L
  val VecOff   = 10000000L

  def main(args: Array[String]): Unit = {
    val base   = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out    = args.lift(1).getOrElse("/tmp/graft_sfx1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val skew   = args.contains("--skew")
    val spark = graft.LocalSession("graft-scale-up")
    scale(spark, base, out, copies, skew)
    spark.stop()
  }

  /** Fraction (percent) of CLONE-copy rows whose foreign key is
    * redirected onto the head entity in skew mode. At 70% of the
    * non-base copies, a K=10 skew corpus puts ~63% of all fact mass
    * on one key — ~100× a uniform key's share, the Zipf-head shape
    * real corpora have. */
  val SkewHotPct = 70

  /** Session-injected body so specs can build small scaled corpora.
    *
    * `skew = true` (round 14) builds the ADVERSARIAL-SKEW tier: the
    * same clone construction, but [[SkewHotPct]]% of each non-base
    * copy's fact rows redirect their foreign keys onto the BASE
    * corpus's first entity (min key) — hot customer, hot supplier,
    * hot part, hot user — and the same fraction of cloned events
    * collapse onto one hot event type. Redirection targets exist in
    * copy 0, so referential integrity still holds; the selection hash
    * is keyed on the row id, so the corpus is deterministic. Uniform
    * clones prove scale; this tier proves the SKEW machinery (AQE
    * skew-join split, salted join, hot-user sessionization) on a
    * corpus whose head key carries ~100× the uniform share — checked
    * by graft.tools.SkewAudit and the layout gate, not the DuckDB
    * oracles (the oracle gate runs on the uniform tiers).
    */
  def scale(spark: SparkSession, base: String, out: String, copies: Int,
      skew: Boolean = false): Unit = {
    val copyIdx = broadcast(spark.range(copies).toDF("copy_i"))

    def scaled(df: DataFrame, keyOffsets: (String, Long)*): DataFrame = {
      val shifted = keyOffsets.foldLeft(df.crossJoin(copyIdx)) {
        case (d, (c, off)) => d.withColumn(c, col(c) + col("copy_i") * off)
      }
      shifted.drop("copy_i")
    }

    def write(name: String, df: DataFrame): Unit = {
      // Do NOT inherit the base file's single-split layout: the base
      // tables are one small file each, so the cloned output would land
      // as ONE part file — every downstream scan becomes one map task,
      // which under-parallelizes the scaled tiers and makes AQE's
      // skew-join split structurally impossible (split specs are
      // map-range unions; one map is indivisible — found by SkewAudit:
      // the hot reducer carried 3.8M rows from a single map output and
      // OptimizeSkewedJoin correctly declined). Round-robin repartition
      // is content-deterministic (local sort before redistribution), so
      // pin-tier-4 reproducibility is unaffected.
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] $name written")
    }

    // head entities for skew mode: the base corpus's min keys (they
    // exist in copy 0, so redirected FKs never dangle)
    def minKey(df: DataFrame, c: String): Long =
      df.agg(min(col(c))).first().getLong(0)
    lazy val hotCust = minKey(Tables.customer(spark, base), "c_custkey")
    lazy val hotSupp = minKey(Tables.supplier(spark, base), "s_suppkey")
    lazy val hotPart = minKey(Tables.part(spark, base), "p_partkey")
    lazy val hotType = Tables.events(spark, base)
      .groupBy("event_type").count().orderBy(col("count").desc, col("event_type"))
      .first().getString(0)

    /** Redirect each FK to its head entity on SkewHotPct% of
      * NON-BASE-copy rows (a cloned FK sits at or above its clone
      * offset; copy 0 — the base corpus — is never touched), selected
      * by a hash of the row id so the corpus is deterministic. Runs
      * AFTER the clone shift, so `idCol` is already copy-unique. */
    def skewed(df: DataFrame, idCol: String, redirects: (String, Column)*): DataFrame =
      if (!skew) df
      else {
        val hotRow = pmod(xxhash64(col(idCol)), lit(100)) < lit(SkewHotPct)
        redirects.foldLeft(df) { case (d, (c, hot)) =>
          d.withColumn(c, when(hotRow && col(c) >= lit(minOffsetOf(c)), hot).otherwise(col(c)))
        }
      }

    // fixed dims: one copy (25 nations / 5 regions are the TPC-H
    // constants every copy's foreign keys point into)
    write("region", Tables.region(spark, base))
    write("nation", Tables.nation(spark, base))

    write("customer", scaled(Tables.customer(spark, base), "c_custkey" -> CustOff))
    write("supplier", scaled(Tables.supplier(spark, base), "s_suppkey" -> SuppOff))
    write("part", scaled(Tables.part(spark, base), "p_partkey" -> PartOff))
    write("orders", skewed(
      scaled(Tables.orders(spark, base), "o_orderkey" -> OrderOff, "o_custkey" -> CustOff),
      "o_orderkey", "o_custkey" -> lit(hotCust)))
    write("lineitem", skewed(
      scaled(Tables.lineitem(spark, base),
        "l_orderkey" -> OrderOff, "l_partkey" -> PartOff, "l_suppkey" -> SuppOff),
      "l_orderkey", "l_partkey" -> lit(hotPart), "l_suppkey" -> lit(hotSupp)))
    // events read through Tables.events so ts is normalized to a µs
    // TimestampType instant regardless of the base's physical encoding
    val ev = scaled(Tables.events(spark, base), "event_id" -> EventOff, "user_id" -> CustOff)
    val evSkewed =
      if (!skew) ev
      else {
        val hotRow = pmod(xxhash64(col("event_id")), lit(100)) < lit(SkewHotPct)
        val cloned = col("event_id") >= lit(EventOff)
        ev
          .withColumn("user_id",
            when(hotRow && cloned, lit(hotCust)).otherwise(col("user_id")))
          .withColumn("event_type",
            when(hotRow && cloned, lit(hotType)).otherwise(col("event_type")))
      }
    write("events", evSkewed)
    write("documents", scaled(Tables.documents(spark, base), "doc_id" -> DocOff))
    write("embeddings", scaled(Tables.embeddings(spark, base), "vec_id" -> VecOff))

    System.err.println(s"[scaleup] done: $out = $base x $copies" +
      (if (skew) s" (skewed: $SkewHotPct% of clone fact rows on the head keys)" else ""))
  }

  /** Clone-shift offset of a foreign-key column — rows at or above it
    * are clones (copy ≥ 1) and eligible for skew redirection. */
  private def minOffsetOf(c: String): Long = c match {
    case "o_custkey"  => CustOff
    case "l_partkey"  => PartOff
    case "l_suppkey"  => SuppOff
    case other        => sys.error(s"no skew offset for column $other")
  }
}
