package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational/events boundary-fuzz corpus (round 12): the relational,
  * warehouse, windowing, and streaming-replay families are
  * oracle-verified only on the driver generator's clean data, which
  * never produces the boundary shapes real data is full of. This tool
  * appends PLANTED rows to a byte-copied sf0.001 corpus — every value
  * realistic for its domain, every one sitting exactly on a semantic
  * boundary:
  *
  *  - events: two events with an IDENTICAL (user, ts) pair (window /
  *    sessionize / keep-earliest tie), a gap of exactly 30:00.000000
  *    (the sessionize break is STRICTLY >30 min — boundary must NOT
  *    split) and 30:00.000001 (must split), a single-event user, a
  *    50-events-in-one-second burst, midnight-exact timestamps, a
  *    funnel with a cross-type timestamp tie, value = 0 / negative /
  *    NULL, and degenerate props JSON.
  *  - orders: two orders with identical (custkey, totalprice, date)
  *    (RFM / top-n tie), dates on the q4 filter boundary and the
  *    corpus minimum, a half-cent totalprice, an order for a customer
  *    with acctbal 0.
  *  - lineitem: full duplicate rows; q6 boundary shipdates (1996-01-01
  *    in, 1997-01-01 out) and discounts (0.03 / 0.07 in, 0.08 out);
  *    quantity 23 (< 24 in) vs 24 (out) vs 0; a q18 order whose
  *    quantity sum lands EXACTLY on the 300 threshold; two partkeys
  *    in one group with bit-identical revenue (top-k cut tie);
  *    l_shipdate == o_orderdate (as-of equality).
  *  - customer: acctbal exactly 0, negative acctbal, and a customer
  *    with no orders.
  *  - round 13 (the TPC-H shapes): a two-supplier F order with lines
  *    shipped at EXACTLY +60 days (on time — the q21 cut is strict)
  *    and +61 (late); a both-late order and a single-supplier late
  *    order (q21 must count neither); q12 delay-bucket edges at
  *    +0/+7/+8/+30/+31 days; a part whose 1997 flow splits exactly
  *    3/10 vs 7/10 across two suppliers (q20's 30% cut in IEEE);
  *    suppliers with acctbal exactly 1500.00 (counted) and 1499.99
  *    (blacklisted) trading an eligible q16 part.
  *
  * All planted keys extend the existing key space (new users /
  * custkeys / orderkeys), so referential integrity holds and existing
  * per-key aggregates are untouched; global aggregates change and the
  * DuckDB oracles recompute them over the same files.
  *
  * Gate (SQL-oracled non-documents queries; pins excluded — pin tiers
  * are keyed to driver corpora): tools/relfuzz_gate.sh runs exactly
  * this:
  * {{{
  * sbt -batch "runMain graft.tools.RelFuzz /root/testdata/sf0.001 /tmp/graft_relfuzz"
  * GRAFT_EXCLUDE_PINNED=1 sbt -batch "runMain graft.Verify /tmp/graft_relfuzz /tmp/verify_relfuzz <list>"
  * python3 tools/check.py /tmp/graft_relfuzz /tmp/verify_relfuzz
  * }}}
  */
object RelFuzz {

  /** The non-documents/embeddings queries with recomputable SQL
    * oracles (pinned-literal entries excluded by definition).
    * relfuzz_gate.sh extracts this list from the source.
    */
  val gateQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q4_priority", "q6_forecast",
    "q10_returned", "q13_order_dist", "q14_promo", "q15_top_supplier",
    "q17_small_qty", "q18_large_orders", "q19_disjunct", "q22_lapsed",
    "q2_min_cost", "agg_cube", "agg_rollup", "topn_per_group",
    // round 13: the remaining TPC-H shapes join the boundary gate
    "q7_volume", "q8_market_share", "q9_product_profit",
    "q11_important_stock", "q12_ship_delay", "q16_supplier_cnt",
    "q20_part_share", "q21_waiting",
    "cust_no_orders", "rfm_segment", "merge_upsert", "scd2_dim",
    "bucketed_join", "incr_agg_merge", "skew_join_salted", "key_skew_audit",
    "dq_profile", "group_percentiles", "mad_outliers", "equi_depth_hist",
    "window_range_frame", "window_running", "window_session_native",
    "sessionize", "asof_join", "asof_forward", "event_funnel",
    "attribution", "events_json", "events_retention", "ewma_user",
    "pivot_events", "range_join", "ts_gapfill", "cooccur_lift",
    "pagerank", "seq_vocab", "seq_build", "seq_stats", "seqfile_roundtrip",
    "hmm_supervised", "hmm_model_io",
    "stream_session_agg", "stream_enrich", "stream_join", "stream_upsert",
    "stream_topk", "stream_dedup", "stream_sessionize",
    "compact_files", "csv_badrecords", "events_json", "format_roundtrip",
    "orc_roundtrip", "sink_partitioned", "zorder_layout",
    "dedup_embedding", "knn_brute", "label_centroids", "vec_norms",
    "vec_quantize")

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out  = args.lift(1).getOrElse("/tmp/graft_relfuzz")
    Files.createDirectories(Paths.get(out))
    // byte-copy the tables this tool does not perturb
    Seq("region", "nation", "part", "documents")
      .foreach { t =>
        Files.copy(Paths.get(s"$base/$t.parquet"), Paths.get(s"$out/$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    val spark = graft.LocalSession("graft-relfuzz")
    import spark.implicits._

    // ---- events ------------------------------------------------------
    // (event_id, ts, user_id, event_type, value: java.lang.Double, props)
    val B = "2024-01-15 "
    val burst = (0 until 50).map { i =>
      (2000L + i, ts(B + "06:00:00.5"), 22L,
        Seq("view", "click", "purchase", "error", "signup")(i % 5),
        java.lang.Double.valueOf(if (i == 7) 0.0 else if (i == 13) -12.5 else i * 1.25),
        s"""{"k": $i}""")
    }
    val planted = Seq(
      // u20: identical-ts tie, then the strict->30min boundary pair
      (1900L, ts(B + "01:00:00"),        20L, "view",     java.lang.Double.valueOf(10.0), """{"k": 1}"""),
      (1901L, ts(B + "01:00:00"),        20L, "click",    java.lang.Double.valueOf(20.0), """{"k": 2}"""),
      (1902L, ts(B + "01:30:00"),        20L, "view",     java.lang.Double.valueOf(5.5),  """{}"""),
      (1903L, ts(B + "02:00:00.000001"), 20L, "purchase", java.lang.Double.valueOf(99.99), """{"k": -1}"""),
      // u21: single-event user
      (1910L, ts(B + "03:00:00"),        21L, "signup",   java.lang.Double.valueOf(0.0),  """{"k": 0}"""),
      // u23: midnight-exact pair a day apart
      (1920L, ts("2024-01-15 00:00:00"), 23L, "view",     java.lang.Double.valueOf(1.0),  """{"k": 3}"""),
      (1921L, ts("2024-01-16 00:00:00"), 23L, "purchase", java.lang.Double.valueOf(250.0), """{"k": 2147483647}"""),
      // u24: funnel with a cross-type tie (click and purchase same ts)
      (1930L, ts(B + "09:00:00"), 24L, "signup",   java.lang.Double.valueOf(0.0),  """{"k": 4}"""),
      (1931L, ts(B + "09:05:00"), 24L, "view",     java.lang.Double.valueOf(3.0),  """{"k": 5}"""),
      (1932L, ts(B + "09:10:00"), 24L, "click",    java.lang.Double.valueOf(4.0),  """{"k": 6}"""),
      (1933L, ts(B + "09:10:00"), 24L, "purchase", java.lang.Double.valueOf(150.0), """{"k": 7}"""),
      // NULL value (profiled, summed-over by everything else)
      (1940L, ts(B + "10:00:00"), 23L, "error", null.asInstanceOf[java.lang.Double], """{"k": 8}""")
    ) ++ burst
    val eventsNew = planted.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Tables.events(spark, base)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .unionByName(eventsNew)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/events.parquet")

    // ---- supplier (round 13) -----------------------------------------
    // the q16 blacklist cut is STRICTLY s_acctbal < 1500: plant one
    // supplier exactly AT the boundary (must stay counted) and one a
    // cent below (must be excluded); both trade an eligible part below
    // planted keys must EXTEND the base key space, never collide with
    // it (the base table spans s_suppkey 0-99; a colliding plant would
    // duplicate a primary key and silently dilute the boundary intent
    // — advisor catch, round 13). Same convention as custkey 150 and
    // orderkey 1500+ below. Asserted, not assumed.
    val suppNew = Seq(
      (200L, "Supplier#000000200", 3, 1500.0),
      (201L, "Supplier#000000201", 8, 1499.99)
    ).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .withColumn("s_nationkey", col("s_nationkey").cast("int"))
    val suppBase = spark.read.parquet(s"$base/supplier.parquet")
    val suppCollide = suppBase.join(suppNew.select("s_suppkey"), "s_suppkey").count()
    require(suppCollide == 0,
      s"planted supplier keys collide with $suppCollide base rows — move them past the base key range")
    suppBase
      .unionByName(suppNew)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // a part passing q16's filter (brand/type/size predicate), picked
    // from the real table so the boundary suppliers land in a counted
    // group
    val eligPart = spark.read.parquet(s"$base/part.parquet")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40))
      .select(col("p_partkey")).orderBy(col("p_partkey")).first().getLong(0)

    // ---- customer ----------------------------------------------------
    val custNew = Seq(
      (150L, "Customer#000000150", 2,  0.0,     "FURNITURE"),   // acctbal exactly 0
      (151L, "Customer#000000151", 19, -999.99, "MACHINERY"),   // negative balance
      (152L, "Customer#000000152", 7,  500.5,   "BUILDING")     // no orders ever
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int"))
    spark.read.parquet(s"$base/customer.parquet")
      .unionByName(custNew)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/customer.parquet")

    // ---- orders ------------------------------------------------------
    val ordersNew = Seq(
      // identical (custkey, totalprice, date) pair: RFM / top-n tie
      (1500L, 85L, "O", 50000.0,    ts("1999-06-15 00:00:00"), "2-HIGH"),
      (1501L, 85L, "O", 50000.0,    ts("1999-06-15 00:00:00"), "2-HIGH"),
      (1502L, 134L, "F", 75000.25,  ts("1996-10-01 00:00:00"), "1-URGENT"), // q4 filter lower boundary
      (1503L, 13L, "F", 120000.0,   ts("1995-01-01 00:00:00"), "5-LOW"),    // corpus minimum date
      (1504L, 150L, "O", 30000.0,   ts("2000-03-01 00:00:00"), "3-MEDIUM"), // zero-balance customer
      (1505L, 42L, "O", 200000.0,   ts("2000-05-05 00:00:00"), "2-HIGH"),   // q18: sum(qty) == 300 exactly
      (1506L, 99L, "P", 100000.005, ts("1998-02-28 00:00:00"), "4-NOT SPECIFIED"), // half-cent price
      // round 13 — q21/q12/q20 boundary orders
      (1507L, 85L, "F", 40000.0, ts("1996-03-01 00:00:00"), "1-URGENT"),  // q21: 60-vs-61-day pair
      (1508L, 42L, "F", 41000.0, ts("1996-03-01 00:00:00"), "3-MEDIUM"),  // q21: TWO late suppliers
      (1509L, 13L, "F", 42000.0, ts("1996-03-01 00:00:00"), "5-LOW"),     // q21: single-supplier order
      (1510L, 99L, "O", 43000.0, ts("1996-06-01 00:00:00"), "1-URGENT"),  // q12: bucket-edge delays
      (1511L, 134L, "O", 44000.0, ts("1997-05-20 00:00:00"), "2-HIGH")    // q20: exact-30% part flow
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    spark.read.parquet(s"$base/orders.parquet")
      .unionByName(ordersNew.withColumn("o_orderdate",
        col("o_orderdate").cast(spark.read.parquet(s"$base/orders.parquet").schema("o_orderdate").dataType)))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // ---- lineitem ----------------------------------------------------
    // (orderkey, partkey, suppkey, linenumber, qty, extprice, disc, tax, rflag, lstatus, shipdate)
    val li = Seq(
      // 1500: FULL duplicate pair; q6 lower shipdate boundary IN, disc 0.05 mid-band
      (1500L, 10L, 1L, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", ts("1996-01-01 00:00:00")),
      (1500L, 10L, 1L, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", ts("1996-01-01 00:00:00")),
      // 1501: q6 band edges — 1996-12-31 IN / 1997-01-01 OUT (exclusive);
      // disc 0.03 / 0.07 IN, 0.08 OUT; qty 23 IN (<24) vs 24 OUT
      (1501L, 11L, 2L, 1, 23.0, 2000.0, 0.03, 0.01, "N", "O", ts("1996-12-31 00:00:00")),
      (1501L, 12L, 3L, 2, 23.0, 2000.0, 0.07, 0.01, "N", "O", ts("1996-12-31 00:00:00")),
      (1501L, 13L, 4L, 3, 23.0, 2000.0, 0.08, 0.01, "N", "O", ts("1996-06-15 00:00:00")),
      (1501L, 14L, 5L, 4, 24.0, 2000.0, 0.05, 0.01, "N", "O", ts("1996-06-15 00:00:00")),
      (1501L, 15L, 6L, 5, 23.0, 2000.0, 0.05, 0.01, "N", "O", ts("1997-01-01 00:00:00")),
      // 1502: zero quantity + a returned line
      (1502L, 16L, 7L, 1, 0.0,  500.0,  0.0,  0.0,  "N", "O", ts("1996-10-02 00:00:00")),
      (1502L, 17L, 8L, 2, 5.0,  800.0,  0.1,  0.04, "R", "F", ts("1996-11-15 00:00:00")),
      // 1503: two partkeys, bit-identical revenue (top-k cut tie)
      (1503L, 18L, 9L, 1, 7.0,  3000.0, 0.0,  0.02, "A", "F", ts("1995-02-01 00:00:00")),
      (1503L, 19L, 1L, 2, 7.0,  3000.0, 0.0,  0.02, "A", "F", ts("1995-02-01 00:00:00")),
      // 1504: l_shipdate == o_orderdate (as-of equality boundary)
      (1504L, 20L, 2L, 1, 12.0, 1500.0, 0.04, 0.03, "N", "O", ts("2000-03-01 00:00:00")),
      // 1505: six lines of 50 ⇒ sum(qty) == 300, the q18 threshold
      (1505L, 21L, 3L, 1, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-06 00:00:00")),
      (1505L, 22L, 4L, 2, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-06 00:00:00")),
      (1505L, 23L, 5L, 3, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-07 00:00:00")),
      (1505L, 24L, 6L, 4, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-07 00:00:00")),
      (1505L, 25L, 7L, 5, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-08 00:00:00")),
      (1505L, 26L, 8L, 6, 50.0, 5000.0, 0.02, 0.01, "N", "O", ts("2000-05-08 00:00:00")),
      // 1506: half-cent line price
      (1506L, 27L, 9L, 1, 3.0, 333.335, 0.0, 0.0, "N", "O", ts("1998-03-01 00:00:00")),
      // 1507 (round 13): the q21 lateness cut is STRICTLY >60 days —
      // supplier 1 ships at EXACTLY +60 (on time), supplier 2 at +61
      // (late) ⇒ a two-supplier sole-late order on both boundary sides
      (1507L, 30L, 1L, 1, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-04-30 00:00:00")),
      (1507L, 31L, 2L, 2, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-05-01 00:00:00")),
      // 1508: BOTH suppliers late ⇒ q21 must NOT count either
      (1508L, 32L, 3L, 1, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-06-01 00:00:00")),
      (1508L, 33L, 4L, 2, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-06-10 00:00:00")),
      // 1509: single-supplier late order ⇒ q21 must NOT count it
      (1509L, 34L, 5L, 1, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-07-01 00:00:00")),
      (1509L, 35L, 5L, 2, 4.0, 700.0, 0.0, 0.0, "N", "F", ts("1996-07-02 00:00:00")),
      // 1510: q12 delay-bucket edges — +0/+7 (week, 7 inclusive),
      // +8/+30 (month, 30 inclusive), +31 (late)
      (1510L, 36L, 6L, 1, 2.0, 300.0, 0.0, 0.0, "N", "O", ts("1996-06-01 00:00:00")),
      (1510L, 37L, 7L, 2, 2.0, 300.0, 0.0, 0.0, "N", "O", ts("1996-06-08 00:00:00")),
      (1510L, 38L, 8L, 3, 2.0, 300.0, 0.0, 0.0, "N", "O", ts("1996-06-09 00:00:00")),
      (1510L, 39L, 9L, 4, 2.0, 300.0, 0.0, 0.0, "N", "O", ts("1996-07-01 00:00:00")),
      (1510L, 40L, 1L, 5, 2.0, 300.0, 0.0, 0.0, "N", "O", ts("1996-07-02 00:00:00")),
      // 1511: q20 share boundary — a fresh partkey (300, deliberately
      // absent from part: q20 never joins part, and dangling keys drop
      // out of every inner join) with 1997 flow split EXACTLY 3/10 vs
      // 7/10: 3 > 0.3·10 is FALSE in IEEE on both engines (0.3·10
      // rounds to exactly 3.0), so only the 7-unit supplier is dominant
      (1511L, 300L, 2L, 1, 3.0, 450.0, 0.0, 0.0, "N", "O", ts("1997-06-01 00:00:00")),
      (1511L, 300L, 3L, 2, 7.0, 450.0, 0.0, 0.0, "N", "O", ts("1997-06-01 00:00:00")),
      // the q16 boundary suppliers trade an ELIGIBLE part so the
      // 1500.00-vs-1499.99 acctbal cut is visible in a counted group
      (1511L, eligPart, 200L, 3, 1.0, 100.0, 0.0, 0.0, "N", "O", ts("1997-06-02 00:00:00")),
      (1511L, eligPart, 201L, 4, 1.0, 100.0, 0.0, 0.0, "N", "O", ts("1997-06-03 00:00:00")),
      // 1512 (round 16): a PRICELESS returnflag group — every "Z" line
      // has extendedprice <= 0 (a failed-feed shape), so approx_stats'
      // log-bucket quantile relation is EMPTY for Z and only the
      // left-join branch keeps the group in the profile (NULL p50/p95,
      // distinct-order estimate intact). Whole numbers keep every
      // rounded revenue sum off half-cent boundaries.
      (1512L, 41L, 1L, 1, 2.0, 0.0,    0.0, 0.0, "Z", "F", ts("1996-08-01 00:00:00")),
      (1512L, 42L, 2L, 2, 2.0, -100.0, 0.0, 0.0, "Z", "F", ts("1996-08-02 00:00:00")),
      (1513L, 43L, 3L, 1, 3.0, 0.0,    0.0, 0.0, "Z", "F", ts("1996-08-03 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_linenumber", col("l_linenumber").cast("int"))
    spark.read.parquet(s"$base/lineitem.parquet")
      .unionByName(li.withColumn("l_shipdate",
        col("l_shipdate").cast(spark.read.parquet(s"$base/lineitem.parquet").schema("l_shipdate").dataType)))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ---- embeddings --------------------------------------------------
    // one ALL-ZERO vector — the realistic failed-encoder output. It has
    // no direction: cosine is undefined and an unguarded division
    // aborts the whole query under ANSI (finding R3). Cosine operators
    // must exclude it; norm/quantize/centroid operators must absorb it.
    val embBase = spark.read.parquet(s"$base/embeddings.parquet")
    val dim = embBase.selectExpr("size(embedding) AS d").first().getInt(0)
    val zeroVec = Seq((500L, Seq.fill(dim)(0.0f), 3))
      .toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int"))
      .withColumn("embedding", col("embedding").cast(embBase.schema("embedding").dataType))
    embBase.unionByName(zeroVec)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    System.err.println(s"[relfuzz] wrote boundary corpus to $out " +
      s"(+${planted.size} events, +3 customers, +2 suppliers, +12 orders, +37 lineitems incl. the priceless Z returnflag group)")
    spark.stop()
  }
}
