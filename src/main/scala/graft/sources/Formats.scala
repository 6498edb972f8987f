package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ScratchDir

/** Source/sink format coverage: CSV and JSON round trips with
  * explicit schemas (never inference — inference drifts types), and a
  * partitioned parquet sink (the layout a 100 TB table actually uses:
  * partition directories enable partition pruning at read time).
  */
object Formats {

  /** customer → CSV → (schema-checked read) → JSON → read → dump.
    * Hash-equality with the original table proves both text formats
    * round-trip losslessly under explicit schemas.
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orig = Tables.customer(spark, dir)
    val schema = orig.schema
    val csvPath = ScratchDir("graft_fmt_csv", spark, dir)
    val jsonPath = ScratchDir("graft_fmt_json", spark, dir)
    orig.write.mode("overwrite").option("header", "true").csv(csvPath)
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(csvPath)
    fromCsv.write.mode("overwrite").json(jsonPath)
    spark.read.schema(schema).json(jsonPath).orderBy("c_custkey")
  }

  val formatRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** lineitem → parquet partitioned by l_returnflag → read back →
    * per-partition aggregate. The scan of one flag touches one
    * directory (partition pruning); the oracle aggregates the
    * unpartitioned original.
    */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val path = ScratchDir("graft_sink_part", spark, dir)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    spark.read.parquet(path)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        // exact decimal sums (whole-corpus magnitude — CLAUDE.md rule)
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Bucketed co-located join: orders and lineitem are written
    * bucketed (and sorted) by the join key into the session catalog,
    * then joined WITHOUT any exchange — both sides' bucketing
    * satisfies the join's distribution requirement, so the sort-merge
    * join runs bucket-local. This is THE technique for a 100 TB fact
    * table that is joined on the same key repeatedly: pay the shuffle
    * once at write time, never again at read time. The spec asserts
    * the joined plan contains zero Exchange operators; the oracle
    * checks the result equals the plain join.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // collision-resistant tag: two dataset dirs in one session must
    // never silently share a catalog table (String.hashCode would
    // collide at ~2^16 dirs by birthday bound; md5 won't)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    val (ot, lt) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
    if (!spark.catalog.tableExists(ot)) {
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", ScratchDir("graft_bkt_orders", spark, dir)).saveAsTable(ot)
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", ScratchDir("graft_bkt_lineitem", spark, dir)).saveAsTable(lt)
    }
    // merge hint: the point is the exchange-free sort-merge join, not
    // a broadcast that would happen to fit at test scale
    spark.table(ot).hint("merge")
      .join(spark.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        // DECIMAL sum, not double: this sum passes through a bucket
        // exchange, so the engines' accumulation orders differ and the
        // double sum drifts with magnitude (~1e-2 at the sfx1 tier's
        // 6e10 sums — flipped 2dp there, and any dp is a coin flip
        // whenever the sum lands within the drift of a rounding
        // boundary). Decimal addition is exact and associative, so the
        // sum is bit-identical across engines AND partitionings at any
        // scale; re-round to scale 2 before the DOUBLE cast so the
        // unscaled value stays inside 2^53, where decimal→double is a
        // single correctly-rounded step on both engines (the scale-6
        // q1 sum_charge flipped 1 ulp at the ×10 tier without this).
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(BigDecimal(1)).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
          .cast("decimal(38,2)").cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val sinkPartitionedSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Small-file compaction — the table-maintenance pass every
    * streaming-ingested 100 TB table needs: a fragmented layout (64
    * small files, simulating per-trigger commits) is rewritten to 4
    * right-sized files. The output carries BOTH the data audit
    * (per-flag counts against the original table) and the layout
    * contract (file counts before/after, read from the filesystem) —
    * the oracle pins the file counts as literals, so a regression in
    * the write path (empty partitions, AQE re-splitting an explicit
    * repartition) fails the driver hash, not just a spec.
    */
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val src = ScratchDir("graft_compact_src", spark, dir)
    val dst = ScratchDir("graft_compact_dst", spark, dir)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .repartition(64) // the fragmented as-ingested layout
      .write.mode("overwrite").parquet(src)
    def nFiles(p: String): Long =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet")).toLong
    val before = nFiles(src)
    spark.read.parquet(src)
      .repartition(4) // compacted to target-size files
      .write.mode("overwrite").parquet(dst)
    spark.read.parquet(dst)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("n_files_before", lit(before))
      .withColumn("n_files_after", lit(nFiles(dst)))
      .orderBy("l_returnflag")
  }

  val compactFilesSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  CAST(64 AS BIGINT) AS n_files_before,
      |  CAST(4 AS BIGINT) AS n_files_after
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** orders → ORC → read back with a pushed filter → dump. The third
    * columnar interchange format after parquet (native) and the text
    * formats: the NTZ order timestamp must survive the ORC round trip
    * bit-exactly (converted to epoch-µs only AFTER reading back), and
    * the price predicate reaches the ORC scan as a pushed filter +
    * stripe-level min/max skip, same as parquet row groups.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = ScratchDir("graft_fmt_orc", spark, dir)
    Tables.orders(spark, dir).write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .filter(col("o_totalprice") > 250000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"))
      .orderBy("o_orderkey")
  }

  val orcRoundtripSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  epoch_us(o_orderdate) AS odate_us
      |FROM orders WHERE o_totalprice > 250000.0
      |ORDER BY o_orderkey""".stripMargin

  /** PERMISSIVE CSV ingestion audit: customer rows serialized to raw
    * CSV text with every 11th row's acctbal deliberately corrupted to
    * a non-numeric token, read back under an explicit schema with a
    * _corrupt_record column — the malformed row lands there instead
    * of killing the job (the real-world scraped-feed ingestion
    * contract). Output: clean/corrupt counts plus the clean-row
    * balance sum, all closed-form from the source table.
    */
  def csvBadRecords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = ScratchDir("graft_fmt_badcsv", spark, dir)
    Tables.customer(spark, dir)
      .select(concat_ws(",",
        col("c_custkey"),
        col("c_name"),
        when(col("c_custkey") % 11 === 0, lit("not-a-number"))
          .otherwise(col("c_acctbal").cast("string"))).as("value"))
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        round(sum(when(col("_corrupt_record").isNull, col("c_acctbal"))), 2)
          .as("clean_balance"))
  }

  val csvBadRecordsSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  round(sum(CASE WHEN c_custkey % 11 <> 0 THEN c_acctbal END), 2)
      |    AS clean_balance
      |FROM customer""".stripMargin

  /** Parquet schema evolution: an old writer's slice (2 columns) and
    * a new writer's slice (3 columns, added priority) land in one
    * dataset dir; a mergeSchema read unions the schemas and the
    * pre-evolution rows surface NULL for the added column — the audit
    * every long-lived table needs when its producers upgrade. Split
    * rule o_orderkey % 3 = 0 → "new writer", closed-form for the
    * oracle.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = ScratchDir("graft_fmt_evo", spark, dir)
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$path/old")
    orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$path/new")
    spark.read.option("mergeSchema", "true").parquet(s"$path/old", s"$path/new")
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        // exact decimal sum (corpus-magnitude — CLAUDE.md rule): the
        // double sum reached 2.5e11 at the ×100 tier and its 2dp
        // round flipped between engines (caught by the ×100 gate)
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("priority")
  }

  val schemaEvolutionSql: String =
    """SELECT
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
      |       ELSE '(pre-evolution)' END AS priority,
      |  count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY priority ORDER BY priority""".stripMargin
}
