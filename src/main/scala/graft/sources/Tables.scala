package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Schema-checked readers for the driver-generated parquet tables
  * (see TESTDATA.md). All graft operators read through here so the
  * scan layer stays in one place (column pruning / filter pushdown is
  * then visible per-operator in `.explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cache key for everything derived from a table, read only by
    * [[graft.Memo]] (its frames, and its pure-data values: Lloyd
    * centroids, PQ codebooks, BPE merge tables, trained models,
    * Sequencer's vocabulary and sequences): `dir`
    * plus a cheap content signature — a 64-bit hash of (leaf name,
    * length, mtime) per backing file, folded in name order. Corpora
    * HAVE been regenerated in place mid-JVM (round 8, CLAUDE.md); with
    * the signature in the key a rewrite is a cache MISS, never a stale
    * hit (r19, ADVICE r18) — 64 bits so that a hash collision between
    * the old and new file cannot be one either. One FS listing per
    * cache probe — nothing at scale.
    */
  def contentKey(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .map(sig).foldLeft(1L)((a, h) => a * 1000003L + h)
      else org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}"), 42L)
    val s0 =
      try { if (fs.exists(p)) sig(fs.getFileStatus(p)) else 0L }
      catch { case _: java.io.IOException => 0L }
    f"$dir@$s0%x"
  }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** The physical encoding of `events.ts` is NOT under our control and
    * has genuinely varied across data generations: INT64
    * TIMESTAMP(NANOS) (read as long under nanosAsLong), parquet
    * timestamp[us] without timezone (Spark TIMESTAMP_NTZ), and
    * timestamp[us] with timezone (TIMESTAMP_LTZ). A production engine
    * reading customer parquet must accept all three, so the reader
    * branches on the SCANNED dtype and normalizes to a session-local
    * TimestampType instant at microsecond resolution — every
    * downstream `unix_micros(ts)` then works unchanged.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** Normalize a scanned `ts` column to TimestampType (µs instant):
    *  - LongType: nanos-since-epoch under nanosAsLong → integer-divide
    *    to µs (nanos ~1.7e18 overflows double precision, so no FP
    *    division); DuckDB's ::TIMESTAMP cast truncates ns→µs the same.
    *  - TIMESTAMP_NTZ: wall-clock µs → cast; the session timezone is
    *    UTC so the instant is preserved (same rule as o_orderdate).
    *  - TimestampType: already an instant, pass through.
    * Any other dtype is a loud error — a silently misread timestamp
    * column is the worst failure class (plausible wrong answers).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other: DataType =>
      throw new IllegalStateException(
        s"events.ts has unsupported physical type $other; " +
          "expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
