package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{ArrayWritable, IntWritable, LongWritable, SequenceFile, Writable, WritableName}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** graft's wire-compatible stand-in for the reference's value type:
  * a Hadoop `ArrayWritable` of `IntWritable` (IntArrayWritable.java:24
  * — the class body is literally `super(IntWritable.class)`; the
  * serialized form is ArrayWritable's: vint length + one IntWritable
  * per element).
  */
class IntArrayWritable extends ArrayWritable(classOf[IntWritable]) {
  def toInts: Array[Int] = get().map(_.asInstanceOf[IntWritable].get)
}

/** Ingestion adapter for the reference's actual on-disk input format:
  * Hadoop SequenceFiles of `<LongWritable seqId, IntArrayWritable
  * observations>` (BaumWelchMapper.java:45 mapper signature;
  * BaumWelchDriver.java:168 `SequenceFileInputFormat`). This is the
  * one interop piece a user migrating from the reference hits
  * immediately: their training corpora are already serialized in this
  * format.
  *
  * The reference's value class lives in Mahout's namespace, and a
  * SequenceFile header records the value class NAME — so reading a
  * genuine reference-written file requires resolving that name
  * without Mahout on the classpath. Hadoop's own extension point for
  * exactly this is [[WritableName]]: the reader resolves header names
  * through it, so aliasing the Mahout name to [[IntArrayWritable]]
  * (same wire format) makes the files readable as-is. The alias is
  * registered INSIDE the read task, not just on the driver: header
  * resolution happens wherever the reader runs, i.e. on executors.
  *
  * Scale: files are the unit of parallelism (one task per file, the
  * same contract as any container format whose reader owns the file
  * handle); a 100 TB corpus arrives as many thousands of mapper
  * outputs, so per-file tasks saturate the cluster. Records stream
  * through an iterator — a task never buffers a whole file.
  */
object SequenceFiles {

  /** The reference's value class name (IntArrayWritable.java:19). */
  val MahoutValueClass =
    "org.apache.mahout.classifier.sequencelearning.baumwelchmapreduce.IntArrayWritable"

  /** Idempotent (WritableName holds a name→class map; re-adding the
    * same mapping is a no-op overwrite). Called in every read task.
    */
  def registerMahoutAlias(): Unit =
    WritableName.addName(classOf[IntArrayWritable], MahoutValueClass)

  /** Read a SequenceFile (or a directory of them) of
    * `<LongWritable, IntArrayWritable>` → DataFrame(seq_id, syms) —
    * accepts both graft-written and genuine reference-written files
    * (the Mahout header name resolves via the alias).
    */
  def readIntArray(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val hconf = new SerializableConfiguration(sc.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
            && !s.getPath.getName.startsWith("."))
          .map(_.getPath.toString).sorted
      else Seq(path)
    sc.parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
      .flatMap { f =>
        registerMahoutAlias()
        val reader = new SequenceFile.Reader(hconf.value,
          SequenceFile.Reader.file(new Path(f)))
        val key = new LongWritable()
        new Iterator[(Long, Seq[Int])] {
          private var open = true
          private def closeOnce(): Unit = if (open) { reader.close(); open = false }
          // a task that stops early (limit/take, downstream failure, a
          // throw from getCurrentValue) never drains the iterator —
          // close on task completion, idempotently, not just at EOF
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
          private var ready = advance()
          private def advance(): Boolean = {
            val has = open && reader.next(key)
            if (!has && open) closeOnce()
            has
          }
          def hasNext: Boolean = ready
          def next(): (Long, Seq[Int]) = {
            val v = new IntArrayWritable
            reader.getCurrentValue(v)
            val row = (key.get(), v.toInts.toSeq)
            ready = advance()
            row
          }
        }
      }
      .toDF("seq_id", "syms")
  }

  /** Write DataFrame(seq_id: long, syms: array&lt;int&gt;) as a
    * SequenceFile of `<LongWritable, IntArrayWritable>` — the format
    * the reference driver consumes directly.
    */
  def writeIntArray(df: DataFrame, path: String): Unit =
    df.select(col("seq_id").cast("long"), col("syms"))
      .rdd
      .map { r =>
        val arr = new IntArrayWritable
        arr.set(r.getSeq[Int](1).map(s => new IntWritable(s): Writable).toArray)
        (new LongWritable(r.getLong(0)), arr)
      }
      .saveAsHadoopFile(path, classOf[LongWritable], classOf[IntArrayWritable],
        classOf[org.apache.hadoop.mapred.SequenceFileOutputFormat[LongWritable, IntArrayWritable]])

  /** seqfile_roundtrip query: events → per-user sequences → write as
    * the reference's SequenceFile format → read back → per-sequence
    * summary with an order-sensitive checksum. The oracle computes
    * the same summary straight from the events parquet, so a green
    * hash proves the round trip preserved every sequence exactly —
    * ids, lengths, symbols, AND order.
    */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.ScratchDir("graft_seqfile", spark, dir)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true) // rerun in-process: overwrite
    val seqs = graft.hmm.Sequencer.sequenceDs(spark, dir)
      .toDF("seq_id", "syms")
    writeIntArray(seqs, path)
    // empty sequences are legal wire format (readIntArray/writeIntArray
    // support them) even though Sequencer never emits one: guard the
    // positional probes, or ANSI element_at errors and the descending
    // sequence(1,0) null-pads the checksum
    val nonEmpty = size(col("syms")) > 0
    readIntArray(spark, path)
      .select(col("seq_id"),
        size(col("syms")).cast("long").as("n_events"),
        when(nonEmpty, element_at(col("syms"), 1)).cast("long").as("first_sym"),
        when(nonEmpty, element_at(col("syms"), -1)).cast("long").as("last_sym"),
        // (pos+1)-weighted sum: order-sensitive, exact in longs
        // (sym < |vocab|, pos < seq length — far inside 2^63)
        when(nonEmpty, expr("aggregate(zip_with(syms, sequence(1, size(syms)), " +
          "(s, i) -> CAST(s AS BIGINT) * i), 0L, (acc, x) -> acc + x)"))
          .otherwise(lit(0L)).as("checksum"))
      .orderBy("seq_id")
  }

  val roundtripSql: String =
    s"""WITH ${graft.hmm.Sequencer.vocabCte},
       |s AS (
       |  SELECT user_id, sym,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS pos1
       |  FROM events JOIN vocab USING (event_type)
       |)
       |SELECT user_id AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(arg_min(sym, pos1) AS BIGINT) AS first_sym,
       |  CAST(arg_max(sym, pos1) AS BIGINT) AS last_sym,
       |  CAST(sum(CAST(sym AS BIGINT) * pos1) AS BIGINT) AS checksum
       |FROM s GROUP BY user_id ORDER BY seq_id""".stripMargin
}
