package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** Structured Streaming jobs (SURVEY.md §2.8) — the streaming analog
  * of the batch sessionize/window aggregations: readStream over the
  * events parquet, event-time tumbling window + watermark, windowed
  * aggregate.
  *
  * The driver-facing queries run the stream to completion over the
  * static directory in COMPLETE output mode so the full result is
  * comparable to the batch equivalent. Note: complete mode retains all
  * aggregation state (the watermark is declared but does not evict) —
  * fine for a finite test corpus. Pointing the same transform at an
  * unbounded production source requires `update`/`append` output mode,
  * where the declared 30-minute watermark DOES bound state to the
  * horizon, partitioned by group key across executors.
  *
  * Runner contract: every in-process run (memory sink or foreachBatch)
  * goes through ONE drain — [[drain]] sizes the state partitions,
  * starts the query, runs it to exhaustion and stops it. A memory-sink
  * run ([[toMemory]]) then drops its sink view before returning, so no
  * call leaves a table in the caller's catalog; the returned frame's
  * analyzed plan holds the sink itself, so it still reads the rows.
  * The startCheckpointed* production starters are not runners: their
  * callers own the returned query.
  */
object StreamingJobs {

  /** Schema-probed streaming reader over the events files matched by
    * `glob` under `dir`, with `ts` normalized to a TimestampType µs
    * instant.
    *
    * NEVER re-declare a parquet column's physical type in a readStream
    * schema you don't control: a wrong declaration can READ
    * SUCCESSFULLY with wrong values (int64 µs read as "nanos" divides
    * to January 1970 — plausible-looking, silently wrong). Instead
    * [[fileStream]] declares the probed footer schema verbatim, and
    * [[graft.sources.Tables.normalizeEventTs]] branches on the actual
    * dtype (INT64 nanos / TIMESTAMP_NTZ / TIMESTAMP).
    */
  private def eventsStream(
      spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeEventTs(fileStream(spark, dir, glob, maxFilesPerTrigger))
  }

  /** The one file-stream reader: a one-time batch read probes the
    * footer of the SAME matched files, and that scanned schema is
    * declared verbatim for the stream. The probe costs one footer read
    * per stream start — nothing at scale.
    */
  private def fileStream(
      spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val (readPath, filterOpt) = resolveStreamPath(dir, glob)
    // NOTE: probing requires at least one matched file at stream start (a
    // behavior change vs a declared schema, which would start and emit
    // nothing) — acceptable for finite corpora; fail with a clear message
    val probed =
      try filterOpt.fold(spark.read)(g => spark.read.option("pathGlobFilter", g))
        .parquet(readPath).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"no files matching '$glob' under $dir at stream start — " +
              "the footer probe needs one file to declare the physical schema", e)
      }
    val r0 = spark.readStream.schema(probed)
    val r1 = maxFilesPerTrigger.fold(r0)(m => r0.option("maxFilesPerTrigger", m.toString))
    filterOpt.fold(r1)(g => r1.option("pathGlobFilter", g)).parquet(readPath)
  }

  /** Two corpus layouts (see [[fileStream]]): the driver testdata
    * stores each table as ONE file ($dir/events.parquet —
    * pathGlobFilter on the leaf name), but any Spark-written corpus
    * (ScaleUp's ~sf1 tier, production data) stores it as a DIRECTORY
    * of part files, whose leaf names the glob can never match —
    * stream the directory itself in that case.
    */
  private def resolveStreamPath(dir: String, glob: String): (String, Option[String]) = {
    val asDir = new java.io.File(dir, glob)
    if (!glob.exists(c => c == '*' || c == '?' || c == '{') && asDir.isDirectory)
      (asDir.getPath, None)
    else (dir, Some(glob))
  }

  /** Bytes of input the stream over (dir, glob) will replay. One
    * directory listing per stream start — nothing at scale.
    */
  private def matchedInputBytes(spark: SparkSession, dir: String, glob: String): Long = {
    val (readPath, filterOpt) = resolveStreamPath(dir, glob)
    val p = new org.apache.hadoop.fs.Path(readPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sizeOf(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isDirectory) fs.listStatus(st.getPath).map(sizeOf).sum else st.getLen
    filterOpt match {
      case None => sizeOf(fs.getFileStatus(p))
      case Some(g) =>
        val filter = new org.apache.hadoop.fs.GlobFilter(g)
        fs.listStatus(p).filter(st => st.isFile && filter.accept(st.getPath))
          .map(_.getLen).sum
    }
  }

  /** Run a stateful stream's full start→stop lifecycle with
    * `spark.sql.shuffle.partitions` — the conf that PINS a streaming
    * query's state-store partition count at first start — sized to
    * the input the stream replays instead of the session's
    * cpu-coupled default (r19, VERDICT r18 item 3).
    *
    * Why: state-store partitioning is a LAYOUT decision like any
    * shuffle's (guide §2.1-2.2 — fewer, larger partitions), but every
    * micro-batch pays a fixed per-partition cost (task schedule +
    * state-store open/commit/snapshot), so a partition count coupled
    * to cores is wrong in both directions: at r18 the bench's
    * cpus=32 state layout made stream_join 2× SLOWER than at 8 cores
    * on a 2 MB replay (the scaling block's only credible signal), and
    * at 100 TB a core-count constant undersizes state per partition.
    * Sizing from replayed input bytes is scale-adaptive: 1 partition
    * on the MB-scale local corpora, hundreds+ on a production replay.
    * Production knobs: graft.stream.statePartitions (explicit count)
    * or graft.stream.stateTargetInputBytes (default 16 MiB of input
    * per partition — conservative vs the guide's 100 MB-1 GB shuffle
    * sizing because join/session state expands decompressed input).
    *
    * Restores the conf after the stream stops; the session-conf write
    * is pinned into the query's cloned session at start, so the
    * restore cannot race the running stream, and any batch DataFrame
    * built from the sink afterwards plans with the session default.
    * Content is partition-count-independent for every entry here
    * (the layout gate runs the whole surface at shuffle.partitions=7
    * and requires bit-identical outputs).
    *
    * Applied by [[drain]] only, so every memory-sink/foreachBatch run
    * gets it by construction; NOT the startCheckpointed* production
    * starters — their state layout is pinned by the caller-owned
    * checkpoint across restarts, and the recovery specs drive those
    * with explicit session conf.
    *
    * Measured (sf0.1, local[32], shuffle.partitions sweep 32→1;
    * reproduce with graft.tools.Profile under
    * GRAFT_CONF=graft.stream.statePartitions=<p>, one run per value): every stateful entry runs 1.4-2× faster at 1
    * partition than at 32 on the 2 MB replay (stream_join 4.0→2.9 s,
    * sessionize 4.5→2.3 s, doc_dedup 8.1→4.6 s, topk 2.7→1.4 s,
    * session_agg 2.8→1.3 s, dedup 3.1→1.5 s) — per-partition
    * micro-batch overhead, exactly the r18 scaling block's
    * stream_join 0.50 signal.
    */
  private def withStateParts[T](spark: SparkSession, dir: String, glob: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val target = spark.conf.getOption("graft.stream.stateTargetInputBytes")
      .map(_.toLong).getOrElse(16L << 20)
    val parts = spark.conf.getOption("graft.stream.statePartitions").map(_.toInt)
      .getOrElse(math.max(1L,
        (matchedInputBytes(spark, dir, glob) + target - 1) / target).toInt)
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The one in-process stream runner: starts `writer` under
    * [[withStateParts]], runs it over everything available, stops it
    * and returns its per-batch progress. `writer` is built inside, so
    * the whole start runs under the sized state layout.
    */
  private def drain(spark: SparkSession, dir: String, glob: String)(
      writer: => DataStreamWriter[_]): Seq[StreamingQueryProgress] =
    withStateParts(spark, dir, glob) {
      val query = writer.start()
      try {
        query.processAllAvailable()
        query.recentProgress.toSeq
      } finally query.stop()
    }

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[drain]] into a memory sink: returns the sink's rows and the run's
    * progress. The sink's temp view is dropped before returning; the
    * frame's analyzed plan holds the sink, so it still reads the rows,
    * and they are garbage once the caller drops the frame.
    */
  private def toMemory(spark: SparkSession, dir: String, glob: String, mode: String)(
      stream: => DataFrame): (DataFrame, Seq[StreamingQueryProgress]) = {
    val sink = s"graft_stream_sink_${sinkSeq.incrementAndGet()}"
    val progress = drain(spark, dir, glob)(
      stream.writeStream.outputMode(mode).format("memory").queryName(sink))
    val out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    (out, progress)
  }

  /** Per-batch state-store row counts (first stateful operator). */
  private def stateRows(progress: Seq[StreamingQueryProgress]): Seq[Long] =
    progress.filter(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal)

  /** The streaming transform, defined once so batch parity tests run
    * the identical logic on a batch DataFrame. Accepts either a raw
    * scan (any supported ts encoding) or an already-normalized one —
    * normalizeEventTs is idempotent on TimestampType.
    */
  def windowAgg(events: DataFrame): DataFrame =
    graft.sources.Tables.normalizeEventTs(events)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // 2-decimal value domain => exact decimal sum; a hot window at
        // the skew tiers is corpus-magnitude (CLAUDE.md decimal rule,
        // applied across the whole value-sum family in round 16)
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Production-shape run of the windowed aggregate: UPDATE output
    * mode over a chunked directory, one file per trigger. Returns the
    * sink rows plus the per-microbatch aggregation-state row counts
    * (`stateOperators.numRowsTotal`), so the spec can assert the
    * declared 30-minute watermark actually EVICTS window state as it
    * advances — the behavior complete mode can't show (it retains
    * everything by definition). This is the mode an unbounded
    * production source runs in.
    */
  def runWindowAggUpdate(
      spark: SparkSession, dir: String, glob: String): (DataFrame, Seq[Long]) = {
    val (out, progress) = toMemory(spark, dir, glob, "update")(
      windowAgg(eventsStream(spark, dir, glob)))
    (out, stateRows(progress))
  }

  /** Streaming dedup as keep-earliest: first event time per
    * (user_id, event_type). Expressed as a streaming min-aggregate —
    * unlike dropDuplicates, the result is deterministic under any
    * arrival order, so it is directly comparable to the batch result
    * (at scale, in update mode, state is fixed-size per key and
    * watermark-bounded; complete mode here is for the finite corpus).
    */
  def dedupTransform(events: DataFrame): DataFrame =
    graft.sources.Tables.normalizeEventTs(events)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), col("event_type"))
      .agg(unix_micros(min(col("ts"))).as("first_ts_us"))

  /** Oracle for streamDedup: the keep-earliest min-aggregate is plain
    * SQL over the same events table (ns→µs truncation matches the
    * engine's `timestamp_micros(ts div 1000)`).
    */
  val streamDedupSql: String =
    """SELECT user_id, event_type,
      |  epoch_us(min(ts::TIMESTAMP)) AS first_ts_us
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    // one-batch ingest (r19): the min-aggregate is unwatermarked and
    // batch-count-invariant, so per-file triggers only multiply the
    // per-microbatch state-commit cost on a multi-part corpus (32-part
    // tier: 12.6 s -> ~1 s). Cross-batch incremental delivery stays
    // exercised by the chunked spec corpora.
    toMemory(spark, dir, "events.parquet", "complete")(
      dedupTransform(eventsStream(spark, dir, "events.parquet", maxFilesPerTrigger = None))
    )._1.orderBy("user_id", "event_type")
  }

  /** One event inside the stateful sessionizer. `ts` carries the
    * watermark column through to the stateful operator (a projection
    * that drops it would disable the event-time timeout).
    */
  /** `value` is Option: event value is a nullable measure (relfuzz
    * gate finding R2 — a NULL value crashed the non-nullable encoder
    * with NOT_NULL_ASSERT_VIOLATION mid-stream). Option semantics
    * also reproduce SQL `sum` exactly: a session whose every value is
    * NULL reports a NULL session_value, not 0.
    */
  final case class SessEvent(
      user_id: Long, ts_us: Long, event_id: Long, value: Option[Double],
      ts: java.sql.Timestamp)

  /** Open-session state carried between microbatches. `nextSessionId`
    * is the id the open session will take when it closes, so session
    * numbering keeps increasing across microbatches instead of
    * restarting at 1 per invocation.
    */
  final case class SessState(events: List[SessEvent], nextSessionId: Long)

  final case class SessOut(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, session_value: Option[Double])

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Custom-state streaming sessionizer via flatMapGroupsWithState —
    * the stateful analog of Relational.sessionize (30-min gap). Per
    * group invocation: merge new events with carried state, emit
    * CLOSED sessions, keep the open session in state with an
    * event-time timeout.
    *
    * `emitOpen` controls end-of-input behavior: the driver query runs
    * over a finite corpus that arrives as one microbatch, and the
    * open sessions would otherwise sit in state waiting for a
    * watermark that never advances — so it emits them too, making the
    * result exactly the batch sessionization (and SQL-oracle
    * comparable). A production unbounded run sets emitOpen=false and
    * lets the timeout flush them.
    */
  def sessionizeFn(emitOpen: Boolean)(
      userId: Long,
      newEvents: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[SessOut] = {
    val prior = state.getOption
    val carried = prior.map(_.events).getOrElse(Nil)
    // the carried open session (if any) takes this id when it closes;
    // sessions closed in this invocation number consecutively from it.
    val baseId = prior.map(_.nextSessionId).getOrElse(1L)
    val all = (carried ++ newEvents.toList).sortBy(e => (e.ts_us, e.event_id))
    if (all.isEmpty) return Iterator.empty
    // split into sessions on gaps > SessionGapUs
    val sessions = all.tail.foldLeft(List(List(all.head))) { (acc, e) =>
      if (e.ts_us - acc.head.head.ts_us > SessionGapUs) List(e) :: acc
      else (e :: acc.head) :: acc.tail
    }.map(_.reverse).reverse
    val (closed, open) = (sessions.dropRight(1), sessions.last)
    if (emitOpen) state.remove()
    else if (state.hasTimedOut) {
      // flush the open session but KEEP the counter: batch sessionize
      // numbers a user's sessions 1..n over their whole history, so a
      // user returning after a timeout must continue, not restart at 1.
      // The remaining state is just the counter (no events, no timeout)
      // and is touched again only when the user's next events arrive.
      state.update(SessState(Nil, baseId + sessions.length))
    } else {
      state.update(SessState(open, baseId + closed.length))
      state.setTimeoutTimestamp(open.last.ts_us / 1000 + SessionGapUs / 1000)
    }
    val emit = if (emitOpen || state.hasTimedOut) sessions else closed
    emit.zipWithIndex.iterator.map { case (s, i) =>
      val defined = s.flatMap(_.value)
      SessOut(userId, baseId + i, s.length.toLong,
        s.head.ts_us, s.last.ts_us,
        // SQL-sum semantics: NULLs are skipped; an all-NULL session is
        // NULL. Exact-decimal accumulation (CLAUDE.md rule, r16): the
        // hot user's session is a corpus-magnitude sum at the skew
        // tiers, where the rounded double fold flipped cross-engine —
        // per-value setScale(4) mirrors the oracle's DECIMAL(18,4)
        // cast, the BigDecimal sum is exact, and doubleValue is the
        // one correctly-rounded conversion.
        if (defined.isEmpty) None
        else Some(defined.map(java.math.BigDecimal.valueOf(_)
            .setScale(4, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).doubleValue))
    }
  }

  /** Driver-facing run: stream events → stateful sessionizer →
    * memory sink; result equals the batch sessionize (oracled).
    */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame =
    runSessionizeStream(spark, dir, glob = "events.parquet",
      emitOpen = true, maxFilesPerTrigger = None)

  /** Parameterized sessionizer run. The multi-microbatch spec feeds a
    * directory of chunked event files one file per trigger with
    * emitOpen=false, so sessions close via gap splits and event-time
    * timeouts across many invocations — the production shape.
    */
  def runSessionizeStream(
      spark: SparkSession,
      dir: String,
      glob: String,
      emitOpen: Boolean,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    toMemory(spark, dir, glob, "append")(
      eventsStream(spark, dir, glob, maxFilesPerTrigger)
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"), col("ts"))
        .as[SessEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
          sessionizeFn(emitOpen))
        .toDF()
    )._1.orderBy("user_id", "session_id")
  }
  /** Oracle for sessionAggStream: DuckDB time_bucket over 1-hour
    * intervals is epoch-aligned for sub-day intervals, matching
    * Spark's `window(ts, "1 hour")` tumbling buckets.
    */
  val sessionAggSql: String =
    """SELECT
      |  epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS window_start_us,
      |  event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY window_start_us, event_type
      |ORDER BY window_start_us, event_type""".stripMargin

  def sessionAggStream(spark: SparkSession, dir: String): DataFrame = {
    // file-source streaming needs a directory: stream the sf dir,
    // glob-filtered to the events table. All available files are
    // ingested in ONE batch (maxFilesPerTrigger = None): a WATERMARKED
    // job replaying an unordered historical directory must not take
    // per-file triggers — part files are not time-partitioned, so the
    // first file's max ts pushes the watermark past data still sitting
    // in later files and the late filter silently drops it (caught by
    // the ×10 multi-file corpus, round 14). Per-file incremental
    // delivery is exercised by the chunked, time-ordered spec corpora,
    // which is the only layout it is sound on.
    toMemory(spark, dir, "events.parquet", "complete")(
      windowAgg(eventsStream(spark, dir, "events.parquet", maxFilesPerTrigger = None))
    )._1
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_us", "event_type")
  }

  /** Stream-static enrichment: the events stream joined to a static
    * dimension (the symbol vocabulary) — the standard streaming
    * lookup-join shape. The static side is a broadcast hash join
    * against every microbatch: STATELESS (no watermark, no state
    * store), so at scale the only cost is the dim broadcast, re-read
    * per batch and refreshable between batches. Output is the
    * enriched event stream, directly comparable to the batch join.
    */
  def enrichStream(spark: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(graft.hmm.Sequencer.vocab(spark, dir))
    // stateless: batch count is delivery detail only; one-batch ingest
    // avoids per-file micro-batches on multi-part corpora (r19)
    toMemory(spark, dir, "events.parquet", "append")(
      eventsStream(spark, dir, "events.parquet", maxFilesPerTrigger = None)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .join(dim, "event_type")
    )._1
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("sym"))
      .orderBy("event_id")
  }

  val enrichStreamSql: String =
    s"""WITH ${graft.hmm.Sequencer.vocabCte}
       |SELECT e.event_id, e.user_id,
       |  epoch_us(e.ts::TIMESTAMP) AS ts_us, e.event_type, v.sym
       |FROM events e JOIN vocab v USING (event_type)
       |ORDER BY e.event_id""".stripMargin

  /** Watermark-bounded streaming dedup via the first-arrival API
    * (`dropDuplicatesWithinWatermark`): state per key lives only
    * until the watermark passes, so unbounded streams run in fixed
    * memory. NOTE the semantic contrast with [[dedupTransform]]: this
    * keeps the FIRST-ARRIVED row per key (arrival order), while the
    * min-aggregate keeps the earliest EVENT TIME — identical only
    * when arrival tracks event time (true for our ordered chunk
    * replays; not true under reordering, which is why the oracled
    * entry uses the deterministic min-aggregate).
    */
  def runDedupWithinWatermark(
      spark: SparkSession, dir: String, glob: String): DataFrame =
    toMemory(spark, dir, glob, "append")(
      eventsStream(spark, dir, glob)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
    )._1
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id", "event_type")

  /** Stream-stream interval join: signups matched to the same user's
    * purchases within the following 2 hours — the attribution join.
    * Both sides are watermarked AND the join carries an event-time
    * range condition, which is what lets Spark evict join state: a
    * buffered signup can be dropped once the purchase-side watermark
    * passes s_ts + 2h, so state is bounded by (watermark + range)
    * horizon, not by stream length. Inner-join matches emit in the
    * microbatch they pair up in — no result is held for the
    * watermark, so the finite-corpus run is complete.
    */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    // one-batch ingest: watermarked eviction over an unordered
    // multi-file historical directory would drop buffered state before
    // later files' matches arrive (see sessionAggStream). The chunked
    // time-ordered spec corpus exercises the per-file eviction path.
    runStreamJoin(spark, dir, "events.parquet", maxFilesPerTrigger = None)._1

  /** Same, parameterized by file glob and returning the per-batch
    * join-state row counts (`stateOperators.numRowsTotal`) so the
    * spec can assert the watermark + range condition actually EVICT
    * buffered rows as the stream advances.
    */
  def runStreamJoin(
      spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): (DataFrame, Seq[Long]) = {
    def side(tpe: String, pfx: String): DataFrame =
      eventsStream(spark, dir, glob, maxFilesPerTrigger)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user_id"),
          col("event_id").as(s"${pfx}_event_id"),
          col("ts").as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "30 minutes")
    val joined = side("signup", "s").join(side("purchase", "p"),
      col("s_user_id") === col("p_user_id") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
    val (rows, progress) = toMemory(spark, dir, glob, "append")(joined)
    val out = rows
      .select(col("s_user_id").as("user_id"),
        col("s_event_id"), col("p_event_id"),
        unix_micros(col("s_ts")).as("s_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
      .orderBy("user_id", "s_event_id", "p_event_id")
    (out, stateRows(progress))
  }

  val streamJoinSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id AS s_event_id, ts::TIMESTAMP AS s_ts
      |  FROM events WHERE event_type = 'signup'
      |), p AS (
      |  SELECT user_id, event_id AS p_event_id, ts::TIMESTAMP AS p_ts
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT s.user_id, s_event_id, p_event_id,
      |  epoch_us(s_ts) AS s_ts_us, epoch_us(p_ts) AS p_ts_us
      |FROM s JOIN p ON s.user_id = p.user_id
      |  AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 2 HOUR
      |ORDER BY s.user_id, s_event_id, p_event_id""".stripMargin

  /** Streaming MERGE (foreachBatch upsert): each microbatch folds its
    * keep-latest-per-user rows into a versioned parquet target — the
    * foreachBatch pattern for maintaining a mutable serving table
    * from an append-only stream when the sink has no native MERGE.
    * The final target holds exactly one row per user: the latest
    * event by (event-time µs, event_id).
    *
    * Scale: both the batch and the current target reduce to one row
    * per key BEFORE the union, so every merge write is bounded by
    * |keys|, not by stream volume; the window shuffle keys on
    * user_id (high-cardinality, balanced). On a lakehouse table the
    * same foreachBatch body becomes MERGE INTO (the join form of the
    * same plan is RelationalExtras.mergeUpsert).
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame =
    // one-batch ingest for the corpus replay (r19): keep-latest by
    // (event-time, event_id) is arrival-order-invariant, so the final
    // merged target is batch-count-independent; the chunked spec keeps
    // the per-file default below to exercise the cross-batch merge
    streamUpsertGlob(spark, dir, "events.parquet", maxFilesPerTrigger = None)

  private[graft] def streamUpsertGlob(
      spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    // per-invocation nonce: concurrent runs in one JVM never share a
    // version path. The final version is cut to rows, so the whole
    // target dir goes before returning.
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      f"graft_stream_upsert_p${ProcessHandle.current().pid()}_${System.nanoTime()}%x").toString
    val (fs, basePath) = upsertFs(spark, base)
    val target =
      try {
        drain(spark, dir, glob)(upsertEvents(spark, dir, glob, maxFilesPerTrigger)
          .writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            mergeBatch(spark, base, batch, batchId, failBeforeCommitOfBatch = -1L)
          })
        graft.Lineage.cut(upsertTarget(spark, base))
      } finally { fs.delete(basePath, true); () }
    target
      .select(col("user_id"), col("event_type").as("last_type"),
        col("ts_us").as("last_ts_us"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** The upsert's input rows: µs BEFORE any ordering so sub-µs
    * tie-breaking can't diverge from the µs-resolution oracle;
    * event_id is the deterministic tie.
    */
  private def upsertEvents(spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int]): DataFrame =
    eventsStream(spark, dir, glob, maxFilesPerTrigger)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))

  private def keepLatest(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Streaming trending-items: per 1-hour event-time window, the
    * top-3 event types by count — the live leaderboard shape. The
    * rank runs OVER the streaming aggregate's sink (ranking inside a
    * streaming query is unsupported for good reason: a rank is only
    * final when its window closes), which is exactly how production
    * serves it: state-bounded windowed counts stream out, the cheap
    * rank runs where the result is read.
    */
  def streamTopk(spark: SparkSession, dir: String, k: Int = 3,
      glob: String = "events.parquet"): DataFrame = {
    // one-batch ingest (r19): complete-mode windowed counts are
    // batch-count-invariant (the declared watermark does not evict in
    // complete mode); update-mode cross-batch delivery is
    // streamTopkUpdate's job, which keeps per-file triggers
    val counts = toMemory(spark, dir, glob, "complete")(
      windowAgg(eventsStream(spark, dir, glob, maxFilesPerTrigger = None)))._1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start_us")
      .orderBy(col("n_events").desc, col("event_type"))
    counts
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("window_start_us", "rnk")
  }

  /** Continuous distinct counting: per-event-type distinct users via a
    * streaming DataSketches HLL aggregate. The state store holds ONE
    * ~8 KB sketch per event type — O(keys), never O(users) — and each
    * microbatch merges its partial registers in, so the running
    * distinct count is maintained incrementally with bounded state:
    * the 100 TB alternative to re-running countDistinct over an
    * ever-growing corpus. Because HLL registers are per-bucket maxima,
    * the final estimate is bit-identical to the batch sketch over the
    * same rows (asserted in StreamingSpec; output pinned like the
    * batch sketch family, graft.operators.Sketches). Complete-mode
    * memory sink at test scale; the unbounded-source configuration is
    * update mode into a KV upsert, same as [[streamTopkUpdate]].
    */
  def streamHllDistinct(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame = {
    // one-batch ingest (r19): register-max HLL state is a pure
    // function of the input set (set-pure registers + canonicalized
    // estimator below), so batch count is irrelevant to content —
    // and 32 per-file micro-batches cost 12.9 s vs ~1 s on the
    // 32-part tier
    val sketches = toMemory(spark, dir, glob, "complete")(
      eventsStream(spark, dir, glob, maxFilesPerTrigger = None)
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")))._1
    import spark.implicits._
    // Estimate through a self-union: DataSketches HLL REGISTERS are
    // per-bucket maxima (pure function of the input set at any batch
    // layout), but the ESTIMATOR is not — a sketch that never crossed
    // a union keeps its insertion-order-dependent HIP estimate, while
    // a merged one answers with the register-pure composite estimate.
    // Batch count changes which path the streamed state took (caught
    // by the ×10 multi-file corpus: per-file triggers flipped the
    // estimates). hll_union(sk, sk) leaves the registers untouched and
    // forces the composite path — the estimate becomes a pure function
    // of the registers, hence of the input set, at any layout.
    val rows = sketches
      .select(col("event_type"),
        expr("hll_sketch_estimate(hll_union(sk, sk))").as("approx_users"))
      .orderBy(col("event_type"))
      .as[(String, Long)].collect()
    rows.toSeq.toDF("event_type", "approx_users").coalesce(1)
      .orderBy(col("event_type"))
  }

  /** UPDATE-mode run of the trending-items leaderboard: the windowed
    * aggregate streams in update mode (watermark EVICTS closed-window
    * state — the unbounded-source production configuration) into a
    * foreachBatch upsert keyed by (window, event_type) — the
    * KV-store/Delta-MERGE serving pattern — and the top-k rank runs
    * over the upserted store. Returns the leaderboard plus the
    * per-microbatch state row counts so the spec can assert the
    * state is genuinely bounded AND the result converges to the
    * complete-mode [[streamTopk]] answer.
    */
  private[graft] def streamTopkUpdate(
      spark: SparkSession, dir: String, k: Int = 3,
      glob: String = "events.parquet"): (DataFrame, Seq[Long]) = {
    import spark.implicits._
    val store = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, Double)]()
    val progress = drain(spark, dir, glob)(windowAgg(eventsStream(spark, dir, glob))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // update mode emits only keys CHANGED this microbatch; the
        // upsert makes the store hold the latest value per key. The
        // collect is bounded by the leaderboard key space (windows ×
        // event types), not the event volume — production swaps the
        // map for a distributed KV write with the same keying.
        batch.collect().foreach { r =>
          store.put((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))
        }
        ()
      })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start_us")
      .orderBy(col("n_events").desc, col("event_type"))
    val result = store.entrySet().iterator().asScala
      .map(e => (e.getKey._1, e.getKey._2, e.getValue._1)).toSeq
      .toDF("window_start_us", "event_type", "n_events")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("window_start_us", "rnk")
    (result, stateRows(progress))
  }

  /** Streaming SESSION-window aggregation in APPEND mode: sessions
    * merge dynamically in the state store (the gap extends each
    * window as events arrive) and a session row is emitted exactly
    * once — when the watermark passes its end + gap, i.e. when no
    * future event can extend it. That is the production contract for
    * session analytics over an unbounded source: complete/update
    * modes cannot give append's exactly-once-per-closed-session
    * output. Over a finite corpus the TAIL sessions (those the final
    * watermark never closes) are deliberately withheld — the spec
    * proves the emitted set is exactly the batch result restricted
    * to watermark-closed sessions, which is the honest statement of
    * append-mode semantics (CLAUDE.md: append-mode aggregations
    * withhold the tail).
    */
  // The watermark-closed session set is deterministic for a finite
  // corpus (its content digest is pinned), and the digest companion
  // query re-ran the WHOLE stream — two full stateful runs per bench
  // pass / Verify dump. Memoized per (session, corpus, glob).
  def sessionWindowStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame =
    graft.Memo("sessionWindowStream", spark, dir, "events", glob)(
      sessionWindowStreamRun(spark, dir, glob))

  private def sessionWindowStreamRun(spark: SparkSession, dir: String,
      glob: String): DataFrame =
    // one-batch ingest over the unordered corpus directory — the
    // watermark-vs-file-order rule, see sessionAggStream
    toMemory(spark, dir, glob, "append")(
      eventsStream(spark, dir, glob, maxFilesPerTrigger = None)
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          // hot-user sessions are corpus-magnitude (decimal rule, r16)
          sum(col("value").cast("decimal(18,4)")).cast("double").as("session_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          col("n_events"), col("session_value"))
    )._1.orderBy("user_id", "start_us")

  /** Production deployment shape: the windowed aggregate in APPEND
    * mode against a fault-tolerant PARQUET sink with a reliable
    * checkpoint. The memory-sink runners above exist for inspection;
    * a real unbounded job must survive a driver restart, and this is
    * the runner that does:
    *
    *  - source offsets, aggregation state, AND the event-time
    *    watermark live in `checkpointDir` (WAL + HDFSStateStore) —
    *    a restarted process resumes mid-stream, re-processing only
    *    the offsets whose commit is missing;
    *  - the file sink's `_spark_metadata` manifest makes output
    *    exactly-once across restarts: a replayed microbatch
    *    overwrites its own manifest entry instead of double-counting
    *    (readers go through the manifest, not a directory listing).
    *
    * Call once per "process lifetime" with the same (checkpointDir,
    * outDir); the caller stops the returned query to simulate a
    * crash/planned restart. RecoverySpec drives two lifetimes and
    * asserts a window whose events straddle the restart still comes
    * out with the FULL count — the state-recovery proof — and that
    * the committed output is duplicate-free and equal to the batch
    * result restricted to watermark-closed windows.
    */
  def startCheckpointedWindowAgg(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String): StreamingQuery = {
    val stream = eventsStream(spark, srcDir, glob)
    windowAgg(stream)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet").option("path", outDir)
      .start()
  }

  /** Same deployment shape for the first-arrival dedup: keys-seen
    * state must survive a restart, or a duplicate arriving in the
    * second process lifetime is re-emitted as "first". */
  def startCheckpointedDedup(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String): StreamingQuery = {
    eventsStream(spark, srcDir, glob)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet").option("path", outDir)
      .start()
  }

  /** Checkpointed deployment shape for the custom-state sessionizer
    * (round 14): flatMapGroupsWithState's state — BOTH the open-session
    * event buffer and the per-user session COUNTER — lives in the
    * checkpoint, so a restarted process must (a) close a session whose
    * events straddle the restart with its full event set and (b)
    * continue session numbering instead of restarting at 1 (the
    * counter-only state kept across timeouts, CLAUDE.md rule). Driven
    * by RecoverySpec across two process lifetimes.
    *
    * Fault injection lives ONLY in the `private[streaming]`
    * `...Poisoned` test variant (round-17 advice: the public signature
    * must carry no crash injection a live caller could trip).
    */
  def startCheckpointedSessionize(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String): StreamingQuery =
    checkpointedSessionize(spark, srcDir, glob, checkpointDir, outDir,
      sessionizeFn(emitOpen = false) _)

  /** Test-only variant (RecoverySpec lifetime #7): injects a MID-BATCH
    * crash — the group function throws AFTER updating `poisonUserId`'s
    * state within its task, so the task's state-store commit is
    * aborted while sibling partitions may have already committed their
    * batch-N deltas, leaving the checkpoint's state versions TORN
    * across partitions (the exact debris a mid-microbatch driver death
    * leaves). The batch is uncommitted, so the restarted lifetime
    * replays it from logged offsets; per-partition stores load version
    * N−1 and overwrite the orphan deltas.
    */
  private[streaming] def startCheckpointedSessionizePoisoned(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String,
      poisonUserId: Long): StreamingQuery = {
    val fn = sessionizeFn(emitOpen = false) _
    checkpointedSessionize(spark, srcDir, glob, checkpointDir, outDir,
      (u: Long, it: Iterator[SessEvent], st: GroupState[SessState]) => {
        val out = fn(u, it, st)
        if (u == poisonUserId)
          sys.error(s"injected mid-batch crash: user $u after state update")
        out
      })
  }

  private def checkpointedSessionize(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String,
      fn: (Long, Iterator[SessEvent], GroupState[SessState]) => Iterator[SessOut])
      : StreamingQuery = {
    import spark.implicits._
    eventsStream(spark, srcDir, glob)
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("ts"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet").option("path", outDir)
      .start()
  }

  /** Checkpointed deployment shape for the native session-window
    * aggregation (round 14): merging session state lives in the state
    * store, so a session extended by post-restart events must be
    * emitted once with its full pre+post event count when the
    * watermark finally closes it.
    *
    * Fault injection lives ONLY in the `private[streaming]`
    * `...Poisoned` test variant (round-17 advice).
    */
  def startCheckpointedSessionWindow(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String): StreamingQuery =
    checkpointedSessionWindow(spark, srcDir, glob, checkpointDir, outDir, identity)

  /** Test-only variant (RecoverySpec lifetime #7): injects a MID-BATCH
    * crash — the post-aggregation consumer throws when the
    * watermark-closed session starting at `poisonStartUs` is EMITTED,
    * inside the same task that would commit that partition's
    * state-store delta, so the poisoned partition aborts while sibling
    * partitions may already have committed batch N (torn state
    * versions). The uncommitted batch replays on restart and
    * overwrites the orphan deltas.
    */
  private[streaming] def startCheckpointedSessionWindowPoisoned(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String,
      poisonStartUs: Long): StreamingQuery =
    checkpointedSessionWindow(spark, srcDir, glob, checkpointDir, outDir,
      _.filter((r: org.apache.spark.sql.Row) =>
        if (r.getLong(1) == poisonStartUs)
          sys.error(s"injected mid-batch crash: session @$poisonStartUs emitted")
        else true))

  private def checkpointedSessionWindow(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, outDir: String,
      decorate: DataFrame => DataFrame): StreamingQuery = {
    val agg = eventsStream(spark, srcDir, glob)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        // hot-user sessions are corpus-magnitude (decimal rule, r16)
        sum(col("value").cast("decimal(18,4)")).cast("double").as("session_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n_events"), col("session_value"))
    decorate(agg).writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet").option("path", outDir)
      .start()
  }

  /** Checkpointed deployment shape for the streaming HLL distinct
    * count (round 14): the per-type sketch REGISTERS live in the state
    * store, so users counted before a restart must stay merged into
    * the estimate afterwards — if recovery lost the registers, the
    * post-restart estimate would cover only post-restart arrivals.
    * Update mode into a foreachBatch upsert (the KV-serving pattern of
    * [[streamTopkUpdate]]); `store` holds the latest estimate per
    * event type, bounded by the type key space.
    */
  def startCheckpointedHllDistinct(
      spark: SparkSession, srcDir: String, glob: String, checkpointDir: String,
      store: java.util.concurrent.ConcurrentHashMap[String, Long]): StreamingQuery =
    eventsStream(spark, srcDir, glob)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("approx_users"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => store.put(r.getString(0), r.getLong(1)))
        ()
      }
      .start()

  /** Checkpointed deployment shape for the foreachBatch MERGE (round
    * 15, verdict item 5): the versioned target is made idempotent
    * under MID-BATCH crash/replay. Layout: `targetBase/v<batchId>` is
    * a merge result, COMMITTED only once `_GRAFT_COMMIT` exists inside
    * it (underscore files are invisible to the parquet reader, like
    * `_SUCCESS`). The merge input is always (latest COMMITTED version
    * ∪ the incoming batch); a crash after the data write but before
    * the marker leaves a torn, uncommitted `v<batchId>` that the
    * restarted lifetime — Spark replays the batch, offsets were logged
    * before execution — simply overwrites with the SAME deterministic
    * merge, then publishes the marker. No key can be lost (merge never
    * reads an uncommitted version) or duplicated (keep-latest is a
    * per-key row_number, and a replayed batch re-derives, not
    * re-appends). Older committed versions are GC'd after each commit.
    *
    * `failBeforeCommitOfBatch` injects the torn state for the
    * recovery spec: the foreachBatch body throws AFTER writing
    * `v<batchId>` and BEFORE the marker — the exact window a real
    * driver crash hits.
    */
  def startCheckpointedUpsert(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, targetBase: String): StreamingQuery =
    checkpointedUpsert(spark, srcDir, glob, checkpointDir, targetBase,
      failBeforeCommitOfBatch = -1L)

  /** Test-only variant (RecoverySpec): throws AFTER writing
    * `v<batchId>` and BEFORE the commit marker — the exact torn-state
    * window a real driver crash hits. Kept out of the public signature
    * (round-17 advice: no crash injection on production entry points).
    */
  private[streaming] def startCheckpointedUpsertFailing(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, targetBase: String,
      failBeforeCommitOfBatch: Long): StreamingQuery =
    checkpointedUpsert(spark, srcDir, glob, checkpointDir, targetBase,
      failBeforeCommitOfBatch)

  private def checkpointedUpsert(
      spark: SparkSession, srcDir: String, glob: String,
      checkpointDir: String, targetBase: String,
      failBeforeCommitOfBatch: Long): StreamingQuery =
    upsertEvents(spark, srcDir, glob, Some(1))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(spark, targetBase, batch, batchId, failBeforeCommitOfBatch)
      }
      .start()

  /** The one foreachBatch merge body of both upserts: folds `batch`
    * into `targetBase/v<batchId>` and commits it (layout and replay
    * rules on [[startCheckpointedUpsert]]).
    */
  private def mergeBatch(spark: SparkSession, targetBase: String,
      batch: DataFrame, batchId: Long, failBeforeCommitOfBatch: Long): Unit = {
    val (fs, base) = upsertFs(spark, targetBase)
    val committed = committedVersionsOf(fs, base)
    // replay of an ALREADY-committed batch (crash after marker,
    // before Spark's own commit log): the target is already right
    if (!committed.contains(batchId)) {
      val latest = keepLatest(batch)
      val merged = committed.maxOption match {
        case None       => latest
        case Some(prev) => keepLatest(
          spark.read.parquet(s"$targetBase/v$prev").unionByName(latest))
      }
      merged.write.mode("overwrite").parquet(s"$targetBase/v$batchId")
      if (batchId == failBeforeCommitOfBatch)
        sys.error(s"injected crash: batch $batchId written but not committed")
      fs.create(new org.apache.hadoop.fs.Path(
        s"$targetBase/v$batchId/_GRAFT_COMMIT"), false).close()
      // GC fully superseded committed versions
      committed.filter(_ < batchId).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$targetBase/v$v"), true); ()
      }
    }
  }

  /** Version discovery for the checkpointed upsert goes through the
    * Hadoop FileSystem resolved from the target's OWN scheme (r15
    * advice #2): `java.io.File.listFiles` silently returns nothing
    * for an `hdfs://`/`s3a://` target, which would make every batch
    * look like the first and silently drop all previously committed
    * keys. The FS resolve supports any scheme the cluster's Hadoop
    * conf does, and THROWS on an unsupported one — loud, not lossy.
    */
  private def upsertFs(spark: SparkSession, targetBase: String) = {
    val p = new org.apache.hadoop.fs.Path(targetBase)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def committedVersionsOf(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_GRAFT_COMMIT")))
      .map(_.getPath.getName.drop(1).toLong)

  /** Latest committed keep-latest table of [[startCheckpointedUpsert]]. */
  def upsertTarget(spark: SparkSession, targetBase: String): DataFrame = {
    val (fs, base) = upsertFs(spark, targetBase)
    val committed = committedVersionsOf(fs, base)
    require(committed.nonEmpty, s"no committed version under $targetBase")
    spark.read.parquet(s"$targetBase/v${committed.max}")
  }

  val streamTopkSql: String =
    """WITH c AS (
      |  SELECT
      |    epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS window_start_us,
      |    event_type, count(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |), r AS (
      |  SELECT window_start_us, event_type, n_events,
      |    row_number() OVER (PARTITION BY window_start_us
      |      ORDER BY n_events DESC, event_type) AS rnk
      |  FROM c
      |)
      |SELECT window_start_us, event_type, n_events, rnk
      |FROM r WHERE rnk <= 3
      |ORDER BY window_start_us, rnk""".stripMargin

  val streamUpsertSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id, event_type AS last_type, ts_us AS last_ts_us, value AS last_value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // Streaming document near-dup (round 17, r16 verdict #5): the
  // continuous-crawl shape dedup_incremental approximates with a batch
  // delta job — here the MinHash band index IS the stream state.
  // Two stateful stages over the replayed documents corpus:
  //   A. first-seen/exact verdicts keyed by the 128-bit text digest
  //      pair (state: first doc id + the text itself, making the
  //      digest-collision check COMPLETE — a collision throws instead
  //      of silently merging texts, the textGroups discipline);
  //   B. the LSH band index keyed by (band, bkey) — state holds the
  //      first-seen doc per DISTINCT text in the bucket (clones add
  //      nothing: identical texts have identical signatures), and a
  //      newly arriving text emits one candidate pair per cohabiting
  //      prior text. Same hash family as the batch minhash_lsh, via
  //      the Scala mirror pinned bit-equal by MinhashFamilySpec, so
  //      the stream inherits the batch family's verified FN-freeness.
  // Candidates are then exact-Jaccard verified against the ingested
  // corpus (batch read of what already arrived — at scale this is the
  // persisted shingle store) and expanded to per-document verdicts:
  // (doc_id, exact_dup, n_near_texts = earlier-first-seen near
  // neighbor texts, max_jaccard).
  //
  // Replay convention: first-seen is ARRIVAL-ordered by definition, so
  // the corpus replay ingests all available files in ONE batch and the
  // group functions sort within the invocation — arrival order ≡
  // doc_id order, which is what the oracle models (the watermark
  // replay rule's reasoning applied to order-sensitive state).
  // Cross-batch state is exercised by the chunked spec, whose chunks
  // arrive in id order like a real crawl's ingest time.
  // -------------------------------------------------------------------

  final case class DocKeyed(doc_id: Long, tk1: Long, tk2: Long, text: String)
  final case class SeenState(first_id: Long, text: String)
  final case class SeenOut(doc_id: Long, rep: Long, first_seen: Boolean)
  final case class BandDoc(doc_id: Long, tk1: Long, tk2: Long, band: Int, bkey: Long)
  final case class BucketRep(rep: Long, tk1: Long, tk2: Long)
  final case class BucketState(reps: List[BucketRep])
  final case class CandPair(a_rep: Long, b_rep: Long)

  /** Stage-A group function: first-seen / exact-dup verdict per doc of
    * one text-digest group. State is (first id, text); the text makes
    * the 128-bit collision check complete (p ≈ n²/2¹²⁹ — never, but
    * checked; at 100 TB state this is the piece to trade for a
    * digest-only store with the documented residual risk).
    */
  private[streaming] def firstSeenFn(
      key: (Long, Long), docs: Iterator[DocKeyed],
      state: GroupState[SeenState]): Iterator[SeenOut] = {
    val sorted = docs.toList.sortBy(_.doc_id)
    var st = state.getOption
    val out = sorted.map { d =>
      st match {
        case None =>
          st = Some(SeenState(d.doc_id, d.text))
          SeenOut(d.doc_id, d.doc_id, first_seen = true)
        case Some(s) =>
          if (s.text != d.text)
            throw new IllegalStateException(
              "streamDocDedup: 128-bit text digest collision")
          SeenOut(d.doc_id, s.first_id, first_seen = false)
      }
    }
    st.foreach(state.update)
    out.iterator
  }

  /** Stage-B group function: one LSH bucket's index. A doc whose text
    * digest is already present adds nothing; a new text emits one
    * candidate pair per cohabiting prior text and joins the index.
    * State is bounded by DISTINCT texts per bucket (clone-immune).
    */
  private[streaming] def bandIndexFn(
      key: (Int, Long), docs: Iterator[BandDoc],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    val sorted = docs.toList.sortBy(_.doc_id)
    var reps = state.getOption.map(_.reps).getOrElse(Nil)
    val out = List.newBuilder[CandPair]
    sorted.foreach { d =>
      if (!reps.exists(r => r.tk1 == d.tk1 && r.tk2 == d.tk2)) {
        reps.foreach(r => out += CandPair(r.rep, d.doc_id))
        reps = BucketRep(d.doc_id, d.tk1, d.tk2) :: reps
      }
    }
    state.update(BucketState(reps))
    out.result().iterator
  }

  /** Driver-facing run over the replayed corpus; `srcGlob`/`trigger`
    * are injectable for the chunked cross-batch spec.
    */
  def streamDocDedup(spark: SparkSession, dir: String,
      threshold: Double = graft.operators.Dedup.NearDupThreshold,
      srcGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val keyed = fileStream(spark, dir, srcGlob, maxFilesPerTrigger)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        xxhash64(col("text")).as("tk1"),
        xxhash64(lit(42L), col("text")).as("tk2"),
        col("text"))
      .as[DocKeyed]
    // stage A: first-seen / exact verdicts
    val seenRows = toMemory(spark, dir, srcGlob, "append")(
      keyed.groupByKey(d => (d.tk1, d.tk2))
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(firstSeenFn)
        .toDF())._1
    // stage B: band index → candidate pairs (signatures in the typed
    // flatMap via the Scala family mirror — a pre-stateful aggregation
    // is not available in a streaming plan)
    val candRows = toMemory(spark, dir, srcGlob, "append")(
      keyed
        .flatMap { d =>
          val sh = graft.operators.Dedup.shinglesOf(d.text)
          if (sh.isEmpty) Iterator.empty
          else graft.operators.Dedup.bandKeysOf(sh).iterator.zipWithIndex
            .map { case (k, b) => BandDoc(d.doc_id, d.tk1, d.tk2, b, k) }
        }
        .groupByKey(b => (b.band, b.bkey))
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(bandIndexFn)
        .toDF())._1
    // cut both sink relations: the sink rows are released with the
    // sink frames, and cutting HERE (not the final result) keeps the
    // verify/join compose below a real, auditable plan (PlanAuditSpec
    // fingerprint) instead of a single materialized LogicalRDD.
    val seen = graft.Lineage.cut(seenRows)
    val candRaw = graft.Lineage.cut(candRows)
    // normalize + dedupe candidates across bands, then exact-verify
    // against the ingested corpus's shingle arrays
    val cand = candRaw
      .select(least(col("a_rep"), col("b_rep")).as("a_id"),
        greatest(col("a_rep"), col("b_rep")).as("b_id"))
      .dropDuplicates("a_id", "b_id")
    val sh = graft.operators.Dedup.shingleArrays(spark, dir)
    val verified = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
    val nb = verified.select(col("a_id").as("rep"), col("b_id").as("nrep"), col("jaccard"))
      .unionByName(verified.select(col("b_id").as("rep"), col("a_id").as("nrep"), col("jaccard")))
    // rename-projection: `seen` appears on both sides of the final
    // join — fresh exprIds on this branch avoid the self-join
    // conflicting-references trap of memory-sink views
    val near = seen
      .select(col("doc_id").as("n_doc_id"), col("rep").as("n_rep"))
      .join(nb, col("n_rep") === col("rep"))
      .filter(col("nrep") < col("n_doc_id"))
      .groupBy(col("n_doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_near_texts"), max(col("jaccard")).as("max_jaccard"))
    seen.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), (!col("first_seen")).as("exact_dup"),
        coalesce(col("n_near_texts"), lit(0L)).as("n_near_texts"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy("doc_id")
  }

  /** Oracle for [[streamDocDedup]]: the contracted exact-Jaccard
    * kernel (rep-level rsim over distinct texts) plus arrival-order
    * arithmetic — doc i's near neighbors are the texts whose FIRST
    * occurrence precedes i (rep &lt; i), exact_dup ⇔ i is not its
    * text's first occurrence. The LSH family is deterministic, so
    * FN-freeness of the band candidates vs the all-pairs kernel is a
    * fixed corpus property, verified at every tier (the minhash_lsh
    * argument; family bit-equality pinned by MinhashFamilySpec).
    */
  val streamDocDedupSql: String =
    s"""WITH
       |${graft.operators.Dedup.contractedJaccardKernelForOracles(graft.operators.Dedup.NearDupThreshold)},
       |docs AS (
       |  SELECT unnest(ids) AS doc_id, rep FROM grp
       |), nb AS (
       |  SELECT a_rep AS rep, b_rep AS nrep, jaccard FROM rsim
       |  UNION ALL
       |  SELECT b_rep, a_rep, jaccard FROM rsim
       |), near AS (
       |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_near_texts,
       |    max(nb.jaccard) AS mj
       |  FROM docs d JOIN nb ON nb.rep = d.rep
       |  WHERE nb.nrep < d.doc_id
       |  GROUP BY d.doc_id
       |)
       |SELECT d.doc_id,
       |  d.doc_id <> d.rep AS exact_dup,
       |  CAST(coalesce(n.n_near_texts, 0) AS BIGINT) AS n_near_texts,
       |  coalesce(n.mj, 0.0) AS max_jaccard
       |FROM docs d LEFT JOIN near n USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
