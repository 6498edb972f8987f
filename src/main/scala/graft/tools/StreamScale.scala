package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scaled-tier streaming characterization (round-12 verdict item 2):
  * runs every streaming entry against a (normally ×10 ScaleUp) corpus
  * and books, per query, the numbers the specs can only assert at
  * test scale — wall time, input-row throughput, microbatch count,
  * and the state-store row trajectory (max + final
  * `stateOperators.numRowsTotal`), the quantity whose growth with
  * event density is the scaled tier's real risk (stream_join's
  * interval-join state horizon, session-window open sessions).
  *
  * A StreamingQueryListener sees every progress event of the queries
  * the entries run internally (they all `processAllAvailable` over
  * the finite directory and stop), so no per-entry instrumentation is
  * needed. Listener events post asynchronously; a short drain pause
  * after each entry keeps attribution per-query.
  *
  * Output: one JSON line per query + a `total` line (stdout, also
  * appended to STREAM_SCALE_OUT when set).
  *
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.StreamScale /tmp/graft_sfx1"
  * }}}
  */
object StreamScale {

  val streamingEntries: Seq[String] = Seq(
    "stream_session_agg", "stream_enrich", "stream_join", "stream_upsert",
    "stream_topk", "stream_dedup", "stream_sessionize", "stream_session_window",
    "stream_hll_distinct", // r13: state plateau = #event types (one sketch each)
    "stream_doc_dedup")    // r17: state plateau = distinct texts (digest + band index)

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sfx1")
    val spark = graft.LocalSession("graft-stream-scale")

    final case class Batch(inputRows: Long, stateRows: Option[Long])
    val batches = ArrayBuffer.empty[Batch]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          batches += Batch(e.progress.numInputRows,
            e.progress.stateOperators.headOption.map(_.numRowsTotal))
        }
    }
    spark.streams.addListener(listener)

    // HARD state bounds (round-15 verdict item 7): the final
    // (post-eviction) state of every watermarked job must be bounded
    // by the event-time HORIZON, not by corpus size — a corpus-bounded
    // final state means eviction silently stopped working and the job
    // leaks at 100 TB. Bounds come from batch queries over the corpus:
    //   - horizonRows(m) = events in the last m minutes of event time
    //     (what a watermark of that horizon may legitimately retain);
    //   - nUsers / nTypes / nHourWindows bound the keyed-state jobs
    //     whose state plateaus at the key space, not the stream.
    // Factor 4 absorbs per-operator bookkeeping rows (session-window
    // state keeps per-window entries pre-merge; the interval join
    // keeps both sides) without letting a leak through: a leak is
    // corpus-shaped (×10..×100 the bound), not ×4.
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")).persist()
    val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    def horizonRows(minutes: Long): Long =
      ev.filter(col("ts") >= lit(new java.sql.Timestamp(
        maxTs.getTime - minutes * 60000L))).count()
    val nUsers = ev.select("user_id").distinct().count()
    val nTypes = ev.select("event_type").distinct().count()
    val nHourWindows = ev
      .select(date_trunc("hour", col("ts"))).distinct().count()
    ev.unpersist()
    val nTexts = graft.sources.Tables.documents(spark, dir)
      .filter(col("text").isNotNull).select("text").distinct().count()
    // stream_join retains signups for (interval 2h + wm 30m) and
    // purchases for the watermark; sessionize/session_window retain
    // open sessions (30m gap + 30m wm) plus per-user counters
    val bounds: Map[String, (Long, String)] = Map(
      "stream_join" -> ((4 * horizonRows(150), "4 x events in last 2h30m")),
      "stream_sessionize" -> ((4 * (horizonRows(60) + nUsers), "4 x (events in last 60m + user counters)")),
      "stream_session_window" -> ((4 * (horizonRows(60) + nUsers), "4 x (events in last 60m + users)")),
      "stream_session_agg" -> ((4 * (horizonRows(90) + nTypes * 4), "4 x events in last 90m")),
      "stream_dedup" -> ((4 * nUsers * nTypes, "4 x |user x type| keyspace")),
      "stream_topk" -> ((4 * nHourWindows * nTypes, "4 x |hour-window x type|")),
      "stream_hll_distinct" -> ((4 * nTypes, "4 x |event types| (one sketch each)")),
      // both internal queries' state is clone-immune: stage A keys =
      // distinct text digests, stage B keys = LSH buckets <= 32 per
      // distinct text — NEVER corpus-shaped on a clone tier
      "stream_doc_dedup" -> ((4 * (graft.operators.Dedup.Bands + 1) * nTexts,
        "4 x (1 + 32 band buckets) x distinct texts")))

    val sb = new StringBuilder
    var totalWall = 0.0
    val violations = ArrayBuffer.empty[String]
    streamingEntries.foreach { name =>
      batches.synchronized(batches.clear())
      val t0 = System.nanoTime()
      val out = graft.SparkEntry.queries(name)(spark, dir)
      val rows = out.count()
      val wall = (System.nanoTime() - t0) / 1e9
      totalWall += wall
      Thread.sleep(1000) // drain async listener events
      val (nBatches, inputRows, maxState, lastState) = batches.synchronized {
        (batches.size,
          batches.map(_.inputRows).sum,
          batches.flatMap(_.stateRows).maxOption.getOrElse(-1L),
          batches.flatMap(_.stateRows).lastOption.getOrElse(-1L))
      }
      val boundTxt = bounds.get(name) match {
        case Some((bound, why)) =>
          if (lastState > bound)
            violations += s"$name: final state $lastState > bound $bound ($why)"
          s""","state_bound":$bound,"state_bound_ok":${lastState <= bound}"""
        case None => ""
      }
      val line =
        s"""{"query":"$name","wall_sec":${math.round(wall * 100) / 100.0},""" +
          s""""out_rows":$rows,"input_rows":$inputRows,""" +
          s""""rows_per_sec":${if (wall > 0) math.round(inputRows / wall) else 0},""" +
          s""""batches":$nBatches,"state_rows_max":$maxState,"state_rows_final":$lastState$boundTxt}"""
      println(line); sb ++= line + "\n"
    }
    val totalLine = s"""{"query":"total","wall_sec":${math.round(totalWall * 100) / 100.0},"sf_dir":"$dir","state_bound_violations":${violations.size}}"""
    println(totalLine); sb ++= totalLine + "\n"
    sys.env.get("STREAM_SCALE_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), sb.toString)
    }
    spark.streams.removeListener(listener)
    spark.stop()
    require(violations.isEmpty,
      s"STATE BOUND VIOLATIONS:\n${violations.mkString("\n")}")
  }
}
