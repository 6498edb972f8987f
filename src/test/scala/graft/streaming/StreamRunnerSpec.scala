package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.{LocalSpark, SparkEntry}
import graft.LocalSpark.{sfDir, spark}

/** The one in-process stream runner leaves nothing in the caller's
  * session: no sink view, no active query, no changed conf, and no
  * upsert target dir on disk. Every returned frame still reads its rows.
  */
class StreamRunnerSpec extends AnyFunSuite {

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("no in-process stream leaves a sink view, an active query or a changed conf") {
    val viewsBefore = tempViews
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val entries = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    assert(entries.size >= 11, s"streaming entries: $entries")
    entries.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty, s"$name returned no rows")
    }
    val runs = Seq(
      StreamingJobs.runWindowAggUpdate(spark, sfDir, "events.parquet")._1,
      StreamingJobs.runStreamJoin(spark, sfDir, "events.parquet")._1,
      StreamingJobs.runSessionizeStream(spark, sfDir, "events.parquet",
        emitOpen = false, maxFilesPerTrigger = Some(1)),
      StreamingJobs.runDedupWithinWatermark(spark, sfDir, "events.parquet"),
      StreamingJobs.streamTopkUpdate(spark, sfDir)._1)
    runs.foreach(df => assert(df.collect().nonEmpty))
    assert(tempViews == viewsBefore,
      s"sink views left in the catalog: ${(tempViews -- viewsBefore).toSeq.sorted}")
    assert(spark.streams.active.isEmpty,
      s"queries still active: ${spark.streams.active.map(_.name).toSeq}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
    LocalSpark.assertSessionHygiene("StreamRunnerSpec")
  }

  test("the in-process upsert leaves no target dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefix = s"graft_stream_upsert_p${ProcessHandle.current().pid()}_"
    def dirs: Set[String] =
      Option(tmp.list()).map(_.toSet).getOrElse(Set.empty[String]).filter(_.startsWith(prefix))
    val before = dirs
    val out = StreamingJobs.streamUpsert(spark, sfDir)
    val left = dirs -- before
    assert(left.isEmpty, s"upsert target dirs left in $tmp: $left")
    // the returned frame reads cut rows, not the deleted files
    assert(out.collect().length == out.select("user_id").distinct().count())
  }
}
