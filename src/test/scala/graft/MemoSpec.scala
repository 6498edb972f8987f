package graft

import java.nio.file.Files

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.spark
import graft.operators.Dedup

/** [[Memo]]: entries keep rows (one lineage cut), never the build plan,
  * and their keys see the content of the table they derive from.
  */
class MemoSpec extends AnyFunSuite {

  private val words = (0 until 400).map(i => s"w$i")

  /** `n` documents of 12 distinct words each (no shared 3-grams), plus a
    * near copy of each `doc_id` in `near` (one word changed → Jaccard
    * 9/11 ≥ 0.8) under id `1000 + doc_id`.
    */
  private def writeCorpus(dir: String, n: Int, near: Seq[Long], seed: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val texts = (0L until n).map(id => id -> rnd.shuffle(words).take(12))
    val copies = near.map { id =>
      val t = texts(id.toInt)._2
      (1000L + id) -> (t.init :+ s"x$id")
    }
    (texts ++ copies).map { case (id, ws) =>
      val text = ws.mkString(" ")
      (id, text, "en", "spec", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def pairs(dir: String): Set[(Long, Long)] =
    Dedup.ngramJaccard(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def broadcastBlocks(): Set[org.apache.spark.storage.BlockId] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).toSet

  test("a memoized pair relation keeps rows: no InMemoryRelation, no broadcast outlives the call") {
    val dir = Files.createTempDirectory("graft_memo_bc").toString
    writeCorpus(dir, 40, Seq(3L, 7L), seed = 1)
    val before = broadcastBlocks()
    val out = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 1003L), (7L, 1007L)))
    val plan = out.queryExecution.analyzed
    assert(plan.collectFirst { case r: InMemoryRelation => r }.isEmpty,
      s"memo entry still holds a persisted build plan:\n$plan")
    assert(plan.isInstanceOf[LogicalRDD], s"memo entry is not a lineage cut:\n$plan")
    // the build's broadcast hash relations (a Tungsten page each) must be
    // collectable once the call returns: poll GC + the ContextCleaner
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = broadcastBlocks() -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      left = broadcastBlocks() -- before
    }
    assert(left.isEmpty, s"broadcast blocks pinned by the memo entry: ${left.toSeq.sortBy(_.name)}")
  }

  test("memo keys see content: an in-place corpus rewrite serves the new corpus's pairs") {
    val dir = Files.createTempDirectory("graft_memo_stale").toString
    writeCorpus(dir, 30, Seq(2L), seed = 2)
    assert(pairs(dir) == Set((2L, 1002L)))
    writeCorpus(dir, 30, Seq(5L, 9L), seed = 3)
    assert(pairs(dir) == Set((5L, 1005L), (9L, 1009L)),
      "the memo served the rewritten corpus's stale pairs")
  }

  test("concurrent callers of one key wait for a single build") {
    val dir = Files.createTempDirectory("graft_memo_conc").toString
    writeCorpus(dir, 5, Nil, seed = 4)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(() => Memo("spec.concurrent", spark, dir, "documents") {
        builds.incrementAndGet()
        Thread.sleep(200)
        spark.range(10).toDF("v")
      }))
      val outs = calls.map(_.get())
      assert(builds.get == 1, s"${builds.get} builds ran for one key")
      assert(outs.forall(_ eq outs.head), "callers got different entries for one key")
      assert(outs.head.collect().map(_.getLong(0)).toSeq == (0L until 10L))
    } finally pool.shutdown()
  }
}
