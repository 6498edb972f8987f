package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.CacheEntries
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}
import graft.hmm.Sequencer
import graft.sources.Tables

/** The session's CacheManager footprint: library calls keep derived
  * state as [[Memo]] entries or release it before they return. The one
  * entry kept by design is Sequencer's persisted sequences.
  */
class CacheFootprintSpec extends AnyFunSuite {

  test("library entries leave no CacheManager entry; sequenceDs leaves exactly one") {
    // a fresh copy: an entry an earlier suite cached for sf0.001 would
    // absorb a leak of the same plan here
    val dir = ScratchDir("graft_cache_footprint", spark, sfDir)
    Files.createDirectories(Paths.get(dir))
    Tables.names.foreach(t => Files.copy(Paths.get(sfDir, s"$t.parquet"),
      Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
    val before = CacheEntries(spark)
    val added = Seq("knn_pq", "knn_ivf_pq", "ann_index_persist", "dedup_embedding",
      "semantic_dedup", "corpus_emit", "cooccur_lift").map { name =>
      val n = CacheEntries(spark)
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      name -> (CacheEntries(spark) - n)
    }
    val leaks = added.filter(_._2 != 0)
    assert(leaks.isEmpty, s"CacheManager entries left behind (${leaks.map(_._2).sum} in all): " +
      leaks.map { case (q, d) => s"$q +$d" }.mkString(", "))
    Sequencer.sequenceDs(spark, dir)
    assert(CacheEntries(spark) - before == 1, "sequenceDs must persist its sequences once")
  }
}
