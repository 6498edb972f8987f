package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}
import graft.sources.Tables

class ClassifierSpec extends AnyFunSuite {

  test("quality LR: loss decreases, distillation accuracy is high, training is deterministic") {
    val feats = Classifier.featureDf(Tables.documents(spark, sfDir)).cache()
    val r1 = Classifier.train(feats)
    val r2 = Classifier.train(feats)
    // treeAggregate's combine order is not FP-deterministic across
    // runs (same as Baum-Welch): stable to ~1e-9, not bitwise; the
    // driver query memoizes one model per (session, corpus) so OUTPUT is stable
    r1.weights.zip(r2.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"weights diverged: $a vs $b")
    }
    assert(r1.lossPerEpoch.head > r1.lossPerEpoch.last,
      s"loss did not decrease: ${r1.lossPerEpoch.head} -> ${r1.lossPerEpoch.last}")
    // Newton on a smooth convex loss: no iteration may blow up
    r1.lossPerEpoch.sliding(2).foreach { case Array(a, b) =>
      assert(b < a + 1e-6, s"loss increased $a -> $b")
    }
    val scored = Classifier.qualityLr(spark, sfDir).collect()
    val acc = scored.count(r => r.getBoolean(2) == r.getBoolean(3)).toDouble / scored.length
    info(f"distillation accuracy = $acc%.3f over ${scored.length} docs; final loss ${r1.lossPerEpoch.last}%.4f")
    assert(acc >= 0.9, f"classifier failed to distill the rule filter: acc $acc%.3f")
    // scores are probabilities and order-consistent with the verdict
    scored.foreach { r =>
      val s = r.getDouble(1)
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getBoolean(2) == (s > 0.5) || math.abs(s - 0.5) < 1e-9)
    }
  }

  test("quality LR separates planted good and degenerate documents") {
    import spark.implicits._
    val good = (0 until 20).map(i =>
      (i.toLong, (0 until 60).map(j => s"tok${(i * 7 + j * 13) % 97}").mkString(" ")))
    val bad = (20 until 40).map(i =>
      (i.toLong, Seq.fill(50)("spam spam").mkString(" "))) // repetitive
    val short = (40 until 50).map(i => (i.toLong, "tiny doc"))
    val docs = (good ++ bad ++ short).toDF("doc_id", "text")
    val rows = Classifier.qualityLrFor(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gAvg = good.map(d => rows(d._1)).sum / good.size
    val bAvg = (bad ++ short).map(d => rows(d._1)).sum / (bad.size + short.size)
    info(f"good avg score $gAvg%.3f vs degenerate avg $bAvg%.3f")
    assert(gAvg > bAvg + 0.3, f"no separation: good $gAvg%.3f vs bad $bAvg%.3f")
  }

  test("qualityLr on a fresh corpus leaves no cached relation behind") {
    val dir = graft.ScratchDir("graft_lr_cache", spark, sfDir)
    Tables.documents(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Classifier.qualityLr(spark, dir).collect()
    assert(Classifier.featureDf(Tables.documents(spark, dir)).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "qualityLr left its feature frame in the CacheManager")
  }
}
