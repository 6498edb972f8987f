package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}
import graft.hmm.{HmmModel, HmmQueries}
import graft.operators.Classifier
import graft.sources.Tables

/** The pure-data model caches are keyed on the content of the table
  * they train on: a table rewritten in place mid-session gets the
  * rewritten table's model, the one a fresh directory of the same
  * content gets.
  */
class ModelCacheSpec extends AnyFunSuite {

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def digest(m: HmmModel) =
    (m.pi.toSeq, m.a.map(_.toSeq).toSeq, m.b.map(_.toSeq).toSeq)

  test("supervised HMM model: an in-place events rewrite trains the rewritten corpus") {
    val (dir, fresh) = (tmp("graft_hmm_model"), tmp("graft_hmm_model_fresh"))
    val events = Tables.events(spark, sfDir)
    write(events, dir, "events")
    val before = digest(HmmQueries.trainSupervisedModel(spark, dir))
    val rewritten = events.filter(col("user_id") % 2 === 0)
    write(rewritten, dir, "events")
    write(rewritten, fresh, "events")
    val want = digest(HmmQueries.trainSupervisedModel(spark, fresh))
    assert(want != before, "the rewrite must change the model")
    assert(digest(HmmQueries.trainSupervisedModel(spark, dir)) == want,
      "the cache served the model of the events table before its rewrite")
  }

  test("quality classifier: an in-place documents rewrite trains the rewritten corpus") {
    val (dir, fresh) = (tmp("graft_lr_model"), tmp("graft_lr_model_fresh"))
    def scores(d: String) = Classifier.qualityLr(spark, d).collect().toSeq
    val docs = Tables.documents(spark, sfDir)
    write(docs, dir, "documents")
    scores(dir)
    val rewritten = docs.filter(col("doc_id") % 3 === 0)
    write(rewritten, dir, "documents")
    write(rewritten, fresh, "documents")
    assert(scores(dir) == scores(fresh),
      "the cache served the weights of the documents table before its rewrite")
  }
}
