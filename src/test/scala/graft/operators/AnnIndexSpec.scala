package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** `ann_index_persist` — the persisted IVF-PQ index (round 14).
  *
  * Contract: building the index, writing its three relations to
  * parquet, reading them BACK and probing must reproduce the inline
  * [[Similarity.knnIvfPq]] output exactly — parquet round-trips float
  * arrays, doubles and integer codes losslessly, so the persisted
  * probe is the same computation over the same numbers.
  */
class AnnIndexSpec extends AnyFunSuite {

  private lazy val spark = LocalSpark.spark
  private val dir = LocalSpark.sfDir

  test("persisted-index probe equals the inline IVF-PQ search exactly") {
    val inline = Similarity.knnIvfPq(spark, dir).collect().toSeq
    val persisted = Similarity.annIndexPersist(spark, dir).collect().toSeq
    assert(persisted == inline)
  }

  test("index artifacts land on disk with the expected layout and stay small") {
    Similarity.annIndexPersist(spark, dir).collect()
    val idxDir = new java.io.File(Similarity.annIndexScratchDir(spark, dir))
    val parts = Seq("coarse.parquet", "codebook.parquet", "codes.parquet")
    parts.foreach { p =>
      val f = new java.io.File(idxDir, p)
      assert(f.isDirectory, s"missing artifact $p")
    }
    // the artifact IS the deployment payload: centroids + codebook are
    // KB-scale regardless of corpus size; codes are O(4 B) per vector
    def sizeOf(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(idxDir, p))
    }
    assert(sizeOf("coarse.parquet") < 512 * 1024)
    assert(sizeOf("codebook.parquet") < 512 * 1024)
  }

  test("read-back index relations carry the exact training output") {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.arrayNorm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    Similarity.annIndexPersist(spark, dir).collect() // ensure written
    val idxDir = Similarity.annIndexScratchDir(spark, dir)
    val (centDf, codebook, codes) =
      Similarity.ivfPqIndexRelations(spark, e, kCoarse = 8, corpus = Some(dir))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(spark.read.parquet(s"$idxDir/coarse.parquet")) === canon(centDf))
    assert(canon(spark.read.parquet(s"$idxDir/codebook.parquet")) === canon(codebook))
    assert(canon(spark.read.parquet(s"$idxDir/codes.parquet")) === canon(codes))
  }
}
