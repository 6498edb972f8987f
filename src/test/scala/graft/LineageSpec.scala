package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

/** [[Lineage.cut]] deployment switch: iterative loops must take the
  * RELIABLE checkpoint path when a checkpoint dir is configured (the
  * 100 TB-cluster conf, where localCheckpoint dies with any executor)
  * and fall back to localCheckpoint on bare local mode — with
  * identical results either way.
  */
class LineageSpec extends AnyFunSuite {

  /** setCheckpointDir has no public unset; restore None reflectively
    * so the shared session leaves other suites on the fast
    * localCheckpoint path. The field name `checkpointDir` is pinned
    * to Spark 4.1's SparkContext — a rename in an upgrade fails here
    * loudly (NoSuchFieldException), which is the intended signal to
    * revisit. Test-only mutation; production code never unsets it.
    */
  private def withCheckpointDir[A](body: String => A): A = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty, "expected no checkpoint dir configured")
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    try {
      sc.setCheckpointDir(dir.toString)
      body(dir.toString)
    } finally {
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty, "failed to restore checkpoint dir")
      // checkpoint data is pagerank-sized; don't let runs accumulate in /tmp
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir.toFile)
    }
  }

  private def filesUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
  }

  test("cut writes a reliable checkpoint (replayable files on the cluster FS) when a dir is configured") {
    import spark.implicits._
    val before = spark.range(1000).map(_ * 2).toDF("v")
    withCheckpointDir { dir =>
      val cut = Lineage.cut(before)
      assert(filesUnder(dir).exists(_.getName.startsWith("part-")),
        "no RDD checkpoint files were written — cut took the executor-pinned local path")
      assert(cut.as[Long].collect().sorted.toSeq == (0L until 1000L).map(_ * 2),
        "checkpointed data does not round-trip")
    }
  }

  test("Loop.cut deletes superseded checkpoint dirs, keeps the live one, and drop() removes the last") {
    import spark.implicits._
    withCheckpointDir { dir =>
      def rddDirs: Set[String] =
        filesUnder(dir).map(_.getParentFile.getName).filter(_.startsWith("rdd-")).toSet
      val loop = new Lineage.Loop
      var df = loop.cut(spark.range(500).map(_ + 1).toDF("v"))
      val first = rddDirs
      assert(first.size == 1, s"expected one checkpoint dir, got $first")
      df = loop.cut(df.selectExpr("v * 2 AS v"))
      val second = rddDirs
      assert(second.size == 1 && second != first,
        s"superseded dir not deleted: was $first, now $second")
      // the surviving checkpoint must still back the dataset
      assert(df.as[Long].collect().sorted.toSeq == (1L to 500L).map(_ * 2))
      loop.drop(spark)
      assert(rddDirs.isEmpty, "drop() left the final checkpoint dir behind")
    }
  }

  test("dropCheckpoint deletes a cut's reliable checkpoint dir (the stopped-context memo sweep)") {
    import spark.implicits._
    withCheckpointDir { dir =>
      def rddDirs = filesUnder(dir).map(_.getParentFile.getName).filter(_.startsWith("rdd-")).toSet
      val cut = Lineage.cut(spark.range(100).map(_ + 1).toDF("v"))
      assert(rddDirs.size == 1, s"expected one checkpoint dir, got $rddDirs")
      Lineage.dropCheckpoint(cut)
      assert(rddDirs.isEmpty, "dropCheckpoint left the cut's checkpoint dir behind")
    }
  }

  test("pagerank result is identical on the localCheckpoint and reliable-checkpoint paths") {
    def run() = graft.operators.Graph.pagerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val local = run()
    val reliable = withCheckpointDir { _ => run() }
    assert(local == reliable,
      "iterative loop diverged between lineage-cut implementations")
  }
}
