package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {

  test("defaults: local[cpus], cpus shuffle partitions, UTC, UI off") {
    val s = LocalSession.settings(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(s == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    val cores = Runtime.getRuntime.availableProcessors
    assert(LocalSession.settings(Map.empty)("spark.master") == s"local[$cores]")
  }

  test("GRAFT_CONF entries override the defaults") {
    val s = LocalSession.settings(Map("SPARK_GRAFT_CPUS" -> "5",
      "GRAFT_CONF" -> "spark.sql.shuffle.partitions=7; spark.sql.adaptive.enabled = false;;spark.master=local[2]"))
    assert(s("spark.sql.shuffle.partitions") == "7")
    assert(s("spark.sql.adaptive.enabled") == "false")
    assert(s("spark.master") == "local[2]")
    assert(s("spark.sql.session.timeZone") == "UTC")
  }

  test("a GRAFT_CONF entry without '=' is rejected by name") {
    val e = intercept[IllegalArgumentException](
      LocalSession.settings(Map("GRAFT_CONF" -> "spark.sql.shuffle.partitions=7;oops")))
    assert(e.getMessage.contains("'oops'"))
  }

  test("SparkSession.builder appears only in LocalSession under src/main/scala") {
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).filter(_.toString.endsWith(".scala")).toArray
      .map(_.asInstanceOf[Path])
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq
    assert(hits == Seq("graft/LocalSession.scala"))
  }
}
