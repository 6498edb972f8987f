package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

class ScratchDirSpec extends AnyFunSuite {

  test("dirs with equal String.hashCode get distinct scratch paths") {
    assert("Aa".hashCode == "BB".hashCode)
    assert(ScratchDir("graft_t", spark, "/d/Aa") != ScratchDir("graft_t", spark, "/d/BB"))
  }

  test("two sessions on one dir get distinct scratch paths; one session reuses its own") {
    val other = spark.newSession()
    assert(ScratchDir("graft_t", spark, sfDir) == ScratchDir("graft_t", spark, sfDir))
    assert(ScratchDir("graft_t", spark, sfDir) != ScratchDir("graft_t", other, sfDir))
    assert(ScratchDir("graft_t", spark, sfDir).endsWith(s"_p${ProcessHandle.current().pid()}"))
  }
}
