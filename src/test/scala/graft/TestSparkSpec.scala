package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spec temp directories live under one per-JVM root that a shutdown hook
  * removes, so a test run leaves no `graft_*` entry in `java.io.tmpdir`. */
class TestSparkSpec extends AnyFunSuite {
  test("tmp lands under the per-JVM root and adds no graft_* entry to java.io.tmpdir") {
    val sysTmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries: Set[String] =
      Option(sysTmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(_.getName).filter(_.startsWith("graft_")).toSet
    val root = TestSpark.root
    assert(root.getParent.toFile.getCanonicalPath == sysTmp.getCanonicalPath)
    val before = graftEntries
    val d = java.nio.file.Paths.get(TestSpark.tmp("graft_leak_probe"))
    assert(d.getParent == root, s"$d must sit directly under $root")
    assert(java.nio.file.Files.isDirectory(d))
    assert(graftEntries -- before == Set.empty[String],
      s"tmp created entries in ${sysTmp.getPath}: ${graftEntries -- before}")
  }
}
