package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (mirrors Verify's config —
  * SURVEY §2.0 rule D6). */
object TestSpark {
  /** The one temp root of this test JVM, under `java.io.tmpdir`: every
    * spec directory and the warehouse live in it, and a shutdown hook
    * removes it, so a run leaves no `graft_*` entry behind. */
  lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_specs")
    sys.addShutdownHook(graft.sources.GraftFs.deleteTree(r.toFile))
    r
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        tmp("graft_wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"

  /** A fresh temp directory named after `p`, under [[root]]. */
  def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(root, p).toString

  /** The text of a graft-sink table's newest `_manifest-v<N>` file. */
  def manifestText(dir: String): String = {
    val head = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-v"))
      .maxBy(_.getName.stripPrefix("_manifest-v").toInt)
    new String(java.nio.file.Files.readAllBytes(head.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }
}
