package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (mirrors Verify's config —
  * SURVEY §2.0 rule D6). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"

  /** A fresh temp directory named after `p`. */
  def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** The text of a graft-sink table's newest `_manifest-v<N>` file. */
  def manifestText(dir: String): String = {
    val head = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-v"))
      .maxBy(_.getName.stripPrefix("_manifest-v").toInt)
    new String(java.nio.file.Files.readAllBytes(head.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }
}
