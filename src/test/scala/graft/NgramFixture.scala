package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared n-gram-sidecar fixture (Round16b/17/18Spec): wide-alphabet
  * 64-char strings whose 4-gram filters all externalize to per-file
  * sidecars, plus the matching in-alphabet probe helpers — ONE encoding so
  * the suites cannot silently diverge in what they exercise (round-18
  * review). */
object NgramFixture {
  import TestSpark.spark

  /** `n` rows of dense 64-char strings over `files` files, every file
    * carrying an externalized `s` 4-gram bloom sidecar. */
  def write(dir: String, files: Int = 8, lo: Long = 0L, hi: Long = 1000L,
      mode: String = "overwrite"): Unit =
    spark.range(lo, hi)
      .selectExpr("id", "base64(unbase64(left(base64(" +
        "concat(sha2(cast(id as string), 256), sha2(cast(id*31+1 as string), 256))" +
        "), 64))) as s")
      .repartition(files)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode(mode).save()

  /** An 8-char window guaranteed in-alphabet (taken from a live row). */
  def inAlphabetWindow(dir: String): String =
    spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 7L).select("s").head().getString(0)
      .substring(10, 18)

  def containsProbe(dir: String, window: String): DataFrame =
    spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains(window))
}
