package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites, from the recipe every
  * main uses (SURVEY §2.0 rule D6), at a fixed width of 4. */
object TestSpark {
  /** The one temp root of this test JVM, under `java.io.tmpdir`: every
    * spec directory lives in it, and a shutdown hook removes it, so a run
    * leaves no `graft_*` entry behind. */
  lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_specs")
    sys.addShutdownHook(graft.sources.GraftFs.deleteTree(r.toFile))
    r
  }

  lazy val spark: SparkSession = graft.util.Session(4)
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"

  /** Spark jobs `body` starts on this thread, counted by their job group.
    * A marker job in a second group flushes the listener bus, which
    * delivers events in order, so every job of `body` has been seen. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (probe, marker) = ("spec-probe", "spec-marker")
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, probe)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains(marker), "listener bus did not deliver the marker job")
      groups.toArray.count(_ == probe)
    } finally sc.removeSparkListener(listener)
  }

  /** A new session of the shared context whose minhash chain takes the
    * distributed path at each of `sfs`: its `Text.sigsAndSets` memo entry
    * is the forced distributed build, so `Dedup.verifiedCands`, the CC
    * labels and every key over them run distributed there too. */
  def distributedChain(sfs: String*): SparkSession = {
    val s = spark.newSession()
    graft.plans.GraftExtensions.install(s)
    sfs.foreach(sf => graft.util.Memos.cached(graft.ops.Text.jacSetsMemo, s, sf)(
      graft.ops.Text.sigsAndSetsOf(graft.ops.Text.shingles(s, sf), localRows = 0)))
    s
  }

  /** A fresh temp directory named after `p`, under [[root]]. */
  def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(root, p).toString

  /** A graft-sink table's live rows read through Spark's own
    * `spark.read.parquet` — the independent reference for the
    * connector's decoder: every data file of the head version, each
    * row's physical position from `_metadata.row_index` as `_pos`, and
    * the positions of each file's deletion vector removed. Columns keep
    * the files' footer names. */
  def parquetRows(dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.sources.GraftManifest
    GraftManifest.readVersion(dir, None).get.metas.map { m =>
      val dead = m.dv.map(d =>
        graft.sources.GraftDv.positions(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, d._1))).toSeq).getOrElse(Nil)
      spark.read.parquet(s"$dir/${m.name}")
        .select(col("*"), col("_metadata.row_index").as("_pos"))
        .where(!col("_pos").isin(dead: _*))
    }.reduce(_ unionByName _)
  }

  /** The text of a graft-sink table's newest `_manifest-v<N>` file. */
  def manifestText(dir: String): String = {
    val head = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-v"))
      .maxBy(_.getName.stripPrefix("_manifest-v").toInt)
    new String(java.nio.file.Files.readAllBytes(head.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }
}
