package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftFileMeta, GraftManifest}

/** Graft-sink index surfaces across write paths: every path that lands
  * fresh files in an indexed table (batch write, streamed epoch, DML
  * re-insert, OPTIMIZE, DROP COLUMN) rebuilds every surface the table
  * declares — for the same columns, at the same widths. */
class IndexSurfacesSpec extends AnyFunSuite {
  import TestSpark._

  /** A file's index facts by column NAME (positions shift under DROP
    * COLUMN), each tagged with its surface and, for blooms over
    * windows, its width. */
  private def surfaces(m: GraftFileMeta, names: Seq[String]): Set[String] =
    m.blooms.keySet.map(i => s"bloom:${names(i)}") ++
      m.ndvs.keySet.map(i => s"ndv:${names(i)}") ++
      m.pblooms.map { case (i, (w, _)) => s"pbloom:${names(i)}:$w" } ++
      m.ngblooms.map { case (i, (w, _)) => s"ngbloom:${names(i)}:$w" } ++
      m.centroids.keySet.map(i => s"centroid:${names(i)}") ++
      m.rgcens.keySet.map(i => s"rgcen:${names(i)}") ++
      m.rvstats.keySet.map(i => s"rvstats:${names(i)}")

  test("every write path rebuilds every declared index surface") {
    import spark.implicits._
    val root = tmp("graft_idxplan")
    spark.conf.set("spark.sql.catalog.gip", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gip.root", root)
    val dir = s"$root/db/t"
    // seeded rows: `x` is the unindexed column DROP COLUMN removes, placed
    // before the indexed ones so the drop shifts their positions
    val rnd = new scala.util.Random(10)
    def rows(r: Range) = r.map(i => (i.toLong, rnd.nextInt(1000).toLong,
      f"key_${rnd.nextInt(5000)}%04d_${i % 7}", Array.fill(4)(rnd.nextDouble())))
      .toDF("id", "x", "s", "v")
    val all = Set("bloom:id", "ndv:id", "ndv:s", "pbloom:s:4", "ngbloom:s:4",
      "centroid:v", "rgcen:v", "rvstats:s")
    var prev = Set.empty[String]
    def check(step: String, want: Set[String] = all): Unit = {
      val head = GraftManifest.readVersion(dir, None).get
      val names = org.apache.spark.sql.types.StructType
        .fromDDL(head.schemaDdl.get).fieldNames.toSeq
      val fresh = head.metas.filterNot(m => prev(m.name))
      assert(fresh.nonEmpty, s"$step must land fresh files")
      fresh.foreach { m =>
        assert(surfaces(m, names) == want,
          s"$step: file ${m.name} carries ${surfaces(m, names)}, want $want")
      }
      prev = head.metas.map(_.name).toSet
    }

    // 1. the batch write declares all seven surfaces
    rows(0 until 200).coalesce(2).write.format("graft-sink").option("path", dir)
      .option("bloomFor", "id").option("ndvFor", "id,s")
      .option("prefixBloomFor", "s:4").option("ngramBloomFor", "s:4")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .option("sortBy", "reverse(s)")
      .mode("overwrite").save()
    check("the batch write")

    // 2. a streamed epoch with no index options of its own
    val src = s"$root/src"
    rows(200 until 300).coalesce(1).write.mode("overwrite").parquet(src)
    spark.readStream.schema("id LONG, x LONG, s STRING, v ARRAY<DOUBLE>")
      .parquet(src).writeStream.format("graft-sink")
      .option("path", dir).option("checkpointLocation", s"$root/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    check("a streamed epoch")

    // 3. an UPDATE's re-inserted rows
    spark.sql("UPDATE gip.db.t SET x = x + 1 WHERE id < 20")
    check("an UPDATE re-insert")

    // 4. OPTIMIZE rewrites the whole table into two reversed-range files
    spark.sql("CALL gip.system.optimize('db.t', 2)").collect()
    check("OPTIMIZE")

    // 5. DROP COLUMN of the unindexed column rewrites the survivors
    spark.sql("ALTER TABLE gip.db.t DROP COLUMN x")
    check("DROP COLUMN")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("reverse(s)"),
      s"DROP COLUMN must keep the reverse declaration: ${head.sortSpec}")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 300)
    // a 2-char suffix is below the n-gram width, so only the reversed
    // envelopes can prune it
    val probe = t.where(org.apache.spark.sql.functions.col("s").endsWith("_0"))
    val planned = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions }.sum
    assert(planned < head.metas.size,
      s"the suffix probe planned $planned of ${head.metas.size} files")
    assert(probe.count() == 43)
  }
}
