package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom DataSource V2 connector (graft.sources.DocsSource): filter
  * pushdown narrows the planned range, column pruning reaches the reader,
  * and partition planning gives the scan real parallelism. */
class SourceSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = spark.read.format("graft-docs")
    .option("nDocs", "1000").load()

  test("doc_id predicates narrow the scan range at the source") {
    val df = docs.where(col("doc_id") >= 100 && col("doc_id") < 200)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[100,200)"), plan.take(600))
    assert(df.count() == 100)
    // residuals stay with Spark: a non-pushable predicate still filters
    val odd = docs.where(col("doc_id") >= 10 && col("doc_id") < 20 &&
      col("doc_id") % 2 === 1)
    assert(odd.count() == 5)
  }

  test("column pruning reaches the reader (no text generation)") {
    val df = docs.select(col("doc_id"), col("lang"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=doc_id,lang"), plan.take(600))
    assert(!plan.contains("cols=doc_id,lang,text"))
    assert(df.count() == 1000)
  }

  test("the scan plans multiple independent partitions") {
    assert(docs.rdd.getNumPartitions == 8)
    // a 3-row range cannot use more than 3 partitions
    val tiny = docs.where(col("doc_id") >= 0 && col("doc_id") < 3)
    assert(tiny.rdd.getNumPartitions <= 3 && tiny.count() == 3)
  }

  test("generated content matches the spec exactly") {
    val r = docs.where(col("doc_id") === 7).head()
    assert(r.getLong(0) == 7L)
    assert(r.getString(1) == "de") // 7 % 3 == 1
    val words = r.getString(2).split(" ")
    assert(words.length == 40)
    assert(words(0) == graft.sources.DocsSource.md5hex("7:0").substring(0, 6))
  }

  test("graft-avro: schema inference, decoder pruning, idempotent manifest commit") {
    import java.io.File
    val dir = tmp("graft_avro_spec")
    val df = graft.util.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    df.write.format("graft-avro").option("path", dir).mode("append").save()
    // self-describing read: NO user schema; inference from the container
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("o_orderkey" -> "long", "o_orderstatus" -> "string", "cents" -> "long"))
    assert(back.count() == df.count())
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // column pruning reaches the SCAN: the planned read schema must be
    // exactly the requested column, not the container's full record
    val pruned = back.select(col("o_orderkey"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString.take(400))
    assert(scans.head.readSchema().fieldNames.toSeq == Seq("o_orderkey"),
      scans.head.readSchema().treeString)
    assert(pruned.collect().map(_.getLong(0)).toSet ==
      df.select("o_orderkey").collect().map(_.getLong(0)).toSet)
    // a SECOND append MERGES into the committed set — both batches stay
    // visible (before the r7 fix the manifest was replaced and the first
    // batch silently vanished)
    val df2 = df.where(col("o_orderkey") % 2 === 0)
    df2.write.format("graft-avro").option("path", dir).mode("append").save()
    assert(spark.read.format("graft-avro").load(dir).count() ==
      df.count() + df2.count())
    // OVERWRITE (SupportsTruncate) replaces it atomically: readers see
    // exactly the new job's files, prior parts become invisible orphans
    df2.write.format("graft-avro").option("path", dir).mode("overwrite").save()
    assert(spark.read.format("graft-avro").load(dir).count() == df2.count())
    val files = new File(dir).listFiles().map(_.getName)
    // three commits, three generations: the generation is the record
    assert(files.contains("_avro_manifest.g3"), files.mkString(","))
    assert(!files.exists(_.endsWith(".tmp")), files.mkString(","))
  }

  test("graft-sink commit protocol: manifest totals, no stray temp files") {
    import java.io.File
    import graft.sources.GraftManifest
    val dir = tmp("graft_sink_spec")
    val df = graft.util.Tables.orders(spark, sf001)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    // this spec reads the committed parts back RAW as csv lines — pin the
    // v1 line codec it asserts (the table default is parquet since r11)
    df.write.format("graft-sink").option("format", "csv")
      .option("path", dir).mode("append").save()
    val files = new File(dir).listFiles().map(_.getName)
    assert(!files.exists(_.endsWith(".tmp")), files.mkString(","))
    // the version file is the only commit record: no head copy beside it
    assert(!files.contains("_manifest"), files.mkString(","))
    val head = GraftManifest.readVersion(dir, None).get
    // every committed file is named, totals agree with the frame
    assert(head.total == df.count())
    val parts = head.files.map(_._1)
    assert(parts.forall(files.contains), s"manifest names missing files")
    assert(head.files.map(_._2).sum == head.total)
    // read-back through the manifest reproduces the frame
    val back = spark.read.schema("o_orderstatus STRING, n LONG")
      .csv(parts.map(f => s"$dir/$f").toSeq: _*)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("graft-sink time travel: append merges, overwrite truncates, every version stays readable") {
    val dir = tmp("graft_tt_spec")
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.write.format("graft-sink").option("path", dir).mode(mode).save()
    def read(v: Option[Int]) = {
      val r = spark.read.format("graft-sink").option("path", dir)
      v.fold(r)(n => r.option("versionAsOf", n.toString)).load()
    }
    val df1 = graft.util.Tables.orders(spark, sf001)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val df2 = df1.where(col("o_orderstatus") === "O")
    write(df1, "append")    // v1
    write(df2, "append")    // v2 = v1's files + v2's (merge)
    write(df2, "overwrite") // v3 = ONLY this job's files (truncate)
    assert(graft.sources.GraftManifest.versions(dir) == Seq(1, 2, 3))
    // self-describing: no user schema — DDL comes from the manifest
    assert(read(None).schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("o_orderstatus" -> "string", "n" -> "long"))
    val rows1 = df1.collect().map(_.toSeq)
    val rows2 = df2.collect().map(_.toSeq)
    assert(read(Some(1)).collect().map(_.toSeq).toSet == rows1.toSet)
    assert(read(Some(2)).count() == rows1.length + rows2.length)
    assert(read(None).collect().map(_.toSeq).toSet == rows2.toSet)
    assert(read(Some(3)).collect().map(_.toSeq).toSet == rows2.toSet)
    // column pruning reaches the connector scan
    val pruned = read(Some(1)).select(col("n"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.head.readSchema().fieldNames.toSeq == Seq("n"))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      rows1.map(_(1).asInstanceOf[Long]).sorted.toSeq)
    // a pinned version that was never committed fails loudly (at planning —
    // the manifest lookup happens driver-side before any task launches)
    val e = intercept[Exception] { read(Some(9)).count() }
    assert((e.getMessage != null && e.getMessage.contains("versionAsOf=9")) ||
      Option(e.getCause).exists(c => c.getMessage != null &&
        c.getMessage.contains("versionAsOf=9")), e.toString)
    // appending a different schema is refused (overwrite to evolve)
    intercept[Exception] {
      write(df1.withColumnRenamed("n", "m"), "append")
    }
    // torn-file detection: truncate a committed file behind the manifest.
    // NB a bare count() now answers from the manifest (aggregate
    // pushdown — the manifest IS the source of truth, the Delta
    // stats-count contract), so force a real scan with collect().
    val m3 = graft.sources.GraftManifest.readVersion(dir, Some(3)).get
    val victim = java.nio.file.Paths.get(dir, m3.files.filter(_._2 > 0).head._1)
    java.nio.file.Files.write(victim, Array.empty[Byte])
    val torn = intercept[org.apache.spark.SparkException] { read(Some(3)).collect() }
    // csv parts fail our own physical-row-count check ("manifest
    // committed"); parquet parts fail even earlier — the footer itself is
    // torn ("not a Parquet file"). Either way: loudly, never silently short.
    def tornMsg(m: String): Boolean = m != null &&
      (m.contains("manifest committed") || m.contains("not a Parquet file"))
    assert(tornMsg(torn.getMessage) ||
      Option(torn.getCause).exists(c => tornMsg(c.getMessage)))
  }

  test("graft-sink schema evolution: add-column append, old versions stay readable") {
    val dir = tmp("graft_evo")
    def write(df: org.apache.spark.sql.DataFrame, mode: String, evolve: Boolean = false) = {
      val w = df.write.format("graft-sink").option("path", dir).mode(mode)
      (if (evolve) w.option("evolveSchema", "true") else w).save()
    }
    val v1 = spark.range(0, 5).toDF("id").select(col("id"), (col("id") * 10).as("a"))
    write(v1, "overwrite")
    // plain append of a wider schema is refused; evolveSchema admits it
    val wide = spark.range(5, 8).toDF("id")
      .select(col("id"), (col("id") * 10).as("a"), lit("x").as("b"))
    intercept[Exception] { write(wide, "append") }
    write(wide, "append", evolve = true)
    // non-prefix evolution (renamed middle column) is still refused
    intercept[Exception] {
      write(spark.range(9, 10).toDF("id")
        .select(col("id"), (col("id") * 10).as("RENAMED"), lit("x").as("b")),
        "append", evolve = true)
    }
    // head reads the union schema; pre-evolution rows surface NULL b
    val head = spark.read.format("graft-sink").option("path", dir).load()
    assert(head.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("id" -> "long", "a" -> "long", "b" -> "string"))
    assert(head.schema("b").nullable, "evolved trailing column must be nullable")
    val rows = head.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).sortBy(_._1).toSeq
    assert(rows == (0 until 5).map(i => (i.toLong, i * 10L, None)) ++
      (5 until 8).map(i => (i.toLong, i * 10L, Some("x"))))
    // the pre-evolution snapshot is untouched: version 1 still reads 2 cols
    val pinned = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(pinned.schema.fieldNames.toSeq == Seq("id", "a"))
    assert(pinned.count() == 5)
    // an old-shaped producer can still append post-evolution under evolve:
    // its rows read NULL for the trailing column
    write(spark.range(100, 102).toDF("id").select(col("id"), (col("id") * 10).as("a")),
      "append", evolve = true)
    val after = spark.read.format("graft-sink").option("path", dir).load()
    assert(after.count() == 10)
    assert(after.where(col("b").isNull).count() == 7)
  }

  test("graft-sink vacuum: manifests drop first, only unreferenced files reclaimed") {
    val dir = tmp("graft_vac_spec")
    val df = graft.util.Tables.orders(spark, sf001)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    df.repartition(4).write.format("graft-sink").option("path", dir).mode("append").save()
    // lazy part creation (round 8): only non-empty tasks commit files, so
    // 3 status rows over 4 round-robin tasks land as 3 files
    val n1 = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    assert(n1 >= 2 && n1 <= 4, s"want multiple small files, got $n1")
    // OPTIMIZE: rewrite the head compact as a new overwrite version
    spark.read.format("graft-sink").option("path", dir).load().coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    // graceMs=0: this test is the single writer; the default retention
    // window exists to protect concurrent in-flight task commits
    val removed = graft.sources.GraftManifest.vacuum(dir, retainLast = 1, graceMs = 0L)
    assert(removed == n1, s"exactly v1's $n1 files reclaimed, got $removed")
    // head version survives untouched and reads the full content
    assert(graft.sources.GraftManifest.versions(dir) == Seq(2))
    val back = spark.read.format("graft-sink").option("path", dir).load()
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // exactly ONE data file remains on disk — the compacted one
    val csvs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(graft.sources.GraftFormat.isDataFile)
    assert(csvs.length == 1, csvs.mkString(","))
    // a reader pinned to the vacuumed version fails loudly at the manifest
    val e = intercept[Exception] {
      spark.read.format("graft-sink").option("path", dir)
        .option("versionAsOf", "1").load().count()
    }
    assert((e.getMessage != null && e.getMessage.contains("versionAsOf=1")) ||
      Option(e.getCause).exists(c => c.getMessage != null &&
        c.getMessage.contains("versionAsOf=1")), e.toString)
  }

  test("graft-docs resume: capped micro-batches, checkpointed offsets, growing corpus") {
    val chk = tmp("graft_resume_chk")
    val out = tmp("graft_resume_out")
    def runOnce(nDocs: Int): Unit = {
      val q = spark.readStream.format("graft-docs")
        .option("nDocs", nDocs.toString).option("maxDocsPerBatch", "100")
        .load().select(col("doc_id"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          // batchId-keyed OVERWRITE: a crash-replayed batch rewrites its
          // own directory instead of appending duplicates (the
          // idempotent-landing half of exactly-once)
          b.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce(300) // cold start: 3 batches of exactly 100
    val run1 = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("batch").longValue())
    assert(run1.map(_._1).sorted.toSeq == (0L until 300L), "run 1 must read [0,300) exactly")
    val byBatch = run1.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byBatch.size == 3, s"admission cap must split 300 docs into 3 batches, got ${byBatch.keySet}")
    assert(byBatch.values.toSet == Set(0L until 100L, 100L until 200L, 200L until 300L),
      "each batch must be one contiguous 100-doc offset range")
    runOnce(500) // corpus grew: resume MUST read exactly the unseen [300,500)
    val all = spark.read.parquet(out).collect().map(_.getLong(0))
    assert(all.sorted.toSeq == (0L until 500L),
      "resume must continue at the committed offset — every id exactly once")
    runOnce(300) // checkpoint (500) is past this run's end: no data may re-emit
    assert(spark.read.parquet(out).count() == 500,
      "a checkpoint ahead of the configured end must report no-new-data")
    // the offset log is the persisted source-of-truth for the resume
    assert(new java.io.File(s"$chk/offsets").listFiles().length >= 5)
  }

  test("graft-sink timestampAsOf: strictly increasing commit clocks, boundary resolution") {
    import graft.sources.GraftManifest
    val dir = tmp("graft_ts_spec")
    def write(lo: Long, mode: String): Unit =
      spark.range(lo, lo + 5).selectExpr("id AS k")
        .coalesce(1).write.format("graft-sink").option("path", dir).mode(mode).save()
    write(0, "overwrite"); write(10, "append"); write(20, "append")
    val ts = (1 to 3).map(v => GraftManifest.readVersion(dir, Some(v)).get.ts.get)
    assert(ts == ts.sorted && ts.distinct == ts,
      s"commit timestamps must be strictly increasing, got $ts")
    def at(t: Long) = spark.read.format("graft-sink")
      .option("path", dir).option("timestampAsOf", t.toString).load().count()
    assert(at(ts(0)) == 5, "v1's own commit instant resolves to v1")
    assert(at(ts(1) - 1) == 5, "just before v2 still resolves to v1")
    assert(at(ts(1)) == 10 && at(ts(2)) == 15)
    assert(at(System.currentTimeMillis() + 60000) == 15, "the future resolves to head")
    val e = intercept[IllegalArgumentException] { at(ts(0) - 1) }
    assert(e.getMessage.contains("precedes every commit"))
  }

  test("graft-sink change feed: version diff plans only changed files, tags insert/delete") {
    import graft.sources.GraftSinkScan
    val dir = tmp("graft_cdf_spec")
    def write(lo: Long, mode: String, base: Option[Int] = None): Unit = {
      val w = spark.range(lo, lo + 5).selectExpr("id AS k")
        .coalesce(1).write.format("graft-sink").option("path", dir).mode(mode)
      base.fold(w)(b => w.option("expectedBaseVersion", b.toString)).save()
    }
    write(0, "overwrite"); write(10, "append")
    // v3: DELETE k<3 as a conditioned rewrite (all files replaced)
    spark.read.format("graft-sink").option("path", dir).load()
      .where(col("k") >= 3).coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", "2").mode("overwrite").save()
    def changes(from: Int, to: Int) = spark.read.format("graft-sink")
      .option("path", dir).option("changesFrom", from.toString)
      .option("changesTo", to.toString).load()
    // append range: pure inserts, planned = the ONE added file
    val a = changes(1, 2)
    assert(a.rdd.getNumPartitions == 1, "append CDF must plan only the added file")
    assert(a.groupBy(col(GraftSinkScan.ChangeCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("insert" -> 5L))
    // rewrite range: old files delete, new file inserts
    val b = changes(2, 3)
    val byType = b.groupBy(col(GraftSinkScan.ChangeCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 10L, "insert" -> 7L), byType.toString)
    // whole-history feed (from 0) = the head snapshot as inserts
    assert(changes(0, 3).where(col(GraftSinkScan.ChangeCol) === "insert").count() == 7)
    // net change replays: v2 content + feed = v3 content
    val net = b.groupBy(col("k"))
      .agg(sum(when(col(GraftSinkScan.ChangeCol) === "insert", 1)
        .otherwise(-1)).as("d"))
    val v2 = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "2").load()
    val replayed = v2.select(col("k")).withColumn("d", lit(1))
      .unionByName(net.select(col("k"), col("d")))
      .groupBy(col("k")).agg(sum(col("d")).as("copies"))
      .where(col("copies") > 0).select(col("k"))
    val v3 = spark.read.format("graft-sink").option("path", dir).load().select(col("k"))
    assert(replayed.except(v3).count() == 0 && v3.except(replayed).count() == 0,
      "applying the change feed to v2 must reproduce v3")
  }

  test("graft-sink delta manifests: appends write O(job) bodies, folds agree, vacuum self-contains") {
    import graft.sources.GraftManifest
    val dir = tmp("graft_delta_spec")
    def write(lo: Long, mode: String): Unit =
      spark.range(lo, lo + 3).selectExpr("id AS k")
        .coalesce(1).write.format("graft-sink").option("path", dir).mode(mode).save()
    write(0, "overwrite")
    (1 until 25).foreach(i => write(i * 10L, "append"))
    def rawBody(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"_manifest-v$v")), "UTF-8")
    def fileLines(v: Int) = rawBody(v).split("\n")
      .count(l => !l.startsWith("#") && !l.startsWith("_total"))
    // deltas carry ONLY their own adds; checkpoints (v10, v20) and the
    // first commit (v1) carry the full list
    assert(rawBody(7).contains("#base=6") && fileLines(7) == 1, rawBody(7).take(200))
    assert(!rawBody(10).contains("#base=") && fileLines(10) == 10)
    assert(!rawBody(20).contains("#base=") && fileLines(20) == 20)
    assert(rawBody(25).contains("#base=24") && fileLines(25) == 1)
    // folds agree with the physical truth at every probe point
    assert(GraftManifest.readVersion(dir, Some(7)).get.files.size == 7)
    assert(GraftManifest.readVersion(dir, Some(25)).get.total == 75)
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "13").load().count() == 39)
    // stats skipping still works through a folded delta chain
    val skim = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("k") >= 240) // only the last append's file can match
    assert(skim.rdd.getNumPartitions == 1 && skim.count() == 3)
    // vacuum folds retained deltas (21..25 chain onto dropped v20) before
    // dropping, so every retained manifest is self-contained
    GraftManifest.vacuum(dir, retainLast = 3, graceMs = 0L)
    assert(GraftManifest.versions(dir) == Seq(23, 24, 25))
    assert(!rawBody(23).contains("#base=") && fileLines(23) == 23)
    assert(!rawBody(24).contains("#base=") && !rawBody(25).contains("#base="),
      "every retained manifest is folded self-contained")
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "23").load().count() == 69)
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 75)
    // append-only table: every retained version references every file
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-sink").option("path", dir)
        .option("versionAsOf", "13").load().count()
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("graft catalog: CREATE TABLE commits schema, INSERT appends, SQL travels, DROP is local") {
    val root = tmp("graft_cat_spec")
    spark.conf.set("spark.sql.catalog.gspec", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspec.root", root)
    spark.sql("CREATE TABLE gspec.ns.t (k BIGINT, s STRING)")
    // v1 = the empty manifest carrying the declared schema
    val v1 = graft.sources.GraftManifest.readVersion(s"$root/ns/t", Some(1)).get
    assert(v1.metas.isEmpty && v1.schemaDdl.exists(_.contains("k BIGINT")))
    assert(spark.sql("SELECT * FROM gspec.ns.t").count() == 0)
    spark.sql("INSERT INTO gspec.ns.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gspec.ns.t VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM gspec.ns.t").count() == 3)
    assert(spark.sql("SELECT * FROM gspec.ns.t VERSION AS OF 2").count() == 2)
    assert(spark.table("gspec.ns.t").schema.fieldNames.toSeq == Seq("k", "s"))
    // the catalog is a naming layer: listTables = dirs with a manifest
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("gspec")
      .asInstanceOf[graft.sources.GraftCatalog]
    assert(cat.listTables(Array("ns")).toSeq == Seq(Identifier.of(Array("ns"), "t")))
    val e = intercept[Exception] { spark.sql("SELECT * FROM gspec.ns.missing").collect() }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    assert(cat.dropTable(Identifier.of(Array("ns"), "t")))
    assert(cat.listTables(Array("ns")).isEmpty)
  }

  test("graft-sink reports manifest statistics: small tables auto-broadcast with no hint") {
    val dir = tmp("graft_stats_spec")
    graft.util.Tables.orders(spark, sf001)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val small = spark.read.format("graft-sink").option("path", dir).load()
      .withColumnRenamed("o_orderstatus", "st")
    val big = graft.util.Tables.orders(spark, sf001)
    val joined = big.join(small, col("o_orderstatus") === col("st"))
    // no broadcast() hint anywhere: Catalyst must learn the 3-row size
    // from the scan's reported statistics and pick BHJ on its own
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(joined.count() == big.count())
  }

  test("graft-sink guards: reserved _change_type refused at write, startingVersion inclusive") {
    val dir = tmp("graft_guard_spec")
    val e = intercept[Exception] {
      spark.range(1).selectExpr("id AS k", "'x' AS _change_type")
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    def write(lo: Long, mode: String): Unit =
      spark.range(lo, lo + 5).selectExpr("id AS k")
        .coalesce(1).write.format("graft-sink").option("path", dir).mode(mode).save()
    write(0, "overwrite"); write(10, "append"); write(20, "append")
    val out = tmp("graft_guard_out")
    val q = spark.readStream.format("graft-sink").option("path", dir)
      .option("startingVersion", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) => b.write.mode("overwrite").parquet(s"$out/batch=$id") }
      .option("checkpointLocation",
        tmp("graft_guard_chk"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Delta contract: version 2 INCLUSIVE — v2's and v3's adds, not v1's
    val got = spark.read.parquet(out).selectExpr("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == ((10L until 15L) ++ (20L until 25L)), got.mkString(","))
  }

  test("graft catalog procedures: CALL restore/optimize/vacuum drive the lifecycle from SQL") {
    import graft.sources.GraftManifest
    val root = tmp("graft_proc_spec")
    spark.conf.set("spark.sql.catalog.gproc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.root", root)
    val dir = s"$root/ns/t"
    spark.range(0, 5).selectExpr("id AS k")
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.range(10, 20).selectExpr("id AS k")
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    // RESTORE is metadata-only: v3 re-lists v1's files, no data copied
    val r = spark.sql("CALL gproc.system.restore(table => 'ns.t', version => 1)").head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 3)
    assert(spark.sql("SELECT * FROM gproc.ns.t").count() == 5)
    assert(GraftManifest.readVersion(dir, Some(3)).get.metas.map(_.name) ==
      GraftManifest.readVersion(dir, Some(1)).get.metas.map(_.name),
      "restore must re-list the restored version's files verbatim")
    assert(spark.sql("SELECT * FROM gproc.ns.t VERSION AS OF 2").count() == 10,
      "intermediate versions stay readable after restore")
    // OPTIMIZE compacts under the conditioned-commit rule
    val o = spark.sql("CALL gproc.system.optimize(table => 'ns.t', target_files => 1)").head()
    assert(o.getInt(1) == 1 && o.getInt(2) == 4, o.toString)
    assert(spark.sql("SELECT * FROM gproc.ns.t").count() == 5)
    // VACUUM with grace 0 drops history and reclaims v2's rows
    val v = spark.sql(
      "CALL gproc.system.vacuum(table => 'ns.t', retain => 1, grace_ms => 0L)").head()
    assert(v.getInt(1) == 4 && v.getInt(0) > 0, v.toString)
    assert(GraftManifest.versions(dir) == Seq(4))
    assert(spark.sql("SELECT * FROM gproc.ns.t").count() == 5)
  }

  test("graft-sink streaming write conforms to the declared partition layout") {
    import graft.sources.GraftManifest
    val root = tmp("graft_stp")
    spark.conf.set("spark.sql.catalog.gstp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstp.root", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE gstp.db.t (k BIGINT, g STRING) PARTITIONED BY (g)")
    val src = tmp("graft_stp_src")
    spark.range(0, 60)
      .selectExpr("id AS k", "concat('g', cast(id % 3 AS string)) AS g")
      .coalesce(1).write.format("graft-sink").option("path", src)
      .mode("overwrite").save()
    val q = spark.readStream.format("graft-sink").option("path", src).load()
      .writeStream.format("graft-sink")
      .option("path", dir)
      .option("checkpointLocation",
        tmp("graft_stp_chk"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.nonEmpty &&
      head.metas.forall(_.partition.exists(_._1 == "g")),
      s"streamed rows must land the declared layout: ${head.metas.map(_.partition)}")
    val pr = spark.table("gstp.db.t").where(col("g") === "g2")
    assert(pr.count() == 20 &&
      pr.rdd.getNumPartitions < head.metas.size,
      "the streamed layout prunes like a batch-written one")
  }

  test("graft-sink streaming source: version offsets, rewrite fails loudly, ignoreChanges re-emits") {
    val dir = tmp("graft_tstream_spec")
    val chk = tmp("graft_tstream_chk")
    val out = tmp("graft_tstream_out")
    def write(lo: Long, mode: String): Unit =
      spark.range(lo, lo + 5).selectExpr("id AS k")
        .coalesce(1).write.format("graft-sink").option("path", dir).mode(mode).save()
    def drain(opts: Map[String, String] = Map.empty): Unit = {
      val r = spark.readStream.format("graft-sink").option("path", dir)
      val q = opts.foldLeft(r) { case (x, (k, v)) => x.option(k, v) }.load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => b.write.mode("overwrite").parquet(s"$out/batch=$id") }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    write(0, "overwrite"); write(10, "append")
    drain(Map("maxVersionsPerTrigger" -> "1"))
    val run1 = spark.read.parquet(out)
    assert(run1.count() == 10, "cold start streams the whole committed history")
    assert(run1.select("batch").distinct().count() == 2,
      "maxVersionsPerTrigger=1 must split 2 versions into 2 micro-batches")
    write(20, "append")
    drain()
    assert(spark.read.parquet(out).count() == 15,
      "resume must read exactly the new version")
    // OPTIMIZE-style rewrite: appends-only streaming cannot represent it
    spark.read.format("graft-sink").option("path", dir).load().coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", "3").mode("overwrite").save()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    assert(e.getCause.getMessage.contains("appends-only stream"), e.getCause.getMessage)
    // ignoreChanges: the rewritten file re-emits (documented at-least-once)
    drain(Map("ignoreChanges" -> "true"))
    assert(spark.read.parquet(out).count() == 30,
      "ignoreChanges re-emits the 15 rewritten rows")
  }

  test("graft-sink write distribution + aggregate pushdown: auto-clustered files, manifest-answered aggs, honest fallbacks") {
    import graft.sources.GraftManifest
    // HASH write distribution (default): a partitioned write clusters by
    // the partition column itself — one file per value, no caller shaping
    val dir = tmp("graft_dist")
    spark.range(0, 300).toDF("id")
      .select(col("id"), concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
      .repartition(4) // adversarial input layout; the WRITE fixes it
      .write.format("graft-sink").option("path", dir)
      .option("partitionBy", "grp").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 3 &&
      head.metas.flatMap(_.partition.map(_._2)).sorted == Seq("g0", "g1", "g2"),
      s"hash distribution must land exactly one file per value: ${head.metas}")
    // aggregate pushdown: unfiltered count/min/max answers from the manifest
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val agg = t.agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      agg.queryExecution.executedPlan.toString.take(400))
    assert(agg.head() == org.apache.spark.sql.Row(300L, 0L, 299L))
    // grouped by the partition column: one manifest row per value
    val byGrp = t.groupBy(col("grp")).agg(count(lit(1)).as("n")).orderBy(col("grp"))
    assert(byGrp.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(byGrp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("g0", 100L), ("g1", 100L), ("g2", 100L)))
    // sum(bigint) answers from the per-file #sums facts
    val sm = t.agg(sum(col("id")))
    assert(sm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      sm.queryExecution.executedPlan.toString.take(400))
    assert(sm.head().getLong(0) == (0L until 300L).sum)
    // ...but sum(double) is never pushed: FP addition is order-dependent
    val dirF = tmp("graft_dblsum")
    spark.range(5).selectExpr("id", "cast(id as double) as d").coalesce(1)
      .write.format("graft-sink").option("path", dirF).mode("overwrite").save()
    val tF = spark.read.format("graft-sink").option("path", dirF).load()
    val smD = tF.agg(sum(col("d")))
    assert(!smD.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "sum over a double column must scan")
    assert(smD.head().getDouble(0) == 10.0)
    // HONEST FALLBACKS: a WHERE keeps the real scan (stats skipping is
    // file-granular, whole-file stats must not answer filtered aggs)...
    val filtered = t.where(col("grp") === "g1").agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "filtered aggregates must scan")
    assert(filtered.head().getLong(0) == 100L)
    // ...and a deletion vector blocks min/max (a deleted row might have
    // been the extreme) while count(*) still answers from live counts
    spark.conf.set("spark.sql.catalog.gagg", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gagg.root", dir + "_root")
    val dir2 = dir + "_root/db/t"
    spark.range(10).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir2).mode("overwrite").save()
    spark.sql("DELETE FROM gagg.db.t WHERE id % 3 = 1")
    val t2 = spark.read.format("graft-sink").option("path", dir2).load()
    val cnt = t2.agg(count(lit(1)))
    assert(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "count(*) over a vectored table still answers from live counts")
    assert(cnt.head().getLong(0) == 7L) // 10 rows minus deleted ids 1,4,7
    val mn = t2.agg(min(col("id")))
    assert(!mn.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "min over a vectored file must scan — the deleted row might have been the min")
    assert(mn.head().getLong(0) == 0L)
    val smV = t2.agg(sum(col("id")))
    assert(!smV.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "sum over a vectored file must scan — deleted rows' contribution is unknown")
    assert(smV.head().getLong(0) == 45L - 1L - 4L - 7L)
  }

  test("graft-sink declared partitioning: inserts conform, options override, shape replacement drops the spec") {
    import graft.sources.GraftManifest
    val root = tmp("graft_ddlp")
    spark.conf.set("spark.sql.catalog.gddl", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gddl.root", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE gddl.db.t (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql(
      "INSERT INTO gddl.db.t SELECT id, concat('g', cast(id % 3 AS string)) FROM range(90)")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.partSpec.contains("g"), s"spec: ${head.partSpec}")
    assert(head.metas.size == 3 &&
      head.metas.forall(_.partition.exists(_._1 == "g")),
      s"a plain INSERT conforms (and the hash distribution lands 1 file/value): " +
        s"${head.metas.map(_.partition)}")
    // declared identity layout prunes without any read option
    val pr = spark.table("gddl.db.t").where(col("g") === "g1")
    assert(pr.rdd.getNumPartitions == 1 && pr.count() == 30)
    // an EXPLICIT partitionBy option overrides the declared spec per write
    spark.range(0, 10).toDF("id")
      .select(col("id"), lit("x").as("g")).coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("partitionBy", "id").mode("append").save()
    val mixed = GraftManifest.readVersion(dir, None).get
    assert(mixed.partSpec.contains("g"), "the DECLARED spec survives an override write")
    assert(mixed.metas.exists(_.partition.exists(_._1 == "id")),
      s"the override landed its own layout: ${mixed.metas.map(_.partition)}")
    // a full shape REPLACEMENT is a new table shape: the spec drops
    spark.range(5).selectExpr("cast(id as double) as v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    assert(GraftManifest.readVersion(dir, None).get.partSpec.isEmpty,
      "shape replacement must drop the declared spec")
  }

  test("graft-sink WAP: duplicate ids refused, vacuum spares stages, moved head fails publish, abort reclaims") {
    import graft.sources.GraftManifest
    val root = tmp("graft_wap")
    spark.conf.set("spark.sql.catalog.gwap", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwap.root", root)
    val dir = s"$root/db/t"
    def write(df: org.apache.spark.sql.DataFrame, mode: String, opts: (String, String)*) = {
      val w = df.coalesce(1).write.format("graft-sink").option("path", dir).mode(mode)
      opts.foldLeft(w) { case (x, (k, v)) => x.option(k, v) }.save()
    }
    write(spark.range(10).toDF("id"), "overwrite")
    write(spark.range(10, 20).toDF("id"), "append", "wapStage" -> "s1")
    assert(GraftManifest.versions(dir).max == 1 && GraftManifest.wapIds(dir) == Seq("s1"))
    // reusing a pending id is refused, never silently replaced
    intercept[Exception] {
      write(spark.range(2).toDF("id"), "append", "wapStage" -> "s1")
    }
    // an aggressive vacuum must NOT reclaim the staged batch
    val stagedFiles = GraftManifest.readWap(dir, "s1")._1.metas.map(_.name)
    GraftManifest.vacuum(dir, 1, graceMs = 0)
    assert(stagedFiles.forall(f => java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, f))), "vacuum reclaimed a pending stage")
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("wapId", "s1").load().count() == 10)
    // the head moves past the staged base → publish must throw, and the
    // stage must survive the failed publish
    write(spark.range(100, 105).toDF("id"), "append")
    val failed = intercept[Exception] {
      spark.sql("CALL gwap.system.wap_publish('db.t', 's1')")
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x => x.toString +: msgs(x.getCause))
    assert(msgs(failed).exists(_.contains("ConcurrentModification")) ||
      msgs(failed).exists(_.contains("planned against")), failed.toString)
    assert(GraftManifest.wapIds(dir) == Seq("s1"), "a failed publish keeps the stage")
    // abort reclaims files and the marker
    spark.sql("CALL gwap.system.wap_abort('db.t', 's1')")
    assert(GraftManifest.wapIds(dir).isEmpty &&
      stagedFiles.forall(f => !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, f))))
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 15)
  }

  test("graft catalog: DROP COLUMN rewrites once, keeps survivor ids, old versions still serve it") {
    import graft.sources.GraftManifest
    val root = tmp("graft_drop")
    spark.conf.set("spark.sql.catalog.gdrop", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdrop.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 90)
      .selectExpr("id", "id * 2 AS junk", "concat('g', cast(id % 3 AS string)) AS g")
      .write.format("graft-sink").option("path", dir)
      .option("partitionBy", "g").mode("overwrite").save()
    spark.sql("ALTER TABLE gdrop.db.t DROP COLUMN junk")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.schemaDdl.exists(d => !d.contains("junk")) &&
      head.ids.contains(Seq(0, 2)),
      s"survivors keep their ORIGINAL field ids: ${head.ids} ${head.schemaDdl}")
    assert(head.op.contains("DROP COLUMN") &&
      head.metas.forall(_.partition.exists(_._1 == "g")),
      s"the rewrite preserves the partition layout: ${head.metas.map(_.partition)}")
    assert(spark.table("gdrop.db.t").columns.toSeq == Seq("id", "g") &&
      spark.table("gdrop.db.t").count() == 90)
    // the dropped column still serves through time travel
    assert(spark.sql("SELECT junk FROM gdrop.db.t VERSION AS OF 1").count() == 90)
    // a later ADD takes a FRESH id — it can never alias the dropped storage
    spark.sql("ALTER TABLE gdrop.db.t ADD COLUMNS (junk2 BIGINT)")
    assert(GraftManifest.readVersion(dir, None).get.ids.contains(Seq(0, 2, 3)))
    assert(spark.table("gdrop.db.t").where(col("junk2").isNotNull).count() == 0,
      "pre-drop cells must never leak into the re-added slot")
    // layout and constraint guards
    intercept[Exception] { spark.sql("ALTER TABLE gdrop.db.t DROP COLUMN g") }
    spark.sql("CALL gdrop.system.add_constraint('db.t', 'id_nn', 'id IS NOT NULL')")
    val guarded = intercept[Exception] {
      spark.sql("ALTER TABLE gdrop.db.t DROP COLUMN id") }
    assert(guarded.getMessage.contains("id_nn"), guarded.getMessage)
  }

  test("graft catalog: CTAS PARTITIONED BY lands and records the layout; REPLACE without it clears") {
    import graft.sources.GraftManifest
    val root = tmp("graft_ctasp")
    spark.conf.set("spark.sql.catalog.gcts", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcts.root", root)
    spark.sql(
      """CREATE TABLE gcts.db.t PARTITIONED BY (g) AS
        |SELECT id, concat('g', cast(id % 3 AS string)) AS g FROM range(90)""".stripMargin)
    val head = GraftManifest.readVersion(s"$root/db/t", None).get
    assert(head.partSpec.contains("g") && head.metas.size == 3 &&
      head.metas.forall(_.partition.exists(_._1 == "g")),
      s"CTAS must land AND record the declared layout: ${head.partSpec} ${head.metas.map(_.partition)}")
    // REPLACE that declares NO partitioning clears the spec even though
    // the shape is unchanged — the new DDL is the whole table definition
    spark.sql(
      """REPLACE TABLE gcts.db.t AS
        |SELECT id, concat('g', cast(id % 3 AS string)) AS g FROM range(30)""".stripMargin)
    val rep = GraftManifest.readVersion(s"$root/db/t", None).get
    assert(rep.partSpec.isEmpty && rep.total == 30,
      s"REPLACE without PARTITIONED BY must clear the spec: ${rep.partSpec}")
    // bucket CTAS
    spark.sql(
      "CREATE TABLE gcts.db.b PARTITIONED BY (bucket(4, id)) AS SELECT id FROM range(100)")
    val b = GraftManifest.readVersion(s"$root/db/b", None).get
    assert(b.partSpec.contains("bucket:4:id") &&
      b.metas.forall(_.partition.exists(_._1 == "bucket:4:id")),
      s"bucket CTAS: ${b.partSpec} ${b.metas.map(_.partition)}")
  }

  test("graft-sink sorted write: strict range distribution tiles envelopes and prunes; non-strict rebalance loses nothing") {
    import graft.sources.GraftManifest
    val dir = tmp("graft_sortw")
    spark.range(0, 400).toDF("id").repartition(8)
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "id").option("writePartitions", "4")
      .option("distributionStrict", "true").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 4, s"strict writePartitions=4 must land 4 files: $head")
    val envs = head.metas.flatMap(_.stats.get(0))
      .map { case (a, b) => (a.toLong, b.toLong) }.sortBy(_._1)
    assert(envs.size == 4 && envs.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _                         => true
    }, s"range files must own disjoint id slices: $envs")
    val q = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") < envs.head._2) // inside the first file's slice
    assert(q.rdd.getNumPartitions == 1,
      s"a first-slice predicate must plan exactly 1 of 4 files")
    // non-strict (default) goes through REBALANCE — layout is AQE's
    // choice, but every row lands and stays readable
    val dir2 = tmp("graft_sortw2")
    spark.range(0, 400).toDF("id").repartition(8)
      .write.format("graft-sink").option("path", dir2)
      .option("sortBy", "id").mode("overwrite").save()
    assert(spark.read.format("graft-sink").option("path", dir2).load()
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 400L))
  }

  test("graft-sink column mapping + constraints: rename keeps ids, re-added names never alias, DML enforces") {
    val root = tmp("graft_cm_spec")
    spark.conf.set("spark.sql.catalog.gcm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm.root", root)
    import graft.sources.GraftManifest
    val dir = s"$root/db/t"
    spark.range(5).select(col("id"), (col("id") * 10).as("k")).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val v1 = GraftManifest.readVersion(dir, None).get
    assert(v1.ids.contains(Seq(0, 1)), s"first commit assigns positional ids: ${v1.ids}")
    // rename k -> k2: metadata-only, same ids; old version serves old name
    spark.sql("ALTER TABLE gcm.db.t RENAME COLUMN k TO k2")
    val v2 = GraftManifest.readVersion(dir, None).get
    assert(v2.ids == v1.ids && v2.metas == v1.metas)
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load().columns.toSeq == Seq("id", "k"))
    // ADD COLUMNS of the OLD name takes a FRESH id — it can never alias
    // the renamed column's data, and pre-evolution files read it as NULL
    spark.sql("ALTER TABLE gcm.db.t ADD COLUMNS (k BIGINT)")
    val v3 = GraftManifest.readVersion(dir, None).get
    assert(v3.ids.contains(Seq(0, 1, 2)),
      s"re-added old name must take a fresh id, got ${v3.ids}")
    val head = spark.read.format("graft-sink").option("path", dir).load()
    assert(head.columns.toSeq == Seq("id", "k2", "k"))
    assert(head.where(col("k").isNull).count() == 5,
      "the re-added 'k' is a NEW column: pre-evolution rows read NULL")
    assert(head.agg(sum(col("k2"))).head().getLong(0) == 100L,
      "the renamed column still serves its original data")
    // rename collisions/reserved names refused
    intercept[Exception] { spark.sql("ALTER TABLE gcm.db.t RENAME COLUMN k2 TO k") }
    intercept[Exception] { spark.sql("ALTER TABLE gcm.db.t RENAME COLUMN k2 TO _pos") }
    // constraints: enforced through the row-level DML (delta) write path too
    spark.sql("CALL gcm.system.add_constraint('db.t', 'k2_nonneg', 'k2 >= 0')")
    val headV = GraftManifest.versions(dir).max
    val e = intercept[Exception] {
      spark.sql("UPDATE gcm.db.t SET k2 = -7 WHERE id = 1") }
    assert((e.toString + Option(e.getCause).mkString).contains("k2_nonneg"),
      s"UPDATE violating a CHECK must fail naming it: $e")
    assert(GraftManifest.versions(dir).max == headV,
      "a violating UPDATE must commit nothing")
    // renaming a constrained column is refused until the check is dropped
    intercept[Exception] { spark.sql("ALTER TABLE gcm.db.t RENAME COLUMN k2 TO kk") }
    spark.sql("CALL gcm.system.drop_constraint('db.t', 'k2_nonneg')")
    spark.sql("ALTER TABLE gcm.db.t RENAME COLUMN k2 TO kk")
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .columns.toSeq == Seq("id", "kk", "k"))
  }

  test("graft-sink replaceWhere: straddlers vector exactly, NULLs survive negation, misfits refused") {
    val root = tmp("graft_rw_spec")
    spark.conf.set("spark.sql.catalog.grw", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grw.root", root)
    import graft.sources.GraftManifest
    // STRADDLER: one mixed file, the predicate boundary crosses it — the
    // matching rows must vector out (no rewrite), everything else stays
    val dir = s"$root/db/t"
    spark.range(12).select(col("id"), (col("id") % 3).as("k")).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val v1 = GraftManifest.readVersion(dir, None).get
    spark.range(100, 102).select(col("id"), lit(1L).as("k"))
      .writeTo("grw.db.t").overwrite(col("k") === 1)
    val v2 = GraftManifest.readVersion(dir, None).get
    assert(v2.op.contains("REPLACE WHERE"))
    assert(v2.metas.exists(m => m.name == v1.metas.head.name && m.dv.exists(_._2 == 4L)),
      s"straddler must keep its data file with a 4-position vector: ${v2.metas}")
    val head = spark.read.format("graft-sink").option("path", dir).load()
    assert(head.count() == 10) // 12 - 4 matching + 2 replacements
    assert(head.where(col("k") === 1).collect().map(_.getLong(0)).toSet ==
      Set(100L, 101L), "the k=1 slice must be exactly the replacement batch")
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load().count() == 12, "pre-replace version stays readable")
    // NULL three-valued semantics: NOT (k = 1) must NOT delete NULL-k rows
    val dir2 = s"$root/db/t2"
    spark.range(1, 4).select(col("id"),
        when(col("id") === 3, lit(null)).otherwise(col("id")).cast("long").as("k"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir2).mode("overwrite").save()
    spark.range(10, 11).select(col("id"), lit(2L).as("k"))
      .writeTo("grw.db.t2").overwrite(!(col("k") === 1))
    val ids2 = spark.read.format("graft-sink").option("path", dir2).load()
      .collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(1L, 3L, 10L),
      s"NOT(k=1) deletes k=2 only — NULL k is UNKNOWN, kept: got $ids2")
    // prefix predicates are EXPRESSIBLE since round 14 (StringStartsWith
    // rides the whole predicate surface): a prefix replaceWhere applies
    // exactly — rows under the prefix go, everything else stays
    val dirP = s"$root/db/tp"
    spark.range(1, 4).select(col("id"),
        when(col("id") === 3, lit("w"))
          .otherwise(concat(lit("v"), col("id"))).as("s")).coalesce(1)
      .write.format("graft-sink").option("path", dirP).mode("overwrite").save()
    // suffix replace (the `LIKE '%.jpg'` refresh) is row-level-only but
    // exact: only 'v1' ends in '1'
    spark.range(20, 21).select(col("id"), lit("q9").as("s"))
      .writeTo("grw.db.tp").overwrite(col("s").endsWith("1"))
    val idsS = spark.read.format("graft-sink").option("path", dirP).load()
      .collect().map(_.getLong(0)).toSet
    assert(idsS == Set(2L, 3L, 20L),
      s"endsWith('1') replace drops v1, keeps v2/w, lands q9: got $idsS")
    // prefix replace prunes/proves through the envelope AND vectors the
    // straddler exactly: v2 goes, w and q9 stay
    spark.range(10, 11).select(col("id"), lit("vz").as("s"))
      .writeTo("grw.db.tp").overwrite(col("s").startsWith("v"))
    val idsP = spark.read.format("graft-sink").option("path", dirP).load()
      .collect().map(_.getLong(0)).toSet
    assert(idsP == Set(3L, 10L, 20L),
      s"startsWith('v') replace drops v2, keeps w/q9, lands vz: got $idsP")
    // one straddler file per canonical-cell type: the row-level evaluator
    // compares the decoded cells, so the vector must name exactly the
    // model's matching positions (row i is position i) and the survivors
    // must be exactly the other rows, the NULL one included
    Seq(
      ("tdbl", "DOUBLE", Seq("-1.5D", "-0.0D", "0.0D", "2.5D", "NULL"),
        "c = 0.0D", "0.0D", Set(1L, 2L)),
      ("tflt", "FLOAT", Seq("0.5", "1.5", "2.5", "NULL"),
        "c > CAST(1.0 AS FLOAT)", "3.5", Set(1L, 2L)),
      ("tts", "TIMESTAMP", Seq("'2024-01-01 00:00:00'", "'2024-06-01 12:00:00'",
        "'2025-01-01 00:00:00'", "NULL"),
        "c >= TIMESTAMP '2024-06-01 12:00:00'", "'2026-01-01 00:00:00'", Set(1L, 2L)),
      ("tdate", "DATE", Seq("'2024-01-01'", "'2024-02-01'", "'2024-03-01'", "NULL"),
        "c < DATE '2024-02-15'", "'2023-12-31'", Set(0L, 1L)),
      ("tint", "INT", Seq("1", "5", "9", "NULL"),
        "c IN (5, 9)", "5", Set(1L, 2L)),
      ("tbool", "BOOLEAN", Seq("true", "false", "true", "NULL"),
        "c = true", "true", Set(0L, 2L)),
      ("tdec9", "DECIMAL(9,2)", Seq("1.25", "2.50", "3.75", "NULL"),
        "c <= CAST(2.50 AS DECIMAL(9,2))", "0.01", Set(0L, 1L)),
      ("tdec18", "DECIMAL(18,2)", Seq("1234567890123.45", "2.50", "9999999999999.99", "NULL"),
        "c > CAST(100.00 AS DECIMAL(18,2))", "500.00", Set(0L, 2L))
    ).foreach { case (name, typ, cells, pred, repl, hits) =>
      val d = s"$root/db/$name"
      spark.sql(s"SELECT CAST(col1 AS BIGINT) AS id, CAST(col2 AS $typ) AS c FROM VALUES " +
          cells.zipWithIndex.map { case (c, i) => s"($i, $c)" }.mkString(", "))
        .coalesce(1)
        .write.format("graft-sink").option("path", d).mode("overwrite").save()
      val file = GraftManifest.readVersion(d, None).get.metas.head.name
      if (name == "tdbl") assert(java.lang.Double.doubleToRawLongBits(
        spark.read.format("graft-sink").option("path", d).load().where("id = 1")
          .head().getDouble(1)) == java.lang.Double.doubleToRawLongBits(-0.0d),
        "the fixture must hold a physical -0.0")
      spark.sql(s"SELECT CAST(100 AS BIGINT) AS id, CAST($repl AS $typ) AS c")
        .writeTo(s"grw.db.$name").overwrite(expr(pred))
      val m = GraftManifest.readVersion(d, None).get.metas.find(_.name == file)
      val dv = m.flatMap(_.dv).map(x =>
        graft.sources.GraftDv.positions(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(d, x._1))).toSet).getOrElse(Set.empty)
      assert(m.flatMap(_.dv).map(_._2).contains(hits.size.toLong) && dv == hits,
        s"$typ straddler under '$pred' must vector exactly $hits: ${m.map(_.dv)} $dv")
      val ids = spark.read.format("graft-sink").option("path", d).load()
        .collect().map(_.getLong(0)).toSet
      assert(ids == cells.indices.map(_.toLong).toSet -- hits + 100L,
        s"$typ straddler survivors under '$pred': $ids")
    }
    // an inexpressible predicate is refused at plan time, not half-applied
    val dir3 = s"$root/db/t3"
    spark.range(3).select(col("id"), concat(lit("v"), col("id")).as("s")).coalesce(1)
      .write.format("graft-sink").option("path", dir3).mode("overwrite").save()
    val before = GraftManifest.versions(dir3)
    val e = intercept[Exception] {
      spark.range(1).select(col("id"), lit("vx").as("s"))
        .writeTo("grw.db.t3").overwrite(col("s") <=> lit("vx"))
    }
    assert(e.getMessage.contains("replaceWhere cannot evaluate") ||
      Option(e.getCause).exists(_.getMessage.contains("replaceWhere cannot evaluate")),
      s"unsupported predicate must be refused loudly: $e")
    assert(GraftManifest.versions(dir3) == before, "a refused replace commits nothing")
  }

  test("graft-sink SQL DML: merge-on-read DELETE vectors rows, partition-aligned DELETE is metadata-only") {
    val root = tmp("graft_dml_spec")
    spark.conf.set("spark.sql.catalog.gdml", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdml.root", root)
    import graft.sources.GraftManifest
    // merge-on-read: one mixed file, predicate not decidable from stats
    val dir = s"$root/db/t1"
    spark.range(20).select(col("id"), (col("id") % 4).as("k")).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("DELETE FROM gdml.db.t1 WHERE id % 5 = 0") // kills 0,5,10,15
    val v1 = GraftManifest.readVersion(dir, Some(1)).get
    val v2 = GraftManifest.readVersion(dir, Some(2)).get
    assert(v2.metas.map(_.name) == v1.metas.map(_.name)) // no file rewritten
    assert(v2.metas.head.dv.exists(_._2 == 4L))
    assert(v2.total == 16L)
    val head = spark.read.format("graft-sink").option("path", dir).load()
    assert(head.count() == 16)
    assert(head.agg(sum(col("id"))).head().getLong(0) == (0L until 20).filter(_ % 5 != 0).sum)
    // the version files are the only commit record: no `_manifest` head
    // copy exists to go stale under deletion vectors
    assert(!new java.io.File(dir, "_manifest").exists(),
      "no _manifest head copy may exist beside the version files")
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load().count() == 20)
    // the row id surfaces as metadata columns; positions skip the dead rows
    val ids = spark.read.format("graft-sink").option("path", dir).load()
      .select(col("_pos"), col("id")).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(ids.length == 16 && ids.forall { case (pos, id) => pos == id && id % 5 != 0 })

    // metadata-only: partition-aligned predicate, no data byte moves
    val dir2 = s"$root/db/t2"
    spark.range(40).select(col("id"), (col("id") % 4).as("k"))
      .repartition(col("k"))
      .write.format("graft-sink").option("path", dir2)
      .option("partitionBy", "k").mode("overwrite").save()
    val plan = spark.sql("EXPLAIN DELETE FROM gdml.db.t2 WHERE k = 2")
      .collect().head.getString(0)
    assert(!plan.contains("WriteDelta") && !plan.contains("ReplaceData"), plan)
    spark.sql("DELETE FROM gdml.db.t2 WHERE k = 2")
    val h2 = GraftManifest.readVersion(dir2, None).get
    assert(h2.metas.size == 3 && h2.metas.forall(_.dv.isEmpty) && h2.total == 30L)
    assert(h2.metas.map(_.name).toSet.subsetOf(
      GraftManifest.readVersion(dir2, Some(1)).get.metas.map(_.name).toSet))
    // unconditional DELETE = the truncate path: every file provably
    // all-matches TRUE, the next version names nothing
    spark.sql("DELETE FROM gdml.db.t2")
    val h3 = GraftManifest.readVersion(dir2, None).get
    assert(h3.metas.isEmpty && h3.total == 0L)
    assert(spark.read.format("graft-sink").option("path", dir2).load().count() == 0)
  }

  test("graft-sink SQL DML: UPDATE and MERGE land as vector + fresh files; stale base commit throws") {
    val root = tmp("graft_dml2_spec")
    spark.conf.set("spark.sql.catalog.gdm2", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdm2.root", root)
    import graft.sources.GraftManifest
    val dir = s"$root/db/u1"
    spark.range(10).select(col("id"), (col("id") * 10).as("v")).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("UPDATE gdm2.db.u1 SET v = v + 1 WHERE id % 2 = 1")
    val v2 = GraftManifest.readVersion(dir, None).get
    val v1names = GraftManifest.readVersion(dir, Some(1)).get.metas.map(_.name).toSet
    assert(v2.metas.exists(m => v1names(m.name) && m.dv.exists(_._2 == 5L)))
    assert(v2.metas.exists(m => !v1names(m.name)))
    val got = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 10).map(i => i -> (i * 10 + (i % 2))).toMap)

    spark.range(5).select(col("id"), lit(-1L).as("v")).createOrReplaceTempView("mrg_src_spec")
    spark.sql(
      """MERGE INTO gdm2.db.u1 t USING mrg_src_spec s ON t.id = s.id
        |WHEN MATCHED AND s.id < 2 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE""".stripMargin)
    val after = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(2L -> -1L, 3L -> -1L, 4L -> -1L,
      5L -> 51L, 6L -> 60L, 7L -> 71L))

    // a row-level commit conditioned on a stale base AUTO-REBASES over
    // pure appends (round 10): the appended rows survive, no replan
    val base = GraftManifest.versions(dir).last
    val preTotal = GraftManifest.readVersion(dir, None).get.total
    spark.range(100, 103).select(col("id"), col("id").as("v"))
      .write.format("graft-sink").option("path", dir).mode("append").save()
    new graft.sources.GraftDeltaBatchWrite(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      "stale", base).commit(Array.empty)
    assert(GraftManifest.readVersion(dir, None).get.total == preTotal + 3,
      "the rebased delta commit must keep the interleaved append's rows")
    // but a stale base whose files a concurrent commit REWROTE still throws
    val base2 = GraftManifest.versions(dir).last
    spark.read.format("graft-sink").option("path", dir).load().coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", base2.toString).mode("overwrite").save()
    intercept[java.util.ConcurrentModificationException] {
      new graft.sources.GraftDeltaBatchWrite(dir,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
        "stale2", base2).commit(Array.empty)
    }
  }

  test("graft-sink deletion vectors: CDF nets the delete, vacuum honors sidecar references") {
    val root = tmp("graft_dv_spec")
    spark.conf.set("spark.sql.catalog.gdv", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdv.root", root)
    import graft.sources.GraftManifest
    val dir = s"$root/db/c1"
    spark.range(12).select(col("id"), (col("id") % 3).as("k")).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("DELETE FROM gdv.db.c1 WHERE id % 6 = 0") // kills 0, 6
    // CDF across the vector change: old state deletes, new state inserts
    val cdf = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "1").load()
    val byType = cdf.groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 12L, "insert" -> 10L))
    // batch readChangeFeed with no changesFrom = since the beginning, all inserts
    val allCdf = spark.read.format("graft-sink").option("path", dir)
      .option("readChangeFeed", "true").load()
    assert(allCdf.where(col("_change_type") === "insert").count() == allCdf.count())
    assert(allCdf.count() == 10)
    // vacuum keeps the referenced sidecar; after OPTIMIZE it is reclaimable
    val dvName = GraftManifest.readVersion(dir, None).get.metas.head.dv.get._1
    assert(new java.io.File(dir, dvName).exists())
    GraftManifest.vacuum(dir, 1, 0)
    assert(new java.io.File(dir, dvName).exists(), "referenced sidecar survived vacuum")
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 10)
    spark.sql("CALL gdv.system.optimize('db.c1', 1)")
    GraftManifest.vacuum(dir, 1, 0)
    assert(!new java.io.File(dir, dvName).exists(), "orphaned sidecar reclaimed")
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 10)
    // identifier traversal can never escape the catalog root
    intercept[Exception] { spark.sql("DROP TABLE gdv.db.`..`") }
    intercept[Exception] { spark.sql("DROP TABLE gdv.db.`a/b`") }
  }

  test("graft-sink null-count stats: skipping proofs and must-match algebra") {
    import graft.sources.{GraftFileMeta, GraftSinkScan}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull, IsNull}
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("a BIGINT, b BIGINT")
    def meta(stats: Map[Int, (String, String)], nulls: Option[Map[Int, Long]],
        part: Option[(String, String)] = None) =
      GraftFileMeta("f.csv", 10L, 2, stats, part, nulls)
    val clean = meta(Map(0 -> ("1", "5")), Some(Map.empty))
    val unknown = meta(Map(0 -> ("1", "5")), None)
    val someNull = meta(Map(0 -> ("1", "5")), Some(Map(0 -> 3L)))
    val allNull = meta(Map.empty, Some(Map(0 -> 10L)))
    // IS NULL prunes only with a KNOWN-zero count
    assert(!GraftSinkScan.mayMatch(clean, layout, IsNull("a")))
    assert(GraftSinkScan.mayMatch(unknown, layout, IsNull("a")))
    assert(GraftSinkScan.mayMatch(someNull, layout, IsNull("a")))
    // IS NOT NULL prunes a known all-null file
    assert(!GraftSinkScan.mayMatch(allNull, layout, IsNotNull("a")))
    assert(GraftSinkScan.mayMatch(someNull, layout, IsNotNull("a")))
    // must-match needs BOTH the envelope and the null proof
    val point = meta(Map(0 -> ("7", "7")), Some(Map.empty))
    assert(GraftSinkScan.mustMatchAll(point, layout, EqualTo("a", 7L)))
    assert(!GraftSinkScan.mustMatchAll(meta(Map(0 -> ("7", "7")), None), layout,
      EqualTo("a", 7L))) // unknown nulls: a hidden NULL would survive wrongly
    assert(GraftSinkScan.mustMatchAll(clean, layout, GreaterThanOrEqual("a", 1L)))
    assert(!GraftSinkScan.mustMatchAll(clean, layout, GreaterThanOrEqual("a", 2L)))
    val p2 = meta(Map.empty, Some(Map.empty), Some(("a", "2")))
    assert(GraftSinkScan.mustMatchAll(p2, layout, EqualTo("a", 2L)))
    assert(!GraftSinkScan.mayMatch(p2, layout, EqualTo("a", 3L)))
  }


  test("graft catalog ALTER TABLE ADD COLUMNS: trailing evolution from SQL, everything else refused") {
    val root = tmp("graft_alter_spec")
    spark.conf.set("spark.sql.catalog.galt", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.galt.root", root)
    val dir = s"$root/db/a"
    spark.range(3).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("ALTER TABLE galt.db.a ADD COLUMNS (extra BIGINT)")
    // pre-evolution rows read the new column as NULL; nothing rewritten
    val m = graft.sources.GraftManifest.readVersion(dir, None).get
    assert(m.schemaDdl.contains("id BIGINT,extra BIGINT") ||
      m.schemaDdl.exists(_.replace(" NOT NULL", "") == "id BIGINT,extra BIGINT"),
      m.schemaDdl.toString)
    assert(m.metas.size == 1 && m.metas.head.ncols == 1)
    val rows = spark.sql("SELECT id, extra FROM galt.db.a").collect()
    assert(rows.length == 3 && rows.forall(_.isNullAt(1)))
    // a full-width INSERT lands after the evolution
    spark.sql("INSERT INTO galt.db.a VALUES (99, 5)")
    val got = spark.sql("SELECT id, extra FROM galt.db.a WHERE id = 99").collect()
    assert(got.length == 1 && got.head.getLong(1) == 5L)
    // cell-shifting ALTERs are refused; RENAME is metadata-only (column
    // mapping) and DROP COLUMN is a copy-on-write rewrite, each pinned
    // by its own spec test
    intercept[Exception] {
      spark.sql("ALTER TABLE galt.db.a ALTER COLUMN id TYPE DOUBLE") }
    spark.sql("ALTER TABLE galt.db.a RENAME COLUMN id TO i")
    assert(spark.sql("SELECT i FROM galt.db.a WHERE i = 99").count() == 1)
    intercept[Exception] {
      spark.sql("ALTER TABLE galt.db.a ADD COLUMNS (x BIGINT FIRST)") }
  }

  test("graft-sink versioned streaming: epoch re-delivery is a no-op; rewrites keep the txn watermark") {
    import graft.sources.{GraftFileMeta, GraftManifest, GraftSinkCommit, GraftSinkStreamingWrite}
    import java.nio.file.{Files, Paths}
    val dir = tmp("graft_vstream_spec")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    def fileWith(name: String, ids: Seq[Long]): GraftFileMeta = {
      Files.write(Paths.get(dir, name), ids.mkString("\n").getBytes("UTF-8"))
      GraftFileMeta(name, ids.length.toLong, 1,
        Map(0 -> (ids.min.toString, ids.max.toString)), None, Some(Map.empty))
    }
    val w = new GraftSinkStreamingWrite(dir, schema, "q1")
    w.commit(0L, Array(GraftSinkCommit(Seq(fileWith("a.csv", Seq(1L, 2L, 3L))))))
    // failure replay re-delivers epoch 0 with a fresh attempt's files: no-op
    w.commit(0L, Array(GraftSinkCommit(Seq(fileWith("b.csv", Seq(9L, 9L, 9L))))))
    assert(GraftManifest.versions(dir) == Seq(1))
    val v1 = GraftManifest.readVersion(dir, None).get
    assert(v1.op.contains("STREAM APPEND") && v1.txns == Map("q1" -> 0L))
    def ids() = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == Seq(1L, 2L, 3L))
    w.commit(1L, Array(GraftSinkCommit(Seq(fileWith("c.csv", Seq(4L, 5L))))))
    assert(ids() == Seq(1L, 2L, 3L, 4L, 5L))
    // a compacting rewrite lands mid-stream; the accumulated watermark
    // must ride the truncate commit so later re-deliveries stay no-ops
    val base = GraftManifest.versions(dir).last
    spark.read.format("graft-sink").option("path", dir).load().coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", base.toString)
      .option("operation", "OPTIMIZE").mode("overwrite").save()
    assert(GraftManifest.readVersion(dir, None).get.txns == Map("q1" -> 1L))
    // restart: a NEW write instance with the same (stable) query id
    val w2 = new GraftSinkStreamingWrite(dir, schema, "q1")
    w2.commit(1L, Array(GraftSinkCommit(Seq(fileWith("d.csv", Seq(7L)))))) // replayed: no-op
    assert(ids() == Seq(1L, 2L, 3L, 4L, 5L))
    w2.commit(2L, Array(GraftSinkCommit(Seq(fileWith("e.csv", Seq(6L))))))
    assert(ids() == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // a second writer keeps its own watermark
    val w3 = new GraftSinkStreamingWrite(dir, schema, "q2")
    w3.commit(0L, Array(GraftSinkCommit(Seq(fileWith("f.csv", Seq(8L))))))
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.txns == Map("q1" -> 2L, "q2" -> 0L))
    // orphans from skipped re-deliveries age into the vacuum sweep, and
    // the fold-rewrite of the retained delta keeps the accumulated
    // watermarks — losing them here would re-open the double-commit hole
    GraftManifest.vacuum(dir, 1, 0)
    assert(!new java.io.File(dir, "b.csv").exists() &&
      !new java.io.File(dir, "d.csv").exists())
    assert(ids() == Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L))
    assert(GraftManifest.readVersion(dir, None).get.txns ==
      Map("q1" -> 2L, "q2" -> 0L))
  }

  test("graft tags: VERSION AS OF a name, vacuum retention, move and release") {
    val root = tmp("graft_tag_spec")
    spark.conf.set("spark.sql.catalog.gtag", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtag.root", root)
    import graft.sources.GraftManifest
    val dir = s"$root/db/t"
    def land(n: Int): Unit = spark.range(n).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    land(3) // v1
    spark.sql("CALL gtag.system.tag('db.t', 'baseline', 1)")
    land(5) // v2
    land(7) // v3
    // guards: uncommitted version, version-ambiguous names ('42', '-5'),
    // path-escaping names, and the vacuum-sweep-reserved .tmp suffix
    intercept[Exception] { spark.sql("CALL gtag.system.tag('db.t', 'x', 9)") }
    intercept[Exception] { spark.sql("CALL gtag.system.tag('db.t', '42', 1)") }
    intercept[Exception] { spark.sql("CALL gtag.system.tag('db.t', '-5', 1)") }
    intercept[Exception] { spark.sql("CALL gtag.system.tag('db.t', 'a/b', 1)") }
    intercept[Exception] { spark.sql("CALL gtag.system.tag('db.t', 'rel.tmp', 1)") }
    // tag-aware reads: SQL VERSION AS OF and the path-based option
    assert(spark.sql("SELECT * FROM gtag.db.t VERSION AS OF 'baseline'").count() == 3)
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "baseline").load().count() == 3)
    intercept[Exception] {
      spark.sql("SELECT * FROM gtag.db.t VERSION AS OF 'nope'").count() }
    // vacuum retains the tagged version past the count window
    spark.sql("CALL gtag.system.vacuum('db.t', 1, 0)")
    assert(GraftManifest.versions(dir) == Seq(1, 3))
    assert(spark.sql("SELECT * FROM gtag.db.t VERSION AS OF 'baseline'").count() == 3)
    assert(spark.sql("SELECT * FROM gtag.db.t").count() == 7)
    // moving the tag releases the old version at the next vacuum
    spark.sql("CALL gtag.system.tag('db.t', 'baseline', 3)")
    spark.sql("CALL gtag.system.vacuum('db.t', 1, 0)")
    assert(GraftManifest.versions(dir) == Seq(3))
    assert(spark.sql("SELECT * FROM gtag.db.t VERSION AS OF 'baseline'").count() == 7)
    // drop_tag: the ref disappears and the name stops resolving
    val dropped = spark.sql("CALL gtag.system.drop_tag('db.t', 'baseline')").collect().head
    assert(dropped.getBoolean(1))
    intercept[Exception] {
      spark.sql("SELECT * FROM gtag.db.t VERSION AS OF 'baseline'").count() }
    assert(GraftManifest.refs(dir).isEmpty)
  }

  test("graft optimize binpack: partitioned victims recompact per partition; files subset is strict") {
    val root = tmp("graft_bp_spec")
    spark.conf.set("spark.sql.catalog.gbp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbp.root", root)
    import graft.sources.GraftManifest
    val dir = s"$root/db/p"
    def land(lo: Int, hi: Int, mode: String): Unit =
      spark.range(lo, hi).select(col("id"), (col("id") % 3).as("k"))
        .repartition(col("k"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "k").mode(mode).save()
    land(0, 12, "overwrite"); land(12, 24, "append") // 6 small files, 3 partitions
    assert(GraftManifest.readVersion(dir, None).get.metas.size == 6)
    val res = spark.sql("CALL gbp.system.optimize('db.p', 1, '', 1048576)")
      .collect().head
    assert(res.getInt(0) == 6 && res.getInt(1) == 3, res.toString)
    val head = GraftManifest.readVersion(dir, None).get
    // one compacted file per partition value, each re-recording its value
    assert(head.metas.flatMap(_.partition).map(_._2).sorted == Seq("0", "1", "2"))
    // partition-pinned reads still prune to exactly one file
    val pinned = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("k") === 1)
    assert(pinned.rdd.getNumPartitions == 1)
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 24L).filter(_ % 3 == 1))
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 24)
    // the files subset option refuses names the snapshot does not carry
    intercept[Exception] {
      spark.read.format("graft-sink").option("path", dir)
        .option("files", "nope.csv").load().count()
    }
    // threshold below every file size: nothing to fold, no new version
    val before = GraftManifest.versions(dir)
    val noop = spark.sql("CALL gbp.system.optimize('db.p', 1, '', 1)").collect().head
    assert(noop.getInt(0) == noop.getInt(1) && GraftManifest.versions(dir) == before)
    // row-level UPDATE on the partitioned table: the re-inserted file
    // must RE-RECORD its partition value, so layout pruning and binpack
    // keep working after DML
    spark.sql("UPDATE gbp.db.p SET id = id + 1000 WHERE id = 4")
    val afterUpd = GraftManifest.readVersion(dir, None).get
    val fresh = afterUpd.metas.filterNot(m => head.metas.map(_.name).contains(m.name))
    assert(fresh.nonEmpty && fresh.forall(_.partition.contains("k" -> "1")),
      s"update re-insert lost the partition value: ${fresh.map(_.partition)}")
    val again = spark.sql("CALL gbp.system.optimize('db.p', 1, '', 1048576)")
      .collect().head
    assert(again.getInt(1) == 3, s"binpack after DML must still see one layout: $again")
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 24L).filterNot(_ == 4L) :+ 1004L).sorted)
    // metadata-only DELETE matching nothing is a version-free no-op
    val vsNow = GraftManifest.versions(dir)
    spark.sql("DELETE FROM gbp.db.p WHERE k = 99")
    assert(GraftManifest.versions(dir) == vsNow)
  }

  test("graft-sink versioned streaming: two racing writers lose no epoch and keep disjoint watermarks") {
    import graft.sources.{GraftFileMeta, GraftManifest, GraftSinkCommit, GraftSinkStreamingWrite}
    import java.nio.file.{Files, Paths}
    val dir = tmp("graft_vstream_race")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    def fileWith(name: String, ids: Seq[Long]): GraftFileMeta = {
      Files.write(Paths.get(dir, name), ids.mkString("\n").getBytes("UTF-8"))
      GraftFileMeta(name, ids.length.toLong, 1,
        Map(0 -> (ids.min.toString, ids.max.toString)), None, Some(Map.empty))
    }
    // two independent streaming queries share one table; each is
    // sequential within itself (the single-writer-per-query contract) but
    // the two race each other's version-slot claims freely
    val perWriter = 12
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        val sw = new GraftSinkStreamingWrite(dir, schema, s"q$w")
        (0 until perWriter).foreach { e =>
          sw.commit(e.toLong, Array(GraftSinkCommit(Seq(
            fileWith(s"w$w-e$e.csv", Seq(w * 1000L + e))))))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val head = GraftManifest.readVersion(dir, None).get
    // every epoch of both writers is committed exactly once
    assert(head.total == 2L * perWriter, s"rows lost: ${head.total}")
    assert(head.txns == Map("q0" -> (perWriter - 1L), "q1" -> (perWriter - 1L)))
    val ids = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0 until perWriter).map(_.toLong) ++
      (0 until perWriter).map(e => 1000L + e)).sorted)
    // and version numbers are a contiguous CAS-claimed sequence
    assert(GraftManifest.versions(dir) == (1 to 2 * perWriter))
  }

  test("graft catalog: history audit, CTAS, INSERT OVERWRITE and TRUNCATE TABLE") {
    val root = tmp("graft_hist_spec")
    spark.conf.set("spark.sql.catalog.gh", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gh.root", root)
    import graft.sources.GraftManifest
    // CTAS is ATOMIC (StagingTableCatalog): one version, data included
    spark.range(10).select(col("id"), (col("id") % 3).as("k"))
      .createOrReplaceTempView("hist_src")
    spark.sql("CREATE TABLE gh.db.h AS SELECT * FROM hist_src")
    val dir = s"$root/db/h"
    assert(GraftManifest.versions(dir) == Seq(1))
    assert(spark.sql("SELECT * FROM gh.db.h").count() == 10)
    // drive one commit through each remaining verb
    spark.sql("INSERT INTO gh.db.h SELECT * FROM hist_src WHERE k = 2") // v2 delta
    spark.sql("DELETE FROM gh.db.h WHERE id = 7")          // v3 merge-on-read
    spark.sql("INSERT OVERWRITE gh.db.h SELECT * FROM hist_src WHERE k = 0") // v4
    assert(spark.sql("SELECT * FROM gh.db.h").count() == 4)
    spark.sql("TRUNCATE TABLE gh.db.h")                    // v5 metadata-only
    assert(spark.sql("SELECT * FROM gh.db.h").count() == 0)
    // truncate wrote no data files and vectored nothing
    val v5 = GraftManifest.readVersion(dir, Some(5)).get
    assert(v5.metas.isEmpty && v5.total == 0L && v5.op.contains("TRUNCATE"))
    // every prior version stays readable
    assert(spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "3").load().count() == 12)
    // the audit: one row per version, newest first, labeled
    val hist = spark.sql("CALL gh.system.history('db.h')").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(5L, 4L, 3L, 2L, 1L))
    assert(hist.map(_.getString(2)).toSeq ==
      Seq("TRUNCATE", "OVERWRITE", "DELETE", "APPEND", "CREATE TABLE AS SELECT"))
    assert(hist.map(_.getLong(4)).toSeq == Seq(0L, 4L, 12L, 13L, 10L))
    // clocks strictly increase (newest first = strictly decreasing here)
    val ts = hist.map(_.getLong(1))
    assert(ts.zip(ts.tail).forall { case (a, b) => a > b })
    // labels survive the vacuum fold-rewrite of retained delta manifests
    // (v2 is the one delta in the chain; retaining it forces its rewrite
    // to self-contained form, which must carry the #op line forward)
    GraftManifest.vacuum(dir, 4, 0)
    val folded = spark.sql("CALL gh.system.history('db.h')").collect()
    assert(folded.map(_.getLong(0)).toSeq == Seq(5L, 4L, 3L, 2L))
    assert(folded.map(_.getString(2)).toSeq ==
      Seq("TRUNCATE", "OVERWRITE", "DELETE", "APPEND"))
    GraftManifest.vacuum(dir, 3, 0)
    val after = spark.sql("CALL gh.system.history('db.h')").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(5L, 4L, 3L))
    assert(after.map(_.getString(2)).toSeq == Seq("TRUNCATE", "OVERWRITE", "DELETE"))
    // a pre-label manifest reads as WRITE (forward-compat fallback)
    val legacyDir = s"$root/db/legacy"
    GraftManifest.commit(legacyDir, Seq.empty, "id BIGINT", truncate = false)
    val leg = spark.sql("CALL gh.system.history('db.legacy')").collect()
    assert(leg.length == 1 && leg.head.getString(2) == "WRITE")
    // CREATE OR REPLACE on a MISSING table is audited as a create
    spark.sql("CREATE OR REPLACE TABLE gh.db.cor AS SELECT * FROM hist_src")
    assert(GraftManifest.readVersion(s"$root/db/cor", None).get.op
      .contains("CREATE TABLE AS SELECT"))
    // ADD COLUMNS via the direct TableCatalog API refuses duplicate names
    // (Spark's SQL analyzer guards its own path; the API must guard too)
    val cat = new graft.sources.GraftCatalog
    cat.initialize("gh", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root)))
    intercept[IllegalArgumentException] {
      cat.alterTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "cor"),
        org.apache.spark.sql.connector.catalog.TableChange.addColumn(
          Array("id"), org.apache.spark.sql.types.LongType))
    }
    // metadata-only DELETE shares the row-level concurrency contract: a
    // commit landing between plan (canDeleteWhere) and execute must throw
    val rdir0 = s"$root/db/cor"
    val tbl0 = new graft.sources.GraftSinkTable(rdir0,
      GraftManifest.readVersion(rdir0, None).get.schemaDdl
        .map(org.apache.spark.sql.types.StructType.fromDDL).get, None)
    val allF = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.AlwaysTrue)
    assert(tbl0.canDeleteWhere(allF))
    spark.sql("INSERT INTO gh.db.cor SELECT * FROM hist_src WHERE k = 0")
    intercept[java.util.ConcurrentModificationException] {
      tbl0.deleteWhere(allF)
    }
    // plain REPLACE TABLE DDL (no AS SELECT): the stage settles as an
    // empty conditioned overwrite carrying the declared schema, and the
    // pre-replace content stays time-travel-readable
    spark.sql("CREATE TABLE gh.db.r AS SELECT * FROM hist_src")
    spark.sql("REPLACE TABLE gh.db.r (a BIGINT, b STRING)")
    val rdir = s"$root/db/r"
    assert(GraftManifest.versions(rdir) == Seq(1, 2))
    val r2 = GraftManifest.readVersion(rdir, None).get
    assert(r2.metas.isEmpty && r2.total == 0L && r2.op.contains("REPLACE TABLE"))
    assert(r2.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
      .get.fieldNames.toSeq == Seq("a", "b"))
    assert(spark.read.format("graft-sink").option("path", rdir)
      .option("versionAsOf", "1").load().count() == 10)
  }

}
