package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftFormat, GraftManifest}

/** Round-11 grammar/mechanism corners the driver oracle cannot see:
  * percent-escaped stats payloads, free-text stat withholding, batch
  * upsert-by-key (equality deletes outside the streaming key), and
  * pending-transaction manifest visibility. */
class Round11Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("escStat/unescStat roundtrip is exact and identity on clean text") {
    val clean = Seq("", "plain", "under_score", "0.25", "a b c")
    clean.foreach(s => assert(GraftManifest.escStat(s) eq s)) // no copy
    val dirty = Seq("a,b", "100%", "line\nbreak", "cr\rlf", "%2C literal",
      ",%,\n\r,", "tra,il,ing%")
    (clean ++ dirty).foreach { s =>
      val e = GraftManifest.escStat(s)
      assert(!e.contains(',') && !e.contains('\n') && !e.contains('\r'))
      assert(GraftManifest.unescStat(e) == s, s"roundtrip of '$s'")
    }
  }

  test("free-text stats withheld past 64 chars; commas survive parquet cells") {
    val dir = TestSpark.tmp("graft_r11_text")
    val rows = Seq(
      (1L, "short,with,commas", "x" * 100 + ",tail"),
      (2L, "also short", "y" * 80))
    import spark.implicits._
    rows.toDF("id", "code", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.format.contains(GraftFormat.Parquet))
    val m = head.metas.head
    // round 12: prose past 64 chars reports a truncated #bstats BOUND
    // envelope (flagged in `bounds`), not exact stats — exact consumers
    // read it as stat-less via exactStats
    assert(m.stats.contains(0) && m.stats.contains(1) && m.stats.contains(2),
      s"short strings keep exact stats, prose gets a bound: ${m.stats.keySet}")
    assert(m.bounds == Set(2) && m.exactStats(2).isEmpty,
      s"only prose is bound-flagged: ${m.bounds}")
    assert(m.stats(1) == (("also short", "short,with,commas")))
    assert(m.stats(2) == (("x" * 32, "y" * 31 + "z")),
      s"32-char prefix of min / incremented prefix of max: ${m.stats(2)}")
    val back = spark.read.format("graft-sink").option("path", dir).load()
      .orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == rows.map(_._2))
    assert(back.map(_.getString(2)).toSeq == rows.map(_._3))
  }

  test("batch upsertKey: appends + equality delete, OPTIMIZE materializes") {
    val dir = TestSpark.tmp("graft_r11_ups")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    // upsert: key 2 changes, key 4 inserts — target never read
    Seq((2L, "B2"), (4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "k").mode("append").save()
    val v2 = GraftManifest.readVersion(dir, None).get
    assert(v2.eqDels.nonEmpty && v2.eqDels.forall(_.col == "k"))
    assert(v2.metas.forall(_.dv.isEmpty), "no DV, no rewrite")
    def state(): Map[Long, String] = spark.read.format("graft-sink")
      .option("path", dir).load().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // count(*) must NOT answer from the (upper-bound) manifest total
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 4L)
    // a second upsert overrides the first for the same key
    Seq((2L, "B3")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "k").mode("append").save()
    assert(state()(2L) == "B3")
    // a PUSHED point probe under pending eqdels: row-group pushdown stays
    // engaged (value-based filters compose) and the dead versions of k=2
    // in older files must still be filtered out of the probe's survivors
    val probed = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("k") === 2L).collect()
    assert(probed.map(_.getString(1)).toSeq == Seq("B3"),
      s"pushed probe must respect pending eqdels: ${probed.toSeq}")
    // OPTIMIZE (conditioned full rewrite) retires every pending entry
    val headV = GraftManifest.versions(dir).last
    spark.read.format("graft-sink").option("path", dir).load()
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", headV.toString)
      .option("operation", "OPTIMIZE").mode("overwrite").save()
    val after = GraftManifest.readVersion(dir, None).get
    assert(after.eqDels.isEmpty, s"materialize must retire entries: ${after.eqDels}")
    assert(state() == Map(1L -> "a", 2L -> "B3", 3L -> "c", 4L -> "d"))
  }

  test("table-feed stream applies eqdels at start, refuses new ones mid-stream") {
    val dir = TestSpark.tmp("graft_r11_upsfeed")
    val chk = TestSpark.tmp("graft_r11_upsfeed_chk")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    import spark.implicits._
    def upsert(rows: Seq[(Long, String)]): Unit = {
      val seed = GraftManifest.versions(dir).isEmpty
      val w = rows.toDF("k", "v").coalesce(1)
        .write.format("graft-sink").option("path", dir)
      (if (seed) w.mode("overwrite") // upsertKey is append-only; the seed is a plain write
       else w.option("upsertKey", "k").mode("append")).save()
    }
    upsert(Seq(1L -> "a", 2L -> "b"))
    upsert(Seq(2L -> "B", 3L -> "c")) // pending eqdel on k=2
    def drain(ignore: Boolean): Unit = {
      val r = spark.readStream.format("graft-sink").option("path", dir)
      val q = (if (ignore) r.option("ignoreChanges", "true") else r).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(row => { out.add(row.getLong(0) -> row.getString(1)); () })
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(ignore = false)
    // the initial snapshot batch applies the pending eqdel: k=2 appears
    // ONCE with the upserted value — exactly the batch-read state
    assert(out.toArray.toSet == Set(1L -> "a", 2L -> "B", 3L -> "c"), out.toString)
    // a NEW upsert epoch deletes an already-streamed row — refuse...
    upsert(Seq(1L -> "A2"))
    val e = intercept[Exception] { drain(ignore = false) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("equality deletes against already-streamed")),
      e.toString)
    // ...unless ignoreChanges opts into at-least-once-by-key
    out.clear()
    drain(ignore = true)
    assert(out.toArray.toSet == Set(1L -> "A2"), out.toString)
  }

  test("row-group filter pushdown: engaged when safe, off under DV/_pos") {
    import graft.sources.GraftReadStats
    val root = TestSpark.tmp("graft_r11_rg")
    spark.conf.set("spark.sql.catalog.grg", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grg.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    val n = 50000L
    // one sorted data file, tiny row groups (32 KB → hundreds of groups)
    spark.range(0, n, 1, 1).toDF("k")
      .withColumn("pad", md5(col("k").cast("string")))
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "32768").mode("overwrite").save()
    def decoded(body: => Array[org.apache.spark.sql.Row]): (Long, Array[org.apache.spark.sql.Row]) = {
      val before = GraftReadStats.parquetRecordsDecoded.sum()
      val r = body
      (GraftReadStats.parquetRecordsDecoded.sum() - before, r)
    }
    def table = spark.read.format("graft-sink").option("path", dir).load()
    // point probe: parquet's record-level filter materializes ~only the hit
    val (d1, r1) = decoded(table.where($"k" === 12345L).collect())
    assert(r1.map(_.getLong(0)).toSeq == Seq(12345L), r1.toSeq.toString)
    assert(d1 < 1000L, s"point probe materialized $d1 of $n records")
    // IN probe and range probe stay sub-linear too (the IN hits two
    // distant keys = two touched row groups under the vectorized
    // reader's group/page granularity — ~700 rows each at 32 KB)
    val (d2, r2) = decoded(table.where($"k".isin(5L, 9999L)).collect())
    assert(r2.map(_.getLong(0)).sorted.toSeq == Seq(5L, 9999L) && d2 < 2500L,
      s"in-probe decoded $d2")
    val (d3, r3) = decoded(table.where($"k" >= n - 1000).collect())
    assert(r3.length == 1000 && d3 < 5000L, s"range probe decoded $d3")
    // string equality binds the binary comparator. Random md5 strings
    // defeat group stats and the vectorized reader has no record-level
    // filter (Spark re-applies residually), so the probe legitimately
    // decodes the file: only the answer is pinned here; bounded string
    // probes are the parquet-bloom test's job.
    val want = table.where($"k" === 7L).select("pad").head.getString(0)
    val r4 = table.where($"pad" === want).select("k").collect()
    assert(r4.map(_.getLong(0)).toSeq == Seq(7L), s"string probe: ${r4.toSeq}")
    // a deletion vector keys rows by physical position → pushdown is OFF
    // (full materialization) and results stay DV-correct
    spark.sql("DELETE FROM grg.db.t WHERE k = 12345")
    val (d5, r5) = decoded(table.where($"k" === 12345L).collect())
    assert(r5.isEmpty, "deleted row must not resurface")
    assert(d5 > n - 5000, s"DV scan must materialize the file, decoded $d5")
    // `_pos` projection needs physical positions → pushdown is OFF
    val (d6, r6) = decoded(table.where($"k" === 77L).select($"k", $"_pos").collect())
    assert(r6.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((77L, 77L)))
    assert(d6 > n - 5000, s"_pos scan must materialize the file, decoded $d6")
  }

  test("change-feed stream renders an upsert epoch as exact insert/delete rows") {
    val dir = TestSpark.tmp("graft_r11_cdfups")
    val chk = TestSpark.tmp("graft_r11_cdfups_chk")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    import spark.implicits._
    def write(rows: Seq[(Long, String)], seed: Boolean): Unit = {
      val w = rows.toDF("k", "v").coalesce(1)
        .write.format("graft-sink").option("path", dir)
      (if (seed) w.mode("overwrite")
       else w.option("upsertKey", "k").mode("append")).save()
    }
    def drain(): Unit = {
      val q = spark.readStream.format("graft-sink").option("path", dir)
        .option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select("_change_type", "k", "v").collect()
            .foreach(r => { out.add((r.getString(0), r.getLong(1), r.getString(2))); () })
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    write(Seq(1L -> "a", 2L -> "b"), seed = true)
    drain() // initial snapshot: inserts only
    assert(out.toArray.toSet == Set(("insert", 1L, "a"), ("insert", 2L, "b")),
      out.toString)
    out.clear()
    write(Seq(2L -> "B", 3L -> "c"), seed = false) // upsert epoch
    drain() // exact delta: old k=2 row deleted, new rows inserted
    assert(out.toArray.toSet == Set(
      ("delete", 2L, "b"), ("insert", 2L, "B"), ("insert", 3L, "c")),
      out.toString)
  }

  test("batch CDF ranges across upsert and OPTIMIZE keep eqdel-row accounting") {
    val dir = TestSpark.tmp("graft_r11_cdfopt")
    import spark.implicits._
    Seq(1L -> "a", 2L -> "b").toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    Seq(2L -> "B").toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "k").mode("append").save()
    spark.read.format("graft-sink").option("path", dir).load()
      .write.format("graft-sink").option("path", dir)
      .option("expectedBaseVersion", "2")
      .option("operation", "OPTIMIZE").mode("overwrite").save()
    def chg(f: Int, t: Int): Set[(String, Long, String)] =
      spark.read.format("graft-sink").option("path", dir)
        .option("changesFrom", f.toString).option("changesTo", t.toString).load()
        .select("_change_type", "k", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // (1,2]: the upsert epoch — row-granular delta via eqSel
    assert(chg(1, 2) == Set(("insert", 2L, "B"), ("delete", 2L, "b")), chg(1, 2))
    // (2,3]: the materialization — file-granular rewrite; the RETIRED
    // entry must still be applied as skip on the removed v1 file, so the
    // row it killed (2,b — dead since v2) is NOT re-reported deleted
    assert(chg(2, 3) == Set(("delete", 2L, "B"), ("delete", 1L, "a"),
      ("insert", 1L, "a"), ("insert", 2L, "B")), chg(2, 3))
    // (1,3]: upsert + materialization compose; (2,b) deleted exactly once
    assert(chg(1, 3) == Set(("delete", 2L, "b"), ("delete", 1L, "a"),
      ("insert", 1L, "a"), ("insert", 2L, "B")), chg(1, 3))
  }

  test("unsorted point probe: parquet blooms ride bloomFor; decode stays bounded") {
    import graft.sources.GraftReadStats
    val dir = TestSpark.tmp("graft_r11_ubloom")
    import spark.implicits._
    val n = 50000L
    // one UNSORTED file, tiny row groups: every group spans ~the full key
    // domain so min/max stats prune nothing in-file — dictionary pages
    // and the parquet column bloom (bloomFor now rides INTO the data
    // file, not just the manifest) carry the point probe. 48271 is
    // coprime to 50000, so k is a bijection of i: exactly one hit.
    spark.range(0, n, 1, 1).toDF("i")
      .select((col("i") * 48271L % n).as("k"), md5(col("i").cast("string")).as("pad"))
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "32768").option("bloomFor", "k")
      .mode("overwrite").save()
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(part))
    try {
      val blocks = pf.getFooter.getBlocks
      assert(blocks.size() > 10, s"fixture must be multi-group, got ${blocks.size()}")
      val kChunk = blocks.get(0).getColumns.get(0)
      assert(kChunk.getBloomFilterOffset > 0,
        "bloomFor column must carry a parquet bloom filter in the data file")
    } finally pf.close()
    val before = GraftReadStats.parquetRecordsDecoded.sum()
    val hit = spark.read.format("graft-sink").option("path", dir).load()
      .where($"k" === 4242L).collect()
    val d = GraftReadStats.parquetRecordsDecoded.sum() - before
    assert(hit.length == 1, s"bijection probe must hit once, got ${hit.length}")
    assert(d < 2000L, s"unsorted point probe materialized $d of $n records")
  }

  test("struct columns: roundtrip with nulls, nested pruning, DV delete") {
    val root = TestSpark.tmp("graft_r11_struct")
    spark.conf.set("spark.sql.catalog.gst", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gst.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    Seq(
      (1L, Some(("png", 640, 3.5))),
      (2L, Some((null.asInstanceOf[String], 800, 2.0))), // null member
      (3L, None))                                        // null struct
      .toDF("k", "meta")
      .selectExpr("k", "named_struct('codec', meta._1, 'w', meta._2, 'score', meta._3) AS m")
      .select(col("k"), when(col("k") === 3L, lit(null)).otherwise(col("m")).as("m"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    assert(head.metas.forall(m => m.stats.contains(0) && !m.stats.contains(1)),
      "struct column must carry no stats envelope")
    assert(head.metas.forall(_.nulls.exists(_(1) == 1L)),
      s"struct null count is a real fact: ${head.metas.map(_.nulls)}")
    def t = spark.read.format("graft-sink").option("path", dir).load()
    val back = t.orderBy("k").collect()
    assert(back.length == 3 && back(2).isNullAt(1))
    val r1 = back(0).getStruct(1)
    assert(r1.getString(0) == "png" && r1.getInt(1) == 640 && r1.getDouble(2) == 3.5)
    assert(back(1).getStruct(1).isNullAt(0) && back(1).getStruct(1).getInt(1) == 800)
    // nested-field projection (Catalyst prunes the struct type): a
    // NON-PREFIX member subset must still decode by name
    val pruned = t.select($"k", $"m.score").orderBy("k").collect()
    assert(pruned(0).getDouble(1) == 3.5 && pruned(1).getDouble(1) == 2.0
      && pruned(2).isNullAt(1), pruned.toSeq.toString)
    // row-level DML over a struct-bearing table (DV path reads/keeps it)
    spark.sql("DELETE FROM gst.db.t WHERE k = 2")
    val after = t.orderBy("k").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val v1 = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(v1.count() == 3, "time travel must still serve the pre-delete struct rows")
  }

  test("map<string,scalar> columns roundtrip with null values and empty maps") {
    val dir = TestSpark.tmp("graft_r11_map")
    import spark.implicits._
    Seq(
      (1L, Map("a" -> 10L, "b" -> 20L)),
      (2L, Map.empty[String, Long]),
      (3L, Map("z" -> 7L)))
      .toDF("k", "tags")
      .select(col("k"),
        when(col("k") === 3L, map(lit("z"), lit(null).cast("long")))
          .otherwise(col("tags")).as("tags"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val back = spark.read.format("graft-sink").option("path", dir).load()
      .orderBy("k").collect()
    assert(back(0).getMap[String, Any](1).toString.contains("a"))
    val m1 = back(0).getAs[Map[String, Any]]("tags")
    assert(m1 == Map("a" -> 10L, "b" -> 20L), m1.toString)
    assert(back(1).getAs[Map[String, Any]]("tags").isEmpty)
    val m3 = back(2).getAs[Map[String, Any]]("tags")
    assert(m3.keySet == Set("z") && m3("z") == null, m3.toString)
    // map access pushes through SQL (element_at) and stays correct
    val probed = spark.read.format("graft-sink").option("path", dir).load()
      .select(col("k"), element_at(col("tags"), "b").as("b")).orderBy("k").collect()
    assert(probed(0).getLong(1) == 20L && probed(1).isNullAt(1))
  }

  test("pending-txn manifests are invisible until their marker exists") {
    val dir = TestSpark.tmp("graft_r11_txn")
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "n").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    assert(GraftManifest.versions(dir) == Seq(1))
    // stage + publish through the txn path (single table: the degenerate
    // transaction — same invisibility machinery)
    Seq((2L, 20L)).toDF("k", "n").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("wapStage", "t1").mode("append").save()
    val marker = java.nio.file.Paths.get(dir, "_txncommit-t1")
    val vs = GraftManifest.txnPublish(Seq(dir -> "t1"), marker)
    assert(vs == Seq(2) && java.nio.file.Files.exists(marker))
    assert(GraftManifest.versions(dir) == Seq(1, 2))
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 2L)
    // forge an orphan pending claim (crashed claimer): invisible, and the
    // next committer fails fast while it is fresh
    val body = "#txnpending=" + dir + "/_txncommit-never\n#schema=k BIGINT,n BIGINT\n_total,0"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_manifest-v3"),
      body.getBytes("UTF-8"))
    assert(GraftManifest.versions(dir) == Seq(1, 2), "pending claim invisible")
    val e = intercept[Exception] {
      Seq((3L, 30L)).toDF("k", "n").coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("pending multi-table transaction")), e.toString)
  }
}
