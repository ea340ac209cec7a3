package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftManifest

/** Round-12 invariants around the table's version clock and the
  * pending-equality-delete lifecycle — the metadata-only paths the
  * driver oracle cannot distinguish from data rewrites:
  *  - carried-forward file metas keep their original `#seq` (including
  *    the implicit seq=0 of pre-eqdel files) across metadata-only
  *    commits, so pending equality deletes neither stop applying nor
  *    get pruned by a constraint DDL / restore;
  *  - restore adopts the RESTORED version's pending entries;
  *  - clone / fast_forward carry entries + sidecars and land at or
  *    above the imported clock;
  *  - a reclaimed multi-table-transaction slot durably tombstones the
  *    marker, so a stalled publisher aborts instead of publishing a
  *    partial transaction;
  *  - unescStat decodes only the four emitted escapes (legacy `%`
  *    values pass through verbatim). */
class Round12Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def state(dir: String): Map[Long, String] =
    spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("metadata-only commits preserve seq=0: eqdels survive add_constraint and restore") {
    import spark.implicits._
    val root = TestSpark.tmp("graft_r12_meta")
    spark.conf.set("spark.sql.catalog.g12a", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12a.root", root)
    val dir = s"$root/db/t"
    // v1: pre-eqdel files (seq stays implicit 0)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    // v2: upsert — eqdel on k, file for (2,B2),(4,d)
    Seq((2L, "B2"), (4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "k").mode("append").save()
    assert(state(dir) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // v3: METADATA-ONLY commit re-submits carried metas (truncate-style).
    // The v1 file must keep seq=0 — re-stamping it would stop the pending
    // entry applying and the full-commit prune would drop it: the dead
    // (2,"b") row would resurrect.
    spark.sql("CALL g12a.system.add_constraint('db.t', 'k_nn', 'k IS NOT NULL')")
    val v3 = GraftManifest.readVersion(dir, None).get
    assert(v3.eqDels.nonEmpty, "pending entries must survive a metadata-only commit")
    assert(state(dir) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"),
      "equality-deleted row resurrected by add_constraint")
    // restore to v1 (pre-upsert): the RESTORED version's eqdel state (none)
    // applies — inheriting the head's entries would delete k=2 from the
    // supposedly-restored snapshot
    spark.sql("CALL g12a.system.restore(table => 'db.t', version => 1)")
    assert(state(dir) == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "restore to a pre-upsert version must yield that version's exact rows")
    assert(GraftManifest.readVersion(dir, None).get.eqDels.isEmpty,
      "restore must adopt the restored version's (empty) eqdel list")
    // restore forward to v2 (pending entry): the entry must come back too
    spark.sql("CALL g12a.system.restore(table => 'db.t', version => 2)")
    assert(state(dir) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    assert(GraftManifest.readVersion(dir, None).get.eqDels.nonEmpty,
      "restore to an eqdel-pending version must restore its entries")
  }

  test("clone and fast_forward carry pending eqdels, sidecars and the version clock") {
    import spark.implicits._
    val root = TestSpark.tmp("graft_r12_clone")
    spark.conf.set("spark.sql.catalog.g12b", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12b.root", root)
    val src = s"$root/db/s"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", src).mode("overwrite").save()
    Seq((2L, "B2")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", src)
      .option("upsertKey", "k").mode("append").save()
    assert(state(src) == Map(1L -> "a", 2L -> "B2"))
    spark.sql("CALL g12b.system.clone('db.s', 'db.c')")
    val dst = s"$root/db/c"
    val cHead = GraftManifest.readVersion(dst, None).get
    assert(cHead.eqDels.nonEmpty, "clone must carry pending eqdel entries")
    assert(cHead.eqDels.forall(e =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(dst, e.sidecar))),
      "clone must hard-link eqdel sidecars")
    assert(state(dst) == Map(1L -> "a", 2L -> "B2"),
      "clone resurrected an equality-deleted row")
    // version clock: the clone lands AT the source clock, so its next
    // write mints a seq ABOVE every imported one
    assert(cHead.version >= 2, s"clone clock regressed: v${cHead.version}")
    // a NEW upsert on the clone must override imported rows (clock order)
    Seq((1L, "A9")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dst)
      .option("upsertKey", "k").mode("append").save()
    assert(state(dst) == Map(1L -> "A9", 2L -> "B2"),
      "a post-clone upsert must delete the imported row version")
    assert(state(src) == Map(1L -> "a", 2L -> "B2"), "source unaffected")
    // fast_forward: branch with pending eqdels publishes them back
    spark.sql("CALL g12b.system.clone('db.s', 'db.br')")
    val br = s"$root/db/br"
    Seq((1L, "FF")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", br)
      .option("upsertKey", "k").mode("append").save()
    assert(state(br) == Map(1L -> "FF", 2L -> "B2"))
    spark.sql("CALL g12b.system.fast_forward('db.s', 'db.br')")
    assert(state(src) == Map(1L -> "FF", 2L -> "B2"),
      "fast_forward must publish the branch's pending eqdels")
    val sHead = GraftManifest.readVersion(src, None).get
    assert(sHead.eqDels.forall(e =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(src, e.sidecar))),
      "fast_forward must link branch eqdel sidecars into the source")
  }

  test("stalled txn publish aborts via marker tombstone — never a partial publish") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = TestSpark.tmp("graft_r12_txn")
    val (t1, t2) = (s"$root/t1", s"$root/t2")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", t1).mode("overwrite").save()
    Seq((10L, "x")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", t2).mode("overwrite").save()
    val marker = Paths.get(root, "_txncommit-stall")
    // simulate a publisher that claimed t1's next slot then stalled past
    // the grace period: a pending manifest whose marker never appeared
    val slot = Paths.get(t1, "_manifest-v2")
    Files.write(slot, (s"#txnpending=${marker.toAbsolutePath}\n" +
      "#schema=k BIGINT,v STRING\n#ts=1\n_total,0").getBytes("UTF-8"))
    Files.setLastModifiedTime(slot,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 11 * 60 * 1000L))
    // the slot is invisible, so reads still see v1
    assert(state(t1) == Map(1L -> "a"))
    // another committer reclaims the aged slot: the abort must be DURABLE
    // (tombstoned marker) BEFORE the slot is reused
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", t1).mode("append").save()
    assert(state(t1) == Map(1L -> "a", 2L -> "b"))
    assert(Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8").startsWith("#txnaborted"),
      "reclaim must tombstone the transaction marker before reusing the slot")
    // the stalled publisher now wakes up and tries to finish: stage WAPs
    // on both tables and publish against the SAME marker — the tombstone
    // must fail the commit point and roll BOTH tables back
    val d1 = Seq((3L, "c")).toDF("k", "v")
    val d2 = Seq((30L, "z")).toDF("k", "v")
    d1.coalesce(1).write.format("graft-sink").option("path", t1)
      .option("wapStage", "w1").mode("append").save()
    d2.coalesce(1).write.format("graft-sink").option("path", t2)
      .option("wapStage", "w2").mode("append").save()
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftManifest.txnPublish(Seq((t1, "w1"), (t2, "w2")), marker)
    }
    assert(e.getMessage.contains("aborted"), e.getMessage)
    assert(state(t1) == Map(1L -> "a", 2L -> "b"), "t1 must not advance")
    assert(state(t2) == Map(10L -> "x"), "t2 must not advance — partial publish")
    // a fresh marker publishes cleanly (stages were rolled back, not consumed)
    GraftManifest.txnPublish(Seq((t1, "w1"), (t2, "w2")),
      Paths.get(root, "_txncommit-retry"))
    assert(state(t1) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(state(t2) == Map(10L -> "x", 30L -> "z"))
  }

  test("txn_publish rejects marker-unsafe ids") {
    val root = TestSpark.tmp("graft_r12_ids")
    spark.conf.set("spark.sql.catalog.g12c", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12c.root", root)
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-sink").option("path", s"$root/db/t").mode("overwrite").save()
    for (bad <- Seq("../evil", "a/b", "a-b", "a.b")) {
      val e = intercept[Exception] {
        spark.sql(s"CALL g12c.system.txn_publish(tables => 'db.t', ids => '$bad')")
      }
      assert(e.getMessage.contains("must be [A-Za-z0-9_]+"),
        s"id '$bad' accepted: ${e.getMessage}")
    }
  }

  test("vectorized decode: columnar batches on clean scans, row fallback under row identity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = TestSpark.tmp("graft_r12_colr")
    spark.conf.set("spark.sql.catalog.g12e", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12e.root", root)
    val dir = s"$root/db/t"
    val rows = (0L until 1000L).map(i => (i, s"s$i", i * 0.5))
    rows.toDF("k", "s", "d").repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b }.getOrElse(
        df.queryExecution.executedPlan.collectFirst {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.collectFirst { case b: BatchScanExec => b }.get
        }.get)
    def load() = spark.read.format("graft-sink").option("path", dir).load()
    // plain projection: columnar, values byte-true
    val q1 = load().select("s", "k") // reversed order exercises the permutation
    assert(scanOf(q1).supportsColumnar, "clean parquet scan must decode columnar")
    assert(q1.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq ==
      rows.map(t => (t._2, t._1)))
    // virtual _file + filter: still columnar, constants correct, pushdown intact
    val q2 = load().where("k = 7").selectExpr("k", "_file", "d")
    assert(scanOf(q2).supportsColumnar)
    val r2 = q2.collect()
    assert(r2.length == 1 && r2(0).getLong(0) == 7L && r2(0).getDouble(2) == 3.5
      && r2(0).getString(1).endsWith(".parquet"))
    // _pos forces the row path (physical positions are per-row facts)
    val q3 = load().selectExpr("k", "_pos")
    assert(!scanOf(q3).supportsColumnar, "_pos must fall back to the row reader")
    assert(q3.count() == 1000)
    // a deletion vector forces the row path — and the values stay right
    spark.sql("DELETE FROM g12e.db.t WHERE k < 100")
    val q4 = load().select("k")
    assert(!scanOf(q4).supportsColumnar, "DV'd files must fall back to the row reader")
    assert(q4.count() == 900)
    // pending equality deletes force the row path too
    val dir2 = TestSpark.tmp("graft_r12_colr2")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir2).mode("overwrite").save()
    Seq((2L, "B")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir2)
      .option("upsertKey", "k").mode("append").save()
    val q5 = spark.read.format("graft-sink").option("path", dir2).load()
    assert(!scanOf(q5.select("v")).supportsColumnar,
      "files under pending eqdels must fall back to the row reader")
    assert(q5.collect().map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(1L -> "a", 2L -> "B"))
  }

  test("vectorized decode survives rename, trailing evolution and the change feed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = TestSpark.tmp("graft_r12_colr3")
    spark.conf.set("spark.sql.catalog.g12d", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12d.root", root)
    val dir = s"$root/db/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    // RENAME: layout name changes, data files keep the old footer name —
    // the columnar projection must request the file's own name
    spark.sql("ALTER TABLE g12d.db.t RENAME COLUMN v TO label")
    // trailing evolution: a WIDER file lands after the narrow one
    Seq((3L, "c", 30L)).toDF("k", "label", "extra").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("evolveSchema", "true").mode("append").save()
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    val q = spark.sql("SELECT label, extra, k FROM g12d.db.t")
    assert(scanOf(q).supportsColumnar,
      "rename + evolution stay columnar (positional identity, constant nulls)")
    assert(q.collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq ==
      Seq(("a", -1L, 1L), ("b", -1L, 2L), ("c", 30L, 3L)))
    // change feed: the _change_type virtual is a per-split constant
    val cdf = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "2").option("changesTo", "3").load()
    val got = cdf.selectExpr("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("insert", 3L)), got.toString)
  }

  test("deep nesting roundtrips on both decode paths, nulls at every level") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = TestSpark.tmp("graft_r12_nest")
    // nulls at each level: whole column (id=1), inner container / deep
    // member / map value (id=3), element inside the inner array (id=3's
    // aa too) — the decoder must thread absence correctly at every
    // repetition depth, in both its batch and its row mode
    val src = spark.range(4).selectExpr("id",
      """CASE WHEN id = 1 THEN NULL
              WHEN id = 2 THEN array(NULL, array(1L, 2L))
              WHEN id = 3 THEN array(array(10L, NULL, 30L))
              ELSE array(array(id, id + 1), array(id * 2)) END AS aa""",
      """CASE WHEN id = 1 THEN NULL
              WHEN id = 3 THEN named_struct(
                'inner', named_struct('a', CAST(NULL AS BIGINT), 'b', 'x'),
                'tags', array('t', CAST(NULL AS STRING)))
              ELSE named_struct(
                'inner', named_struct('a', id, 'b', concat('b', id)),
                'tags', array(concat('t', id))) END AS meta""",
      """CASE WHEN id = 1 THEN NULL
              WHEN id = 3 THEN map('k', CAST(NULL AS STRUCT<v: BIGINT, t: STRING>))
              ELSE map('k', named_struct('v', id, 't', concat('t', id))) END AS m""")
    val want = src.orderBy("id").toJSON.collect().toSeq
    src.coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    def load() = spark.read.format("graft-sink").option("path", dir).load()
    val colr = load()
    assert(colr.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.supportsColumnar }.getOrElse(false),
      "deep-nested scan must still decode columnar")
    assert(colr.orderBy("id").toJSON.collect().toSeq == want,
      "columnar deep-nested roundtrip")
    // a `_pos` filter keeps `_pos` in the scan: row mode (VectorRows)
    val rows = load().where("_pos >= 0")
    assert(!rows.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.supportsColumnar }.getOrElse(true),
      "a `_pos` read must decode in row mode")
    assert(rows.orderBy("id").toJSON.collect().toSeq == want,
      "row-mode deep-nested roundtrip")
  }

  test("row-identity splits decode vectorized: DV skip and _pos match the Group path") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = TestSpark.tmp("graft_r12_vrow")
    spark.conf.set("spark.sql.catalog.g12v", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12v.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 5000, 1, 2).toDF("k")
      .selectExpr("k", "md5(cast(k AS string)) AS pad", "k * 0.5 AS d")
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("DELETE FROM g12v.db.t WHERE k % 7 = 0")
    def q() = spark.read.format("graft-sink").option("path", dir).load()
      .selectExpr("k", "_pos", "pad", "d")
    // the DV forces the scan off BATCH columnar…
    assert(!q().queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.supportsColumnar }.getOrElse(false),
      "DV'd scan must not report batch-columnar")
    // …and decodes its rows through VectorRows
    val vec = q().collect()
    assert(vec.length == 5000 - (5000 + 6) / 7, s"got ${vec.length}")
    // identical to Spark's own parquet reader minus the DV positions,
    // INCLUDING physical _pos
    val ref = TestSpark.parquetRows(dir).selectExpr("k", "_pos", "pad", "d").collect()
    assert(vec.map(_.toString).sorted.toSeq == ref.map(_.toString).sorted.toSeq,
      "vectorized row decode must match spark.read.parquet row-for-row")
    // _pos really is the physical position: deleted rows leave gaps
    val poss = vec.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(poss.get(7L).isEmpty && poss(1L) == 1L && poss(8L) == 8L)
  }

  test("streaming epoch commits are O(header): zero manifest folds per delta epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.sources.{GraftManifest, GraftReadStats}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = TestSpark.tmp("graft_r12_epoch")
    val chk = TestSpark.tmp("graft_r12_epoch_chk")
    // seed a MANY-FILE table: the per-epoch cost must not scale with it
    (0L until 64L).map(i => (i, s"seed$i")).toDF("k", "v").repartition(32)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("k", "v")
      .writeStream.format("graft-sink")
      .option("path", dir).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(50))
      .start()
    try {
      ms.addData((100L, "e1")); q.processAllAvailable()
      val v0 = GraftManifest.versions(dir).max
      val f0 = GraftReadStats.manifestFolds.sum()
      ms.addData((101L, "e2")); q.processAllAvailable()
      ms.addData((102L, "e3")); q.processAllAvailable()
      val folds = GraftReadStats.manifestFolds.sum() - f0
      assert(GraftManifest.versions(dir).max >= v0 + 2, "epochs must commit")
      assert(folds == 0,
        s"a delta-epoch streaming commit must fold NOTHING (O(header) " +
          s"exactly-once check + delta render), measured $folds folds")
    } finally q.stop()
    // the data all landed exactly once
    val got = spark.read.format("graft-sink").option("path", dir).load()
      .where($"k" >= 100L).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(100L, 101L, 102L))
  }

  test("incremental binpack absorbs overlapping retained files: envelopes stay disjoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.GraftManifest
    val root = TestSpark.tmp("graft_r12_bp")
    spark.conf.set("spark.sql.catalog.g12f", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12f.root", root)
    val dir = s"$root/db/t"
    // one BIG sorted file spanning [0, 20000) — above the binpack threshold
    spark.range(0, 20000).toDF("k")
      .withColumn("pad", org.apache.spark.sql.functions.md5(col("k").cast("string")))
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "k").option("writePartitions", "1")
      .mode("overwrite").save()
    // small appends whose ranges land INSIDE the big file's envelope —
    // the overlap fixture the absorb rule exists for
    Seq(100L, 9000L).foreach { lo =>
      (lo until lo + 10L).map(i => (i, s"x$i")).toDF("k", "pad").coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    val before = GraftManifest.readVersion(dir, None).get
    assert(before.sortSpec.contains("k") && before.metas.size == 3)
    // incremental OPTIMIZE: naively its victims are only the two small
    // files, whose rewrite [100..9009] would overlap the retained big
    // file [0..19999] — the sortspec absorb must pull the big file in
    spark.sql(
      "CALL g12f.system.optimize(table => 'db.t', target_files => 2, " +
        "max_file_bytes => 65536L)").collect()
    val after = GraftManifest.readVersion(dir, None).get
    val envs = after.metas.flatMap(_.stats.get(0))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
    assert(envs.size == after.metas.size, "every compacted file keeps stats")
    assert(envs.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax <= bMin
      case _ => true
    }, s"incremental binpack must keep sort envelopes pairwise disjoint: $envs")
    assert(spark.read.format("graft-sink").option("path", dir).load().count() ==
      20000 + 20)
  }

  test("ObjectStoreClaim: of 8 racers on one key exactly one PUT is accepted, every time") {
    // the bare CAS, raced 200 times: a claimer whose exists check predates
    // the winner's move but whose index read follows its DONE mark must
    // not release the key and overwrite the winner
    val dir = java.nio.file.Paths.get(TestSpark.tmp("graft_r12_oscrace"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (0 until 200).foreach { round =>
      val store = new graft.sources.ObjectStoreClaim
      val target = dir.resolve(s"v$round")
      val start = new java.util.concurrent.CountDownLatch(1)
      val wins = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            store.claim(target, s"body-$i".getBytes("UTF-8"))
          }
        })
      }
      start.countDown()
      val won = wins.zipWithIndex.collect { case (f, i) if f.get() => i }
      assert(won.size == 1, s"round $round: accepted PUTs $won")
      assert(new String(java.nio.file.Files.readAllBytes(target), "UTF-8") ==
        s"body-${won.head}", s"round $round: the winner's object was overwritten")
    } finally pool.shutdown()
  }

  test("ObjectStoreClaim: 8-appender race loses nothing; response-lost PUT never tears") {
    import graft.sources.{GraftManifest, ObjectStoreClaim, PosixLinkClaim}
    val store = new ObjectStoreClaim
    GraftManifest.claimer = store
    try {
      // the PropertySpec CAS law under the conditional-PUT primitive
      val dir = TestSpark.tmp("graft_r12_osc")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        (0 until 8).map { i =>
          pool.submit(new Runnable {
            def run(): Unit = {
              GraftManifest.commit(dir, Seq(s"part-t$i.csv" -> (i + 1).toLong),
                "a BIGINT", truncate = false)
              ()
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      assert(GraftManifest.versions(dir) == (1 to 8))
      val head = GraftManifest.readVersion(dir, None).get
      assert(head.files.map(_._1).sorted == (0 until 8).map(i => s"part-t$i.csv"),
        s"every concurrent append must survive conditional PUT: ${head.files}")
      // RESPONSE-LOST fault: the PUT lands durably, the claim throws.
      // The commit surfaces the failure (contract: never a silent
      // half-publish) but the slot holds a COMPLETE manifest — the next
      // read and the next commit both observe a consistent table.
      store.failPutOnce = true
      val e = intercept[java.io.IOException] {
        GraftManifest.commit(dir, Seq("part-lost.csv" -> 9L),
          "a BIGINT", truncate = false)
      }
      assert(e.getMessage.contains("response lost"))
      assert(GraftManifest.versions(dir) == (1 to 9),
        "the accepted PUT is durable even though its response was lost")
      val v9 = GraftManifest.readVersion(dir, Some(9)).get
      assert(v9.files.contains(("part-lost.csv", 9L)), "no torn manifest")
      // a fresh commit proceeds normally on top
      GraftManifest.commit(dir, Seq("part-after.csv" -> 1L),
        "a BIGINT", truncate = false)
      assert(GraftManifest.readVersion(dir, None).get.version == 10)
      // slot reclaim interop: a deleted slot name is claimable again
      // (the index releases DONE keys whose object is gone)
      val slot = java.nio.file.Paths.get(dir, "_manifest-v10")
      java.nio.file.Files.delete(slot)
      assert(store.claim(slot, "x".getBytes("UTF-8")),
        "a deleted object's key must accept a fresh conditional PUT")
    } finally GraftManifest.claimer = PosixLinkClaim
  }

  test("unescStat decodes only the four emitted escapes; legacy % passes through") {
    val legacy = Seq("50%up", "%zz", "tail%", "%", "%2", "a%2Zb", "%%")
    legacy.foreach(s => assert(GraftManifest.unescStat(s) == s,
      s"legacy '$s' must parse back verbatim"))
    assert(GraftManifest.unescStat("%25") == "%")
    assert(GraftManifest.unescStat("a%2Cb") == "a,b")
    assert(GraftManifest.unescStat("x%0Ay%0Dz") == "x\ny\rz")
    // lower-case hex is NOT an emitted escape — passthrough
    assert(GraftManifest.unescStat("%2c") == "%2c")
  }
}
