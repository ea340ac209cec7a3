package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftManifest

/** Round-14 gate: streaming auto-maintenance (VERDICT r13 next #1 — the
  * `autoOptimize.*` write-option policy that lets a streamed `#sortspec`
  * table repair its own pruning without a hand-issued OPTIMIZE), plus the
  * ADVICE r13 hardening (zShape guards, short-vector fail-fast). */
case class R14Ev(event_id: Long, event_type: String, cents: Long)

class Round14Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  type Ev = R14Ev
  private def Ev(id: Long, t: String, c: Long): Ev = R14Ev(id, t, c)

  /** Seed a declared-sort 2-file range table on event_id. */
  private def seed(dir: String, ids: Range): Unit =
    spark.createDataFrame(ids.map(i => Ev(i.toLong, s"t${i % 3}", i.toLong * 7)))
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "event_id").option("writePartitions", "2")
      .option("distributionStrict", "true").mode("overwrite").save()

  test("malformed autoOptimize policy (smallFiles=0) is refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(Ev(1L, "a", 1L))
    val q = ms.toDF().writeStream.format("graft-sink")
      .option("path", tmp("graft_r14_badpol"))
      .option("checkpointLocation", tmp("graft_r14_badpolchk"))
      .option("autoOptimize.smallFiles", "0")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("malformed autoOptimize policy"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("auto-optimize sweeps after N appended files, preserves the sort, leaves the tail") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("graft_r14_auto")
    seed(dir, 0 until 40)
    val ms = MemoryStream[Ev]
    val q = ms.toDF().coalesce(1) // one file per epoch, deterministically
      .writeStream.format("graft-sink")
      .option("path", dir).option("checkpointLocation", tmp("graft_r14_autochk"))
      .option("autoOptimize.smallFiles", "2")
      .option("autoOptimize.maxFileBytes", (1L << 30).toString)
      .option("autoOptimize.targetFiles", "2")
      .trigger(Trigger.ProcessingTime(50)).start()
    // three epochs, each one full-domain (unshaped) file
    (1 to 3).foreach { e =>
      ms.addData((0 until 40).map(i => Ev(i * 10L + e, s"t${i % 3}", e.toLong)))
      q.processAllAvailable()
    }
    q.stop()
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.count(_ == "AUTO-OPTIMIZE") == 1,
      s"exactly one sweep after the 2nd appended file, got $ops")
    // the sweep ran BETWEEN the 2nd and 3rd appends, not at the end:
    // the counter (1 < 2) leaves epoch 3's tail for the next trigger
    assert(ops.takeRight(2).head == "AUTO-OPTIMIZE" &&
        ops.last == "STREAM APPEND",
      s"sweep must precede the unswept tail append: $ops")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("event_id"),
      s"sweep must preserve the declared sort: ${head.sortSpec}")
    // 2 re-sorted range files + epoch 3's unswept tail
    assert(head.metas.size == 3,
      s"want targetFiles + 1 tail = 3 files, got ${head.metas.size}")
    // lossless: seed + 3 epochs
    assert(spark.read.format("graft-sink").option("path", dir).load().count()
      == 40L + 3 * 40L)
    // re-sorted range files restore pruning: a narrow probe plans fewer
    // than all files (1 range file + the tail)
    val planned = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("event_id") <= 20L).rdd.getNumPartitions
    assert(planned <= 2, s"repaired layout must prune: planned $planned of 3")
  }

  test("the sweep folds a partitioned streaming long tail to one file per value") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("graft_r14_partauto")
    // seed: declared partition layout, one file per value
    spark.createDataFrame(Seq((0L, "a", 1L), (1L, "b", 1L)))
      .toDF("event_id", "event_type", "cents")
      .repartition(col("event_type"))
      .write.format("graft-sink").option("path", dir)
      .option("partitionBy", "event_type").mode("overwrite").save()
    val ms = MemoryStream[Ev]
    val q = ms.toDF().coalesce(1)
      .writeStream.format("graft-sink")
      .option("path", dir).option("checkpointLocation", tmp("graft_r14_partautochk"))
      // a PATH-based table has no catalog-declared #partspec — the
      // stream states its layout like the batch seed did
      .option("partitionBy", "event_type")
      .option("autoOptimize.smallFiles", "4")
      .option("autoOptimize.maxFileBytes", (1L << 30).toString)
      .trigger(Trigger.ProcessingTime(50)).start()
    // each epoch carries BOTH partition values -> 2 small files/epoch
    (1 to 3).foreach { e =>
      ms.addData((0 until 20).map(i =>
        Ev(e * 100L + i, if (i % 2 == 0) "a" else "b", e.toLong)))
      q.processAllAvailable()
    }
    q.stop()
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.count(_ == "AUTO-OPTIMIZE") == 1,
      s"4 appended files at epoch 2 must trip one sweep: $ops")
    val head = GraftManifest.readVersion(dir, None).get
    // sweep folds the per-value small-file piles to ONE file per value
    // (the partitioned-binpack contract); epoch 3 leaves a 2-file tail
    assert(head.metas.size == 4,
      s"want 1/value + 2 tail = 4 files, got ${head.metas.size}")
    assert(head.metas.forall(_.partition.exists(_._1 == "event_type")),
      "every post-sweep file must keep its partition value")
    assert(spark.read.format("graft-sink").option("path", dir).load().count()
      == 2L + 3 * 20L)
  }

  test("a TBLPROPERTIES policy sweeps under a plain writer with no options") {
    val root = tmp("graft_r14_propauto")
    spark.conf.set("spark.sql.catalog.g14p", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14p.root", root)
    val dir = s"$root/db/t"
    seed(dir, 0 until 40) // declared-sort table (path == catalog dir)
    spark.sql("ALTER TABLE g14p.db.t SET TBLPROPERTIES " +
      "('autoOptimize.smallFiles'='2', 'autoOptimize.targetFiles'='2', " +
      s"'autoOptimize.maxFileBytes'='${1L << 30}')")
    // three PLAIN appends — no writer options anywhere
    (1 to 3).foreach { e =>
      spark.createDataFrame((0 until 40).map(i =>
          Ev(i * 10L + e, s"t${i % 3}", e.toLong)))
        .coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.count(_ == "AUTO-OPTIMIZE") == 1,
      s"the durable policy must trigger the sweep: $ops")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("event_id") && head.metas.size == 3,
      s"2 re-sorted + tail, sort preserved: ${head.metas.size} ${head.sortSpec}")
    // the property itself survives the sweep's OPTIMIZE commit
    assert(head.props.get("autoOptimize.smallFiles").contains("2"),
      s"properties must ride maintenance commits: ${head.props}")
  }

  test("CALL maintenance runs the table's own property policy; vacuum.retain resolves") {
    val root = tmp("graft_r14_maintproc")
    spark.conf.set("spark.sql.catalog.g14m", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14m.root", root)
    val dir = s"$root/db/t"
    seed(dir, 0 until 40)
    // no policy yet: the sweep call is refused loudly
    val e = intercept[Exception] {
      spark.sql("CALL g14m.system.maintenance('db.t')").collect()
    }
    assert(e.getMessage.contains("declares no autoOptimize.smallFiles"),
      s"unexpected: ${e.getMessage}")
    spark.sql("ALTER TABLE g14m.db.t SET TBLPROPERTIES " +
      "('autoOptimize.smallFiles'='2', 'autoOptimize.targetFiles'='2', " +
      s"'autoOptimize.maxFileBytes'='${1L << 30}', 'vacuum.retain'='50')")
    (1 to 2).foreach { eN =>
      spark.createDataFrame((0 until 40).map(i =>
          Ev(i * 10L + eN, s"t${i % 3}", eN.toLong)))
        .coalesce(1).write.format("graft-sink").option("path", dir)
        .mode("append").save()
    }
    // the scheduled-sweep entry point, no arguments beyond the table
    val r = spark.sql("CALL g14m.system.maintenance('db.t')").collect().head
    assert(r.getInt(1) <= 2, s"sweep must fold to targetFiles: $r")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.op.contains("AUTO-OPTIMIZE") && head.sortSpec.contains("event_id"))
    // vacuum with no retain argument resolves the table's property
    // (retain=50 keeps everything here — the resolution is the point)
    spark.sql("CALL g14m.system.vacuum('db.t', grace_ms => 0)").collect()
    assert(GraftManifest.versions(dir).nonEmpty)
    // and a property-less table still demands an explicit retain
    val root2 = tmp("graft_r14_vacnone")
    spark.conf.set("spark.sql.catalog.g14v", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14v.root", root2)
    seed(s"$root2/db/t", 0 until 10)
    val e2 = intercept[Exception] {
      spark.sql("CALL g14v.system.vacuum('db.t', grace_ms => 0)").collect()
    }
    assert(e2.getMessage.contains("vacuum.retain"), s"unexpected: ${e2.getMessage}")
  }

  test("a TBLPROPERTIES policy sweeps under a plain stream with no options") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("graft_r14_propstream")
    spark.conf.set("spark.sql.catalog.g14s", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14s.root", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE g14s.db.t (event_id BIGINT, event_type STRING, " +
      "cents BIGINT) TBLPROPERTIES ('autoOptimize.smallFiles'='2')")
    val ms = MemoryStream[Ev]
    // a PLAIN stream — no writer options beyond path and checkpoint
    val q = ms.toDF().coalesce(1).writeStream.format("graft-sink")
      .option("path", dir)
      .option("checkpointLocation", tmp("graft_r14_propstreamchk"))
      .trigger(Trigger.ProcessingTime(50)).start()
    (1 to 2).foreach { e =>
      ms.addData(Ev(e.toLong, "a", e.toLong))
      q.processAllAvailable()
    }
    q.stop()
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.count(_ == "STREAM APPEND") == 2,
      s"every epoch must land as a versioned commit: $ops")
    assert(ops.last == "AUTO-OPTIMIZE",
      s"the durable policy must sweep after the 2nd epoch file: $ops")
    assert(GraftManifest.readVersion(dir, None).get.metas.size == 1)
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 2L)
  }

  test("property values with escapes roundtrip; REPLACE TABLE starts property-free") {
    val root = tmp("graft_r14_propesc")
    spark.conf.set("spark.sql.catalog.g14e", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14e.root", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE g14e.db.t (k BIGINT) TBLPROPERTIES " +
      "('note'='50%up, x=y%25z')")
    assert(GraftManifest.readVersion(dir, None).get.props
      == Map("note" -> "50%up, x=y%25z"))
    // a full shape replacement is a new table shape: property-free
    spark.sql("REPLACE TABLE g14e.db.t (a STRING, b BIGINT)")
    assert(GraftManifest.readVersion(dir, None).get.props.isEmpty,
      "REPLACE TABLE must start property-free")
    // malformed keys are refused loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g14e.db.t SET TBLPROPERTIES ('bad key'='v')")
    }
    assert(e.getMessage.contains("must be [A-Za-z0-9._-]+"),
      s"unexpected: ${e.getMessage}")
    // CTAS declares its TBLPROPERTIES in the same atomic commit
    spark.sql("CREATE TABLE g14e.db.t2 TBLPROPERTIES ('tier'='silver') AS " +
      "SELECT 1L AS k")
    assert(GraftManifest.readVersion(s"$root/db/t2", None).get.props
      == Map("tier" -> "silver"), "CTAS must persist its TBLPROPERTIES")
  }

  test("batch appends accumulate toward the same auto-optimize sweep") {
    val dir = tmp("graft_r14_batchauto")
    seed(dir, 0 until 40)
    def append(e: Int): Unit =
      spark.createDataFrame((0 until 40).map(i =>
          Ev(i * 10L + e, s"t${i % 3}", e.toLong)))
        .coalesce(1)
        .write.format("graft-sink").option("path", dir)
        .option("autoOptimize.smallFiles", "2")
        .option("autoOptimize.maxFileBytes", (1L << 30).toString)
        .option("autoOptimize.targetFiles", "2")
        .mode("append").save()
    (1 to 3).foreach(append)
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.count(_ == "AUTO-OPTIMIZE") == 1 && ops.last == "APPEND",
      s"batch hook must sweep once after the 2nd append and leave the tail: $ops")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("event_id") && head.metas.size == 3,
      s"2 re-sorted files + tail, sort preserved: ${head.metas.size} ${head.sortSpec}")
    assert(spark.read.format("graft-sink").option("path", dir).load().count()
      == 4 * 40L)
  }

  test("the sweep re-curves a declared zorder table instead of hash-scattering it") {
    val root = tmp("graft_r14_zauto")
    spark.conf.set("spark.sql.catalog.g14za", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14za.root", root)
    val dir = s"$root/db/t"
    def frame(off: Long) = spark.range(0, 1000).toDF("id")
      .select((col("id") * 10 + off).as("a"),
        pmod(col("id") * 2654435761L + off, lit(1000003L)).as("b"))
    frame(0).repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("CALL g14za.system.optimize('db.t', 4, 'a,b')").collect()
    assert(GraftManifest.readVersion(dir, None).get.sortSpec.contains("zorder(a,b)"))
    // two policy-armed appends trip the sweep; the fold must re-curve
    (1 to 2).foreach { e =>
      frame(e).coalesce(1)
        .write.format("graft-sink").option("path", dir)
        .option("autoOptimize.smallFiles", "2")
        .option("autoOptimize.maxFileBytes", (1L << 30).toString)
        .option("autoOptimize.targetFiles", "4")
        .mode("append").save()
    }
    val ops = GraftManifest.versions(dir)
      .flatMap(v => GraftManifest.headerFacts(dir, v).op)
    assert(ops.contains("AUTO-OPTIMIZE"), s"sweep must have fired: $ops")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("zorder(a,b)"),
      s"the sweep must preserve the curve declaration: ${head.sortSpec}")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 3000)
    // the re-curved layout prunes a bottom-decile probe on either dim
    val pa = t.where(col("a") <= 1000).rdd.getNumPartitions
    assert(pa < head.metas.size,
      s"re-curved files must prune: planned $pa of ${head.metas.size}")
  }

  test("annProbe composes with pushed filters (routing AND stats skipping)") {
    val dir = tmp("graft_r14_annfilter")
    import spark.implicits._
    def vecs(base: Float, ids: Range) =
      ids.map(i => (i.toLong, Array.fill(8)(base + i * 0.001f)))
    vecs(1f, 0 until 50).toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("overwrite").save()
    vecs(-1f, 50 until 100).toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("append").save()
    def read() = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", Array.fill(8)("1.0").mkString(","))
      .option("annNprobe", "2").option("annCol", "v").load()
    assert(read().rdd.getNumPartitions == 2, "nprobe=2 plans both files")
    // the metadata predicate prunes the probed set further: ids >= 50
    // rule out the positive-cluster file by its stats envelope
    val both = read().where(col("id") >= 50L)
    assert(both.rdd.getNumPartitions == 1,
      "stats skipping must intersect the ANN route")
    assert(both.count() == 50)
  }

  test("zorder_by ranks strings via UTF-8 prefix; unrankable types still refuse") {
    // round 15 inverted the r13 string refusal: a string dimension now
    // ranks by its 6-byte UTF-8 prefix (scan_zorder_string pins the
    // pruning payoff); the refusal remains for types with no rank at all
    val root = tmp("graft_r14_zstr")
    spark.conf.set("spark.sql.catalog.g14z", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14z.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 100).toDF("id")
      .select(col("id").as("a"), concat(lit("s"), col("id")).as("s"),
        array(col("id")).as("v"))
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("CALL g14z.system.optimize('db.t', 2, 'a,s')").collect()
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("zorder(a,s)"),
      s"the mixed numeric/string curve must be declared: ${head.sortSpec}")
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .count() == 100)
    val e = intercept[Exception] {
      spark.sql("CALL g14z.system.optimize('db.t', 2, 'a,v')").collect()
    }
    assert(e.getMessage.contains("not numeric/date/timestamp/string"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("zorder over an all-null dimension completes instead of NPEing (ADVICE r13)") {
    val root = tmp("graft_r14_znull")
    spark.conf.set("spark.sql.catalog.g14n", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14n.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 200).toDF("id")
      .select(col("id").as("a"), lit(null).cast("long").as("b"))
      .repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("CALL g14n.system.optimize('db.t', 2, 'a,b')").collect()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 200)
    // the live dimension still shapes the curve: a bottom probe prunes
    assert(t.where(col("a") <= 20).rdd.getNumPartitions < 2 ||
      GraftManifest.readVersion(dir, None).get.metas.size <= 2)
  }

  test("sum(decimal(<=18)) answers from the manifest; decimal(>18) bails (VERDICT r13 #4)") {
    val dir = tmp("graft_r14_decsum")
    spark.range(0, 1000).toDF("id")
      .select(col("id"),
        (col("id").cast("decimal(10,0)") / 4).cast("decimal(12,2)").as("d12"),
        (col("id").cast("decimal(20,0)") * 3).cast("decimal(20,2)").as("d20"))
      .repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val small = t.agg(sum(col("d12")).as("s"))
    assert(plan(small).contains("LocalTableScan") && !plan(small).contains("BatchScan"),
      s"sum(decimal(12,2)) must answer from #sums:\n${plan(small).take(500)}")
    // the pushed answer is the exact scaled fold: sum(id/4 at scale 2)
    val expected = (0 until 1000).map(i =>
      new java.math.BigDecimal(i).divide(new java.math.BigDecimal(4))
        .setScale(2, java.math.RoundingMode.HALF_UP)).reduce(_ add _)
    assert(small.head().getDecimal(0).compareTo(expected) == 0,
      s"pushed sum ${small.head().getDecimal(0)} != recomputed $expected")
    // round 15 (VERDICT r14 #4) widened the fact to ANY precision: these
    // d20 unscaled values fit the Long fact, so the wide sum now pushes
    // too — the bail case is write-time overflow (Round15Spec pins it)
    val wide = t.agg(sum(col("d20")).as("s"))
    assert(plan(wide).contains("LocalTableScan") && !plan(wide).contains("BatchScan"),
      s"sum(decimal(20,2)) with in-range unscaled values must push (r15):\n${plan(wide).take(500)}")
    assert(wide.head().getDecimal(0).longValueExact() == (0L until 1000L).sum * 3)
  }

  test("decimal #sums write-time overflow degrades to unknown, never wrong") {
    val dir = tmp("graft_r14_decovf")
    // ten max-magnitude decimal(18,0) values in ONE file: the unscaled
    // fold passes Long.MaxValue (~9.2e18 < 10 * (1e18-1)) -> the fact is
    // withheld, sum scans
    val big = new java.math.BigDecimal("999999999999999999")
    spark.range(0, 10).toDF("id")
      .select(col("id"), lit(big).cast("decimal(18,0)").as("d"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val s = t.agg(sum(col("d")).as("s"))
    assert(s.queryExecution.executedPlan.toString.contains("BatchScan"),
      "an overflowed per-file sum fact must force a real scan")
    assert(s.head().getDecimal(0).compareTo(
      big.multiply(new java.math.BigDecimal(10))) == 0)
  }

  test("row-group stats skip PROSE inside a surviving file (VERDICT r13 #7)") {
    // The manifest caps exact stats at 64 chars (prose gets truncated
    // BOUND envelopes); parquet-mr's own row-group statistics need no
    // such cap — they are the TRUE min/max binaries of the group's rows
    // (actual values, so the fabricated-answer hazard of truncated
    // manifest bounds does not exist there), and parquet compares
    // binaries in unsigned-byte order = UTF-8 binary order = the order
    // Spark's string predicates mean. So a text range probe inside a
    // multi-row-group file must materialize ~the answer set's groups,
    // not the file.
    val dir = tmp("graft_r14_rgtext")
    val n = 20000
    import spark.implicits._
    val pad = "x" * 90 // > ExactStatMaxLen -> file-level stats are bounds
    (0 until n).map { i =>
      val bucket = ('a' + i * 26 / n).toChar
      (f"$bucket${i % (n / 26)}%06d-$pad", i.toLong)
    }.toDF("body", "doc_id")
      .repartition(1)
      .sortWithinPartitions("body")
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "65536").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 1, s"fixture wants ONE file, got ${head.metas.size}")
    assert(head.metas.head.bounds(0) && head.metas.head.exactStats(0).isEmpty,
      "prose column must carry a bound envelope, never exact file stats")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val probe = t.where(col("body") >= "p" && col("body") < "q")
    val before = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val hits = probe.count()
    val decoded = graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - before
    assert(hits == n / 26, s"probe must hit one letter bucket: $hits")
    // ~650 rows/group at 64 KB: the answer (~770 rows) spans a couple of
    // groups; anything under a quarter of the file proves group skipping
    assert(decoded < n / 4 && decoded >= hits,
      s"row-group stats must skip prose groups: decoded $decoded of $n for $hits hits")
    // prefix probes ride the same stats as the binary range [p, succ(p))
    // (round 14): a narrow LIKE 'p00001%' must decode a group's worth,
    // not the file
    val pbefore = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val phits = t.where(col("body").startsWith("p00001")).count()
    val pdecoded = graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - pbefore
    assert(phits == 10, s"prefix probe hits the p000010..p000019 run: $phits")
    assert(pdecoded < n / 4 && pdecoded >= phits,
      s"prefix probe must skip prose groups: decoded $pdecoded of $n for $phits hits")
  }

  test("#centroid facts: roundtrip, OPTIMIZE carry, and blind-file conservatism") {
    val root = tmp("graft_r14_cen")
    spark.conf.set("spark.sql.catalog.g14c", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14c.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    // two well-separated clusters of 8-dim vectors, one file each
    def vecs(base: Float, ids: Range) =
      ids.map(i => (i.toLong, Array.fill(8)(base + i * 0.001f)))
    vecs(1f, 0 until 50).toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("overwrite").save()
    vecs(-1f, 50 until 100).toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2 && head.metas.forall(_.centroids.contains(1)),
      s"want 2 centroid-bearing files, got ${head.metas.map(_.centroids.keySet)}")
    // a probe near +1 must plan ONLY the positive-cluster file
    def planned(probe: Float): Int =
      spark.read.format("graft-sink").option("path", dir)
        .option("annProbe", Array.fill(8)(probe.toDouble).mkString(","))
        .option("annNprobe", "1").option("annCol", "v").load()
        .rdd.getNumPartitions
    assert(planned(1f) == 1 && planned(-1f) == 1,
      "nprobe=1 must plan exactly the nearest-centroid file")
    val posRows = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", Array.fill(8)("1.0").mkString(","))
      .option("annNprobe", "1").option("annCol", "v").load()
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(posRows.toSeq == (0L until 50L),
      s"the planned file must be the positive cluster: ${posRows.take(5).toSeq}...")
    // a file WITHOUT the fact (appended without centroidFor) is always
    // planned — absence is no claim
    (100 until 110).map(i => (i.toLong, Array.fill(8)(0.0f))).toDF("id", "v")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    assert(planned(1f) == 2, "a centroid-less file must always be planned")
    // OPTIMIZE carries the index: the rewrite re-records centroids
    spark.sql("CALL g14c.system.optimize('db.t', 1)").collect()
    val after = GraftManifest.readVersion(dir, None).get
    assert(after.metas.forall(_.centroids.contains(1)),
      "OPTIMIZE must re-record #centroid for its fresh files")
  }

  test("anti-probe (Not) prunes the excluded partition via the all-match proof") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
        .head.inputRDD.getNumPartitions
    val dir = tmp("graft_notprune")
    spark.createDataFrame((0 until 90).map(i => Ev(i.toLong, s"t${i % 3}", i.toLong)))
      .repartition(3).write.format("graft-sink").option("path", dir)
      .option("partitionBy", "event_type").mode("overwrite").save()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val all = parts(t)
    assert(all >= 3, s"fixture wants >=3 partition files, got $all")
    // `!=` excludes exactly the t1 partition's files: every row there
    // provably satisfies event_type = 't1' (partition value + zero nulls),
    // so no row can satisfy the negation
    val anti = t.where(col("event_type") =!= "t1")
    assert(parts(anti) < all,
      s"anti-probe must skip the excluded partition: ${parts(anti)} of $all")
    assert(anti.count() == 60, "anti-probe rows stay exact")
    // NOT over a range: rows 0..89 sorted on event_id within partitions —
    // unprovable envelopes conservatively survive
    assert(t.where(!(col("cents") >= 0)).count() == 0,
      "a vacuous negation stays correct (conservative, possibly unpruned)")
    // three-valued guard: NOT(k = v) must keep files whose rows are NULL
    // only if they could FALSE-ify — an all-NULL column file has every
    // row UNKNOWN under the inner predicate, no row matches Not, prune ok;
    // but a MIXED file must survive. Correctness over rows is Spark's
    // residual either way: assert the round-trip answer.
    val dir2 = tmp("graft_notnull")
    spark.range(0, 10).select(col("id"),
        when(col("id") < 5, col("id")).cast("long").as("k"))
      .coalesce(1).write.format("graft-sink").option("path", dir2)
      .mode("overwrite").save()
    val t2 = spark.read.format("graft-sink").option("path", dir2).load()
    assert(t2.where(!(col("k") === 2L)).count() == 4,
      "NOT(k=2) matches k in {0,1,3,4} only - NULL k is UNKNOWN, unmatched")
  }

  test("floating-point special values: pruning agrees with Spark's comparison semantics") {
    // Spark compares doubles with SQLOrderingUtil semantics: -0.0 == 0.0,
    // NaN == NaN, NaN greatest. Double.compare separates the zero signs,
    // so WITHOUT zero-sign normalization a file holding only -0.0 rows
    // gets pruned for `= 0.0` — a wrong answer, not a missed skip. The
    // fixture isolates -0.0 in its own file (the repro shape) and mixes
    // NaN/±Infinity/subnormals; every probe must equal the same filter
    // over the in-memory frame.
    val dir = tmp("graft_fpspecial")
    val specials = Seq(-0.0d, -0.0d, -0.0d) // file 1: all negative zero
    val mixed = Seq(0.0d, 1.5d, -1.5d, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, java.lang.Double.MIN_VALUE, -4.9e-324d)
    import spark.implicits._
    val d1 = specials.toDF("v").coalesce(1)
    val d2 = mixed.toDF("v").coalesce(1)
    d1.write.format("graft-sink").option("path", dir).mode("overwrite").save()
    d2.write.format("graft-sink").option("path", dir).mode("append").save()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val mem = (specials ++ mixed).toDF("v")
    def agree(tag: String, p: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
      val got = t.where(p(col("v"))).collect().map(r =>
        java.lang.Double.doubleToLongBits(r.getDouble(0) + 0.0d)).sorted.toSeq
      val want = mem.where(p(col("v"))).collect().map(r =>
        java.lang.Double.doubleToLongBits(r.getDouble(0) + 0.0d)).sorted.toSeq
      assert(got == want, s"$tag: scan ${got.length} rows, memory ${want.length}")
    }
    agree("= 0.0", _ === 0.0d)       // must KEEP the all--0.0 file
    agree("= -0.0", _ === -0.0d)
    agree("< 0.0", _ < 0.0d)
    agree(">= 0.0", _ >= 0.0d)
    agree("= NaN", _ === Double.NaN) // Spark: NaN == NaN is TRUE
    agree("> 1e308", _ > 1e308)      // +Inf and NaN survive
    agree("<= -1e308", _ <= -1e308)
    agree("in(0.0, NaN)", _.isin(0.0d, Double.NaN))
    // manifest facts carry no "-0.0" string anywhere
    val head = GraftManifest.readVersion(dir, None).get
    head.metas.foreach(m => m.stats.values.foreach { case (mn, mx) =>
      assert(mn != "-0.0" && mx != "-0.0", s"normalized stats, got ($mn,$mx)") })
    // min/max aggregate pushdown stays consistent with a real scan
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val pushed = t.agg(fmin(col("v")), fmax(col("v"))).head()
    assert(pushed.getDouble(0) == Double.NegativeInfinity &&
      pushed.getDouble(1).isNaN, s"min/max over specials: $pushed")
  }

  test("cosinePairs fails fast on short vectors instead of degenerating to all-pairs") {
    val short = spark.range(0, 10).toDF("id")
      .select(col("id"), array((0 until 8).map(i => lit(0.5f)): _*).as("vec"))
    val e = intercept[Exception] {
      graft.api.Graft.cosinePairs(short, "id", "vec", 0.5).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("64-dim")),
      s"want the 64-dim fail-fast, got: ${msgs(e).mkString(" | ")}")
  }
}
