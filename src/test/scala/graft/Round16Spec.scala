package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloomSidecars, GraftManifest}

/** Round-16 gate: bloom-payload SIDECARS with lazy plan-time loading
  * (VERDICT r15 next #1 — the flagged 100×-scale manifest-weight
  * killer), n-gram width auto-selection / saturation markers (next #2),
  * and the `#idx` forward-compat parse (ADVICE r15 #2). */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def scanParts(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
    assert(scans.size == 1, s"want exactly one graft scan, got ${scans.size}")
    scans.head.inputRDDs().head.getNumPartitions
  }

  test("heavy #ngbloom payloads land in sidecars; the manifest stays O(files)") {
    // sha2-shaped 64-char values over a 16-char hex alphabet would
    // saturate — use BASE64 sha output? No: hex saturates by design.
    // Widen the alphabet with base64(unhex(sha)) instead.
    val dir = tmp("graft_r16_sidecar")
    spark.range(0, 1000)
      .selectExpr("id", "base64(unbase64(left(base64(" +
        "concat(sha2(cast(id as string), 256), sha2(cast(id*31+1 as string), 256))" +
        "), 64))) as s")
      .coalesce(2)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.nonEmpty)
    // every file's fact is a sidecar REFERENCE, not inline megabytes
    head.metas.foreach { m =>
      val (w, pay) = m.ngblooms(1)
      assert(w == 4, s"wide-alphabet data must keep the configured width, got $w")
      assert(GraftBloomSidecars.isRef(pay), s"payload should be a sidecar ref: " +
        s"${pay.take(40)}")
      val name = GraftBloomSidecars.refName(pay).get
      val sc = new java.io.File(dir, name)
      assert(sc.isFile && sc.length >= GraftBloomSidecars.SidecarMinChars,
        s"sidecar $name must exist with the payload bytes")
    }
    // the manifest itself carries BARE names (relocation-safe) and stays
    // small: O(files) header bytes, no absolute paths, no payload
    val text = manifestText(dir)
    val ngLines = text.split("\n").filter(_.startsWith("#ngbloom="))
    assert(ngLines.nonEmpty && ngLines.forall(l => l.length < 200 &&
      l.contains(",@") && !l.contains(dir)),
      s"manifest #ngbloom lines must be short bare-name refs: ${ngLines.head.take(120)}")
    assert(text.length < 8 * 1024,
      s"manifest must stay O(files) small, got ${text.length} bytes")

    // LAZINESS: a plan that never consults the filter loads no sidecar
    GraftBloomSidecars.dropCache()
    val before = GraftBloomSidecars.loads.sum()
    val noString = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") < lit(-1L))
    assert(scanParts(noString) == 0 || noString.count() == 0)
    assert(GraftBloomSidecars.loads.sum() == before,
      "a plan decided by the id envelope must not fetch bloom sidecars")
    // ...and an IN-ALPHABET contains probe fetches them and answers
    // exactly (an out-of-alphabet probe would now be decided INLINE by
    // the round-16 #ngalpha fact — these values are base64 of ASCII-hex
    // bytes, whose 6-bit groups never reach '+' or '/'): a window taken
    // from a REAL value is in-alphabet by construction and keeps its file
    val one = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 7L).select("s").head().getString(0)
    val window = one.substring(10, 18)
    val hits = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains(window))
    assert(hits.collect().map(_.getString(1)).exists(_.contains(window)))
    assert(GraftBloomSidecars.loads.sum() > before,
      "an in-alphabet contains probe must lazily fetch the sidecar payloads")
  }

  test("saturated hex data auto-widens the n-gram fact to w+2 and still prunes") {
    // md5 strings are 16-char-alphabet: at w=4 a couple thousand values
    // cover >= half of the 65 536 possible windows (the builder-measured
    // zero-skip shape); the simultaneously-tracked w=6 set stays sparse
    // (16^6 ~ 16.8M) and must win the flush.
    val dir = tmp("graft_r16_widen")
    spark.range(0, 2500)
      .selectExpr("id", "md5(cast(id as string)) as s")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    val (w, pay) = head.metas.head.ngblooms(1)
    assert(w == 6, s"hex-saturated width-4 fact must auto-widen to 6, got $w")
    assert(pay != GraftBloomSidecars.Saturated,
      "the widened set is sparse — it must land as a real filter")
    // a >= 6-char probe of an ABSENT string prunes the (single) file;
    // 'zzzzzz' is outside the hex alphabet entirely
    def probe(s: String): DataFrame =
      spark.read.format("graft-sink").option("path", dir).load()
        .where(col("s").contains(s))
    assert(scanParts(probe("zzzzzz")) == 0, "absent 6-gram must prune the file")
    // a probe from a real value keeps it and answers exactly
    val real = spark.sql("select md5('42')").head().getString(0).substring(3, 12)
    assert(probe(real).count() >= 1)
    // the FULL commit's #idx recompute adopts the narrowest width ON
    // RECORD — here every file widened to 6, so the table's rebuild
    // width follows the data (a mixed table keeps the narrowest; the
    // writer re-widens per file as each file's occupancy demands)
    assert(head.idxCols.exists(_.ngram == Seq((1, 6))),
      s"#idx must adopt the files' observed width: ${head.idxCols}")
  }

  test("single-char-alphabet data lands the !sat marker; probes stay conservative") {
    val dir = tmp("graft_r16_sat")
    spark.range(0, 200)
      .selectExpr("id", "repeat('a', 32) as s")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    val (w, pay) = head.metas.head.ngblooms(1)
    assert(pay == GraftBloomSidecars.Saturated && w == 4,
      s"occupancy-1 data at every candidate width must mark saturated, got ($w, $pay)")
    // the marker keeps the file (fact present, zero skip, zero decode)
    val kept = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains("aaaa"))
    assert(kept.count() == 200)
    GraftBloomSidecars.dropCache()
    val before = GraftBloomSidecars.loads.sum()
    spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains("bbbb")).count()
    assert(GraftBloomSidecars.loads.sum() == before,
      "a !sat fact must never cost a payload fetch")
  }

  test("vacuum retains referenced bloom sidecars and reclaims orphaned ones") {
    val dir = tmp("graft_r16_vac")
    def write(): Unit = spark.range(0, 1000)
      .selectExpr("id", "base64(unbase64(left(base64(" +
        "concat(sha2(cast(id as string), 256), sha2(cast(id*17+3 as string), 256))" +
        "), 64))) as s")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    write()
    val sc1 = GraftManifest.readVersion(dir, None).get.metas.head
      .ngblooms(1)._2
    val name1 = GraftBloomSidecars.refName(sc1).get
    write() // overwrite: v1's file (and its sidecar) become unreferenced
    val sc2 = GraftManifest.readVersion(dir, None).get.metas.head
      .ngblooms(1)._2
    val name2 = GraftBloomSidecars.refName(sc2).get
    assert(name1 != name2)
    GraftManifest.vacuum(dir, retainLast = 1, graceMs = 0L)
    assert(!new java.io.File(dir, name1).exists(),
      "the orphaned sidecar must be reclaimed with its data file")
    assert(new java.io.File(dir, name2).exists(),
      "the live sidecar must survive vacuum")
    // and the surviving table still probes exactly through its sidecar
    GraftBloomSidecars.dropCache()
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains("zz++zz++")).count() == 0)
  }

  test("#idx parse carries unknown segments instead of bricking the reader (ADVICE r15)") {
    import graft.sources.GraftIdx
    // a future writer's segment parses, survives union, and re-renders
    val ix = GraftManifest.parseIdx("bloom:1,3;ndv:2;zorder9:4:7,hi")
    assert(ix == GraftIdx(Seq(1, 3), Seq(2), extra = Seq("zorder9:4:7,hi")))
    assert(GraftManifest.renderIdx(ix) == "bloom:1,3;ndv:2;zorder9:4:7,hi")
    val merged = ix.union(GraftIdx(Seq(5), Nil, ngram = Seq((2, 4))))
    assert(merged.extra == Seq("zorder9:4:7,hi") && merged.bloom == Seq(1, 3, 5),
      "a delta union must not DROP a newer surface's declaration")
    // known segments with malformed bodies still refuse loudly
    intercept[Exception](GraftManifest.parseIdx("bloom:1;ndv:2;ngram:oops"))
  }

  test("n-gram overflow: past the distinct cap the filter streams dense and still prunes") {
    // 45k 64-char hex values = ~2.4M distinct 6-gram windows — past the
    // 1M set cap. The round-16.0 writer landed `!sat` here (zero skip on
    // exactly production-size files); overflow mode streams the hashes
    // into the max-size table instead (fill ~0.8 < NgramFillSat) and the
    // fact keeps pruning.
    val dir = tmp("graft_r16_ngbig")
    spark.range(0, 45000)
      .selectExpr("id",
        "concat(md5(cast(id as string)), md5(cast(id + 7 as string))) as s")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:6")
      .option("distributionMode", "none").mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    val (w, pay) = m.ngblooms(1)
    assert(w == 6 && pay != GraftBloomSidecars.Saturated,
      s"overflow must keep a dense filter at the narrow width, got ($w, " +
        s"${pay.take(16)}...)")
    assert(GraftBloomSidecars.isRef(pay), "a max-size filter must be a sidecar ref")
    def q(needle: String) = spark.read.format("graft-sink")
      .option("path", dir).load().where(col("s").contains(needle))
    // absent windows (non-hex chars): the dense filter still prunes the file
    GraftBloomSidecars.dropCache()
    assert(scanParts(q("zz--zz--zz--")) == 0,
      "an absent-window probe must prune even a dense overflow filter")
    // a true mid-value slice keeps the file and returns its row
    val truthy = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 31337L).head().getString(1).substring(20, 32)
    assert(q(truthy).count() >= 1L, "a true probe must keep its row")
  }

  test("plain #bloom payloads externalize past 4 KB and stay lazy (review finding)") {
    val dir = tmp("graft_r16_blm")
    // 10k distinct longs per file -> ~20 KB base64 per filter: must ride
    // a .blm sidecar, not the manifest line
    spark.range(0, 20000).toDF("k")
      .selectExpr("k", "k % 97 as v")
      .repartition(2, col("k"))
      .write.format("graft-sink").option("path", dir)
      .option("bloomFor", "k")
      .option("distributionMode", "none").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2)
    head.metas.foreach { m =>
      assert(GraftBloomSidecars.isRef(m.blooms(0)),
        s"a 10k-distinct bloom must be a sidecar ref: ${m.blooms(0).take(30)}")
    }
    assert(manifestText(dir).length < 4096,
      "the manifest must stay small with value blooms externalized")
    def rd() = spark.read.format("graft-sink").option("path", dir).load()
    // envelope-decidable plan: zero fetches
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    assert(scanParts(rd().where(col("k") < -1L)) == 0)
    assert(GraftBloomSidecars.loads.sum() - l0 == 0L,
      "an envelope-decided plan must not fetch .blm sidecars")
    // point lookup: both files' filters fetch, one file survives, exact row
    assert(scanParts(rd().where(col("k") === 12345L)) == 1,
      "the bloom must prune the point probe to its holder")
    assert(GraftBloomSidecars.loads.sum() - l0 == 2L,
      "each candidate file fetches its filter exactly once")
    assert(rd().where(col("k") === 12345L).collect().map(_.getLong(0)).toSeq
      == Seq(12345L))
  }

  test("a checkpoint carries forward-compat #idx extra segments (review finding)") {
    val dir = tmp("graft_r16_ckpt")
    def append(n: Int): Unit =
      spark.range(n * 100, n * 100 + 100).toDF("k")
        .selectExpr("k", "md5(cast(k as string)) as s")
        .coalesce(1).write.format("graft-sink").option("path", dir)
        .option("ngramBloomFor", "s:4")
        .mode(if (n == 0) "overwrite" else "append").save()
    append(0)
    // a FUTURE writer's surface declaration lands in the head's #idx —
    // simulate by rewriting v1's idx line with an extra segment
    val v1 = new java.io.File(dir, "_manifest-v1")
    val text = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    assert(text.contains("#idx="), "fixture: v1 must carry an #idx line")
    java.nio.file.Files.write(v1.toPath, text.split("\n").map(l =>
      if (l.startsWith("#idx=")) l + ";zorder9:4:7,hi" else l)
      .mkString("\n").getBytes("UTF-8"))
    // deltas union the segment forward; the CheckpointEvery-th commit
    // (v10, a FULL recompute) must still carry it
    (1 to 9).foreach(append)
    val versions = GraftManifest.versions(dir)
    assert(versions.contains(10), s"want a v10 checkpoint, got $versions")
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.idxCols.exists(_.extra == Seq("zorder9:4:7,hi")),
      s"the checkpoint recompute must not drop the unknown segment: ${head.idxCols}")
    assert(head.idxCols.exists(_.ngram == Seq((1, 4))),
      s"…while still recomputing the known surfaces: ${head.idxCols}")
    // and the carried declaration round-trips the codec
    assert(GraftManifest.renderIdx(head.idxCols.get).contains("zorder9:4:7,hi"))
  }

  test("a missing bloom sidecar degrades to keep-everything, never fails the read") {
    val dir = tmp("graft_r16_nosc")
    spark.range(0, 2000)
      .selectExpr("id", "base64(unhex(concat(md5(cast(id as string)), " +
        "md5(cast(id * 13 + 1 as string))))) as s")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    val ref = m.ngblooms(1)._2
    assert(GraftBloomSidecars.isRef(ref), s"fixture needs a sidecar ref: $ref")
    // a value really in the table, probed after the sidecar vanishes
    val one = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 42L).head().getString(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir,
      GraftBloomSidecars.refName(ref).get))
    GraftBloomSidecars.dropCache()
    val hit = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains(one.substring(4, 12)))
    // advisory fact: the read degrades to keep-everything and still
    // answers exactly — it must NOT throw
    assert(hit.collect().map(_.getString(1)).exists(_.contains(one.substring(4, 12))))
  }

  test("#ngalpha prunes alphabet-miss probes inline — zero sidecar fetches, even on !sat") {
    val dir = tmp("graft_r16_ngalpha")
    // hex alphabet, windows saturate w=4 AND w=6?? no — md5 windows at
    // default w=4 saturate the hex space (the !sat path) once per-file
    // density is high enough; here 2k values x 29 windows ~ 58k of the
    // 65k 4-gram space → the auto-widener's w+2 candidate stays, so
    // force a single candidate via an explicit tight width
    spark.range(0, 2000)
      .selectExpr("id", "md5(cast(id as string)) as s")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    assert(m.ngalphas.get(1).contains("0123456789abcdef"),
      s"hex values must land the exact sorted alphabet: ${m.ngalphas}")
    def q(needle: String) = spark.read.format("graft-sink")
      .option("path", dir).load().where(col("s").contains(needle))
    // a probe with a char the file never wrote prunes INLINE: no loads —
    // and at length 2 it is BELOW the window width, where only the
    // alphabet fact can decide
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    assert(scanParts(q("zq")) == 0, "alphabet-miss probe must prune the file")
    assert(GraftBloomSidecars.loads.sum() - l0 == 0L,
      "the alphabet gate must decide BEFORE any sidecar fetch")
    // prefix/equality shapes reuse the gate
    assert(scanParts(spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").startsWith("xyz"))) == 0)
    // an all-hex probe stays conservative (alphabet cannot decide)
    assert(q("00").count() >= 0L)
  }

  test("parKeep preserves planned-file order above and below the parallel threshold") {
    import graft.sources.GraftSinkScan
    val small = (0 until 100).toVector
    val big = (0 until 5000).toVector
    assert(GraftSinkScan.parKeep(small)(_ % 3 == 0) == small.filter(_ % 3 == 0))
    assert(GraftSinkScan.parKeep(big)(_ % 7 != 0) == big.filter(_ % 7 != 0),
      "parallel evaluation must not reorder the planned file sequence")
    assert(GraftSinkScan.parKeep(big)(_ => false).isEmpty &&
      GraftSinkScan.parKeep(big)(_ => true) == big)
  }

  test("ANN routing disables the LIMIT/TopN file cap (review finding)") {
    val dir = tmp("graft_r16_annlim") + "/t"
    spark.range(0, 1000).toDF("id").selectExpr("id", idVecExpr)
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v")
      .option("distributionMode", "none").mode("overwrite").save()
    assert(graft.sources.GraftManifest.readVersion(dir, None).get.metas.size == 4)
    // route to 1 file, then LIMIT: the cap (proven over the FIRST files)
    // must NOT intersect the route into an under-delivered answer
    val routed = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", probe450).option("annNprobe", "1")
      .option("annCol", "v").load()
    assert(routed.limit(5).count() == 5L,
      "limit over a routed read must deliver k rows, not cap-and-vanish")
    assert(routed.orderBy(col("id").desc).limit(3).count() == 3L,
      "TopN over a routed read must deliver k rows")
  }

  test("annProbe refuses stream reads; divergent append sortBy refuses (review)") {
    val dir = tmp("graft_r16_guards") + "/t"
    spark.range(0, 100).toDF("id").selectExpr("id", idVecExpr)
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("overwrite").save()
    // round 17 LIFTED the batch-CDF refusal (the keep-set now scores the
    // FEED's tagged population — Round17Spec pins exactness); the
    // STREAM refusal stays: a micro-batch planner re-derives version
    // ranges and a per-read probe has no epoch to pin to
    val ok = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "0")
      .option("annProbe", probe450).option("annCol", "v").load()
    assert(ok.count() > 0L, "batch CDF + ANN now composes (round 17)")
    val e1 = intercept[Exception] {
      spark.readStream.format("graft-sink").option("path", dir)
        .option("startingVersion", "0")
        .option("annProbe", probe450).option("annCol", "v").load()
        .writeStream.format("memory").queryName("r16guard").start()
        .processAllAvailable()
    }
    assert(e1.getMessage.contains("annProbe cannot combine"), e1.getMessage)
    // a declared sort layout: an explicit DIFFERENT append sortBy would
    // make the scan's reported per-file ordering lie — refused
    val sdir = tmp("graft_r16_sortguard") + "/t"
    spark.range(0, 100).toDF("k").selectExpr("k", "k * 2 as w")
      .coalesce(1).write.format("graft-sink").option("path", sdir)
      .option("sortBy", "k").mode("overwrite").save()
    val e2 = intercept[Exception] {
      spark.range(100, 200).toDF("k").selectExpr("k", "k * 2 as w")
        .coalesce(1).write.format("graft-sink").option("path", sdir)
        .option("sortBy", "w").mode("append").save()
    }
    assert(e2.getMessage.contains("conflicts with the table's declared sort"),
      e2.getMessage)
    // a CONFORMING explicit sortBy still appends fine
    spark.range(100, 200).toDF("k").selectExpr("k", "k * 2 as w")
      .coalesce(1).write.format("graft-sink").option("path", sdir)
      .option("sortBy", "k").mode("append").save()
    assert(spark.read.format("graft-sink").option("path", sdir).load()
      .count() == 200L)
  }

  test("a truncated bloom sidecar degrades to keep-everything (review finding)") {
    val dir = tmp("graft_r16_trunc")
    spark.range(0, 2000)
      .selectExpr("id", "base64(unhex(concat(md5(cast(id as string)), " +
        "md5(cast(id * 29 + 5 as string))))) as s")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:6")
      .option("distributionMode", "none").mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    val name = GraftBloomSidecars.refName(m.ngblooms(1)._2).get
    val one = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 99L).head().getString(1)
    // truncate the sidecar to half: a wrong-mask probe would FALSE-
    // NEGATIVE — the shape guard must keep the file instead
    val scPath = java.nio.file.Paths.get(dir, name)
    val bytes = java.nio.file.Files.readAllBytes(scPath)
    java.nio.file.Files.write(scPath, bytes.take(bytes.length / 2 + 3))
    GraftBloomSidecars.dropCache()
    val hit = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains(one.substring(6, 14)))
    assert(hit.collect().map(_.getString(1)).exists(_.contains(one.substring(6, 14))),
      "a truncated filter must never prune a file that holds the match")
  }

  test("csv cells refuse carriage returns like newlines (review finding)") {
    import spark.implicits._
    val dir = tmp("graft_r16_cr") + "/t"
    val e = intercept[org.apache.spark.SparkException] {
      Seq((1L, "a\rb")).toDF("k", "v").coalesce(1)
        .write.format("graft-sink").option("path", dir)
        .option("format", "csv").mode("overwrite").save()
    }
    assert(e.getMessage.contains("cannot encode") ||
      Option(e.getCause).exists(_.getMessage.contains("cannot encode")), e.getMessage)
  }

  test("a stream into an indexed head derives every declared index surface") {
    import graft.sources.{GraftSinkStreamingWrite, GraftSinkStreamingFactory}
    val dir = tmp("graft_r16_idxstream")
    spark.range(10).toDF("id").selectExpr("id", "md5(cast(id as string)) as s")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("bloomFor", "s").option("ngramBloomFor", "s:4")
      .mode("overwrite").save()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING")
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    val versioned = new GraftSinkStreamingWrite(dir, schema, "q")
      .createStreamingWriterFactory(info).asInstanceOf[GraftSinkStreamingFactory]
    // `s` is column 1 of the write schema
    assert(versioned.idx.bloom == Seq(1) &&
      versioned.idx.ngram == Seq((1, 4)),
      s"versioned streams derive every index surface: $versioned")
  }

  /** 64-dim vector whose direction varies with id — row-group means of an
    * id-sorted file then separate cleanly, so `#rgcen` routing is exact. */
  private val idVecExpr =
    "concat(array(cast(id as float)), " +
      "transform(sequence(1, 63), x -> cast(1.0 as float))) as v"
  private val probe450 = (Seq(450.0) ++ Seq.fill(63)(1.0)).mkString(",")

  test("#rvstats survives supplementary-char data: shorten-and-widen (VERDICT r15 #5)") {
    val dir = tmp("graft_r16_rvsup") + "/t"
    // CJK-ext + emoji INSIDE the value: char-reversed, they become LONE
    // surrogates mid-string — the round-15 writer withheld the whole
    // fact here; the round-16 writer truncates each extreme at its
    // longest clean prefix and keeps pruning
    import spark.implicits._
    val exts = Seq(".jpg", ".txt")
    (0 until 400).map(i => (i.toLong, s"媒体😀/f𠀋-$i${exts(i % 2)}"))
      .toDF("id", "path")
      .repartitionByRange(4, reverse(col("path")))
      .sortWithinPartitions(reverse(col("path")))
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "reverse(path)").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 4)
    assert(head.metas.forall(_.rvstats.contains(1)),
      s"supplementary-char files must KEEP #rvstats: ${head.metas.map(_.rvstats)}")
    // the kept bounds are clean (exact UTF-8 manifest roundtrip)…
    head.metas.flatMap(_.rvstats.get(1)).foreach { case (lo, hi) =>
      assert(graft.sources.GraftSinkWriter.pairedSurrogates(lo) &&
        graft.sources.GraftSinkWriter.pairedSurrogates(hi), s"unclean bound: ($lo,$hi)")
    }
    // …and the suffix probe still prunes files AND returns exact rows
    def probe() = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("path").endsWith(".jpg"))
    assert(scanParts(probe()) < 4, "suffix probe must prune the reversed layout")
    val got = probe().collect()
    assert(got.length == 200 && got.forall(_.getString(1).endsWith(".jpg")))
  }

  test("ranged ANN splits compose with DVs and keep file-scoped _pos (VERDICT r15 #3)") {
    val root = tmp("graft_r16_anndv")
    spark.conf.set("spark.sql.catalog.g16r",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16r.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 1000).toDF("id").selectExpr("id", idVecExpr)
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "8192")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .mode("overwrite").save()
    spark.sql("DELETE FROM g16r.db.t WHERE id % 10 = 3")
    val head = GraftManifest.readVersion(dir, None).get
    val m = head.metas.head
    assert(head.metas.size == 1 && m.dv.exists(_._2 == 100L),
      s"fixture: one file, 100 positions vectored — ${head.metas}")
    assert(m.rgcens.getOrElse(1, Nil).count(_.b64 != "-") >= 4,
      "fixture: want >= 4 claiming groups")
    def routed() = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", probe450).option("annNprobe", "1")
      .option("annRgNprobe", "2").option("annCol", "v").load()
    val before = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val res = routed().selectExpr("id", "_pos").collect()
    val decoded =
      graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - before
    assert(decoded < m.rows,
      s"a DV-bearing file must keep its ranged-split decode: $decoded of ${m.rows}")
    // write order IS id order in one file, so physical position == id; a
    // range-LOCAL counter would restart at 0 inside the routed group and
    // both _pos and the DV skip below would shear
    assert(res.nonEmpty && res.forall(r => r.getLong(1) == r.getLong(0)),
      "_pos must stay FILE-scoped through a ranged read")
    val ids = res.map(_.getLong(0)).sorted.toSeq
    val gset = ids.map(_ / 100).distinct
    assert(gset.size == 2, s"annRgNprobe=2 must keep 2 groups, got $gset")
    val want = (0L until 1000L).filter(i => gset.contains(i / 100) && i % 10 != 3)
    assert(ids == want, "kept groups must serve exactly their live rows")
    // the zero-column (count) ranged reader offsets the DV cursor the
    // same way the row reader does
    assert(routed().count() == ids.size.toLong)
  }

  test("ranged ANN splits compose with pending equality deletes") {
    val dir = tmp("graft_r16_anneq") + "/t"
    spark.range(0, 1000).toDF("id")
      .selectExpr("id", idVecExpr, "'old' as tag")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "8192")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .mode("overwrite").save()
    // upsert five ids inside the hot group: the old rows die by PENDING
    // equality-delete sidecar, the base file is never rewritten
    spark.range(448, 453).toDF("id")
      .selectExpr("id", idVecExpr, "'new' as tag")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "id").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.eqDels.nonEmpty, "fixture must carry pending equality deletes")
    val base = head.metas.find(_.rows == 1000L).get
    assert(base.rgcens.nonEmpty, "base file must keep its #rgcen facts")
    // annNprobe=2 keeps BOTH files — the point is the ranged read of the
    // eqdel-bearing BASE, not file pruning hiding the old rows
    def routed() = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", probe450).option("annNprobe", "2")
      .option("annRgNprobe", "2").option("annCol", "v").load()
    val before = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val res = routed().selectExpr("id", "tag").collect()
    val decoded =
      graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - before
    assert(decoded < base.rows,
      s"an eqdel-bearing file must keep its ranged-split decode: $decoded")
    val hot = res.filter(r => r.getLong(0) >= 448 && r.getLong(0) <= 452)
    assert(hot.length == 5 && hot.forall(_.getString(1) == "new"),
      s"upserted ids must surface ONCE, from the new file: " +
        hot.map(r => (r.getLong(0), r.getString(1))).mkString(","))
    assert(res.groupBy(_.getLong(0)).values.forall(_.length == 1),
      "no id may appear twice through a ranged eqdel read")
  }
}
