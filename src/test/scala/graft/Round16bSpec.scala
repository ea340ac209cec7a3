package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloomSidecars, GraftManifest}

/** Round-16b gate: INDEX BUNDLES (`CALL system.compact_index`) — the
  * per-candidate-file sidecar fetch (round-16 close residual #1)
  * collapses to O(bundles) plan reads: per-file `.pbb`/`.ngb`/`.blm`
  * payloads concatenate into few capped `.idb` files referenced by
  * `@bundle:off:len` byte ranges, resolved by one whole-bundle slurp. */
class Round16bSpec extends AnyFunSuite {
  import TestSpark._

  test("ranged-ref codec round-trips and stays bare-name in render") {
    val ranged = "@idx-3-0.idb:1024:2048"
    assert(GraftBloomSidecars.isRef(ranged))
    assert(GraftBloomSidecars.refName(ranged).contains("idx-3-0.idb"))
    val abs = GraftBloomSidecars.absolutize(ranged, Some("/tables/t"))
    assert(abs == "@/tables/t/idx-3-0.idb:1024:2048", abs)
    assert(GraftBloomSidecars.renderPayload(abs) == ranged,
      GraftBloomSidecars.renderPayload(abs))
    // a plain (un-ranged) ref is untouched by the new grammar
    val plain = "@f.parquet.1.ngb"
    assert(GraftBloomSidecars.refName(plain).contains("f.parquet.1.ngb"))
    assert(GraftBloomSidecars.renderPayload(
      GraftBloomSidecars.absolutize(plain, Some("/tables/t"))) == plain)
    // markers and inline payloads pass through everything
    for (p <- Seq(GraftBloomSidecars.Saturated, "QUJD")) {
      assert(GraftBloomSidecars.absolutize(p, Some("/x")) == p)
      assert(GraftBloomSidecars.renderPayload(p) == p)
      assert(GraftBloomSidecars.resolve(p) == p)
    }
  }

  test("compact_index bundles sidecars; a contains probe pays O(bundles) reads") {
    val dir = tmp("graft_r16b_bundle")
    NgramFixture.write(dir)
    val v1 = GraftManifest.readVersion(dir, None).get
    assert(v1.metas.size == 8, s"fixture wants 8 files, got ${v1.metas.size}")
    assert(v1.metas.forall(m => GraftBloomSidecars.isRef(m.ngblooms(1)._2)),
      "fixture: every file's filter must have externalized")
    val window = NgramFixture.inAlphabetWindow(dir)

    // BEFORE: one sidecar read per candidate file (all 8 reach the
    // bloom conjunct — no envelope can decide a contains)
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(expect.nonEmpty)
    assert(GraftBloomSidecars.loads.sum() - l0 == 8L,
      s"pre-bundle probe must fetch one sidecar per file, got ${
        GraftBloomSidecars.loads.sum() - l0}")

    val (pays, bundles, nv) = graft.sources.GraftMaintenance.compactIndexes(dir)
    assert(pays == 8 && bundles == 1 && nv == v1.version + 1,
      s"want 8 payloads in 1 bundle at v${v1.version + 1}, got ($pays, $bundles, $nv)")
    // the manifest now carries RANGED bare-name refs — short lines, no
    // absolute paths, one shared bundle file
    val text = manifestText(dir)
    val ngLines = text.split("\n").filter(_.startsWith("#ngbloom="))
    assert(ngLines.length == 8 && ngLines.forall(l =>
      l.contains(",@idx-") && l.matches(""".*\.idb:\d+:\d+$""") &&
        !l.contains(dir) && l.length < 200),
      s"want ranged bare-name refs: ${ngLines.head.take(120)}")
    val head = GraftManifest.readVersion(dir, None).get
    val bNames = head.metas.map(m =>
      GraftBloomSidecars.refName(m.ngblooms(1)._2).get).distinct
    assert(bNames.size == 1 &&
      bNames.head.matches(s"idx-${v1.version}-0-.*\\.idb"),
      s"all refs must share one uniquely-named bundle: $bNames")

    // AFTER: the same probe pays ONE bundle read and answers identically
    GraftBloomSidecars.dropCache()
    val l1 = GraftBloomSidecars.loads.sum()
    val got = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expect), "bundling must not change the answer")
    assert(GraftBloomSidecars.loads.sum() - l1 == 1L,
      s"post-bundle probe must pay one bundle read, got ${
        GraftBloomSidecars.loads.sum() - l1}")
    // …and a plan decided by the id envelope still fetches nothing
    val l2 = GraftBloomSidecars.loads.sum()
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") < lit(-1L)).count() == 0L)
    assert(GraftBloomSidecars.loads.sum() == l2,
      "an envelope-decided plan must not fetch the bundle")
  }

  test("appends after compaction mix plain and ranged refs; recompaction re-packs") {
    val dir = tmp("graft_r16b_mix")
    NgramFixture.write(dir, files = 4)
    graft.sources.GraftMaintenance.compactIndexes(dir)
    // an APPEND lands fresh per-file sidecars next to the bundled head
    NgramFixture.write(dir, files = 1, lo = 2000, hi = 2500, mode = "append")
    val mixed = GraftManifest.readVersion(dir, None).get
    val refs = mixed.metas.map(_.ngblooms(1)._2)
    assert(refs.count(r => GraftBloomSidecars.splitRef(r.drop(1))._2.isDefined) == 4 &&
      refs.count(r => GraftBloomSidecars.isRef(r) &&
        GraftBloomSidecars.splitRef(r.drop(1))._2.isEmpty) == 1,
      s"want 4 ranged + 1 plain ref, got ${refs.map(_.take(30))}")
    // BOTH shapes resolve on one probe; a window from the appended file
    // finds its row
    val one = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("id") === 2100L).select("s").head().getString(0)
    val got = NgramFixture.containsProbe(dir, one.substring(20, 28))
      .collect().map(_.getLong(0))
    assert(got.contains(2100L))
    // recompaction packs EVERYTHING (prior bundle slices + the fresh
    // sidecar) into one new bundle
    val (pays2, bundles2, _) = graft.sources.GraftMaintenance.compactIndexes(dir)
    assert(pays2 == 5 && bundles2 == 1, s"recompaction: ($pays2, $bundles2)")
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    val again = NgramFixture.containsProbe(dir, one.substring(20, 28))
      .collect().map(_.getLong(0))
    assert(again.sameElements(got))
    assert(GraftBloomSidecars.loads.sum() - l0 == 1L,
      "after recompaction one bundle read serves all five files")
  }

  test("vacuum reclaims replaced per-file sidecars and keeps the live bundle") {
    val dir = tmp("graft_r16b_vac")
    NgramFixture.write(dir, files = 4)
    val window = NgramFixture.inAlphabetWindow(dir)
    val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    graft.sources.GraftMaintenance.compactIndexes(dir)
    def names() = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names().count(_.endsWith(".ngb")) == 4 &&
      names().count(_.endsWith(".idb")) == 1)
    GraftManifest.vacuum(dir, retainLast = 1, graceMs = 0L)
    assert(names().count(_.endsWith(".ngb")) == 0,
      "v1's per-file sidecars must reclaim once only the bundled head is retained")
    assert(names().count(_.endsWith(".idb")) == 1,
      "the referenced bundle must survive vacuum")
    GraftBloomSidecars.dropCache()
    val got = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expect), "the vacuumed table still answers exactly")
  }

  test("a missing or truncated bundle degrades to keep-everything, never fails") {
    val dir = tmp("graft_r16b_degrade")
    NgramFixture.write(dir, files = 4)
    val window = NgramFixture.inAlphabetWindow(dir)
    val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    graft.sources.GraftMaintenance.compactIndexes(dir)
    val bundle = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".idb")).head
    // TRUNCATE the bundle: ranges past the cut must shape-check and
    // degrade, not slice garbage or throw
    val bytes = java.nio.file.Files.readAllBytes(bundle.toPath)
    java.nio.file.Files.write(bundle.toPath, bytes.take(bytes.length / 3))
    GraftBloomSidecars.dropCache()
    val got1 = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(got1.sameElements(expect), "a truncated bundle must still answer exactly")
    // DELETE the bundle entirely: every ref degrades on ONE failed read
    assert(bundle.delete())
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    val got2 = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(got2.sameElements(expect), "a missing bundle must still answer exactly")
    assert(GraftBloomSidecars.loads.sum() - l0 == 1L,
      "the failed bundle read must be attempted once, not once per ref")
  }

  test("CALL system.compact_index runs from SQL and lands a COMPACT-INDEX commit") {
    val root = tmp("graft_r16b_call")
    spark.conf.set("spark.sql.catalog.g16b",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16b.root", root)
    val dir = s"$root/db/t"
    NgramFixture.write(dir, files = 4)
    val row = spark.sql("CALL g16b.system.compact_index('db.t')").head()
    assert(row.getInt(0) == 4 && row.getInt(1) == 1 && row.getInt(2) == 2,
      s"CALL result: $row")
    val hist = spark.sql("CALL g16b.system.history('db.t')")
      .select("operation").collect().map(_.getString(0))
    assert(hist.contains("COMPACT-INDEX"), hist.mkString(","))
    // a head with nothing externalized is a no-op (no empty commit)
    val again = spark.sql("CALL g16b.system.compact_index('db.t')").head()
    assert(again.getInt(2) == 3, s"recompaction repacks the bundle: $again")
    val third = spark.sql("CALL g16b.system.compact_index('db.t')").head()
    assert(third.getInt(2) == 4)
  }

  test("CALL maintenance honors the compactIndex.minSidecars property") {
    val root = tmp("graft_r16b_maint")
    spark.conf.set("spark.sql.catalog.g16m",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16m.root", root)
    val dir = s"$root/db/t"
    NgramFixture.write(dir, files = 4)
    // index policy ALONE is a valid maintenance declaration (no
    // autoOptimize.* needed — the refusal message names both)
    spark.sql("ALTER TABLE g16m.db.t SET TBLPROPERTIES " +
      "('compactIndex.minSidecars'='5')")
    // below threshold (4 < 5): the sweep bundles nothing, commits nothing
    val r0 = spark.sql("CALL g16m.system.maintenance('db.t')").head()
    assert(r0.getInt(3) == 0, s"below threshold must be a no-op: $r0")
    assert(!GraftManifest.versions(dir).flatMap(v =>
      GraftManifest.headerFacts(dir, v).op).contains("COMPACT-INDEX"))
    // one more sidecar-bearing append trips it
    NgramFixture.write(dir, files = 1, lo = 5000, hi = 5500, mode = "append")
    val r1 = spark.sql("CALL g16m.system.maintenance('db.t')").head()
    assert(r1.getInt(3) == 5, s"5 pending sidecars must bundle: $r1")
    assert(GraftManifest.versions(dir).flatMap(v =>
      GraftManifest.headerFacts(dir, v).op).contains("COMPACT-INDEX"))
    // the sweep is INCREMENTAL (pendingOnly): a later append + sweep
    // must bundle just the fresh sidecar and leave every existing
    // ranged ref byte-identical — no whole-table repack per sweep
    val refsBefore = GraftManifest.readVersion(dir, None).get.metas
      .map(m => m.name -> m.ngblooms(1)._2).toMap
    NgramFixture.write(dir, files = 1, lo = 6000, hi = 6500, mode = "append")
    spark.sql("ALTER TABLE g16m.db.t SET TBLPROPERTIES " +
      "('compactIndex.minSidecars'='1')")
    val r2 = spark.sql("CALL g16m.system.maintenance('db.t')").head()
    assert(r2.getInt(3) == 1, s"only the fresh sidecar bundles: $r2")
    val refsAfter = GraftManifest.readVersion(dir, None).get.metas
      .map(m => m.name -> m.ngblooms(1)._2).toMap
    refsBefore.foreach { case (f, ref) =>
      assert(refsAfter(f) == ref,
        s"an incremental sweep must not move $f's existing ranged ref") }
    // the policy property itself rides the COMPACT-INDEX commit, and the
    // bundled table still answers the probe exactly
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.props.get("compactIndex.minSidecars").contains("1"),
      s"properties must ride index commits: ${head.props}")
    val window = NgramFixture.inAlphabetWindow(dir)
    assert(NgramFixture.containsProbe(dir, window).collect().nonEmpty)
  }

  test("OPTIMIZE and DROP COLUMN carry externalized sidecars with their rewrite") {
    val root = tmp("graft_r16b_rw")
    spark.conf.set("spark.sql.catalog.g16w",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16w.root", root)
    val dir = s"$root/db/t"
    // sidecar-bearing table with an extra droppable column
    spark.range(0, 1000)
      .selectExpr("id", "base64(unbase64(left(base64(" +
        "concat(sha2(cast(id as string), 256), sha2(cast(id*31+1 as string), 256))" +
        "), 64))) as s", "id % 7 as extra")
      .repartition(4)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val window = NgramFixture.inAlphabetWindow(dir)
    val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    def refsLive(): Unit = {
      val head = GraftManifest.readVersion(dir, None).get
      assert(head.metas.nonEmpty)
      head.metas.foreach { m =>
        val sIdx = GraftManifest.readVersion(dir, None).get.schemaDdl
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .map(_.fieldIndex("s")).get
        val (_, pay) = m.ngblooms(sIdx)
        assert(GraftBloomSidecars.isRef(pay), s"index must survive: $pay")
        val f = new java.io.File(dir, GraftBloomSidecars.refName(pay).get)
        assert(f.isFile, s"the rewrite must move ${f.getName} with its data file")
      }
    }
    // FULL-rewrite OPTIMIZE (no max_file_bytes): carryIndexes rebuilds
    // the filters; the fresh sidecars must land in the TABLE dir, not
    // die with the rewrite's temp dir
    spark.sql("CALL g16w.system.optimize('db.t', 2)").collect()
    refsLive()
    assert(NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
      .sameElements(expect), "post-OPTIMIZE probe answers exactly")
    // DROP COLUMN keeps the SURVIVING column's index through its rewrite
    spark.sql("ALTER TABLE g16w.db.t DROP COLUMN extra")
    refsLive()
    assert(NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
      .sameElements(expect), "post-DROP-COLUMN probe answers exactly")
  }

  test("a no-write REPLACE TABLE declares its TBLPROPERTIES") {
    val root = tmp("graft_r16b_props")
    spark.conf.set("spark.sql.catalog.g16p",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16p.root", root)
    spark.sql("CREATE TABLE g16p.db.t (id BIGINT) " +
      "TBLPROPERTIES('vacuum.retain'='9')")
    spark.sql("REPLACE TABLE g16p.db.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('autoOptimize.smallFiles'='3')")
    val props = GraftManifest.readVersion(s"$root/db/t", None).get.props
    assert(props.get("autoOptimize.smallFiles").contains("3"),
      s"the replace's declared properties must land: $props")
    assert(!props.contains("vacuum.retain"),
      s"a REPLACE with new properties must not inherit the old set: $props")
  }

  test("clone links bloom sidecars and bundles; the clone's index is alive") {
    val root = tmp("graft_r16b_clone")
    spark.conf.set("spark.sql.catalog.g16c",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16c.root", root)
    val src = s"$root/db/src"
    NgramFixture.write(src, files = 4)
    // bundle TWO of the four via... full compaction bundles all; append
    // one more so the clone carries BOTH shapes (ranged + plain)
    graft.sources.GraftMaintenance.compactIndexes(src)
    NgramFixture.write(src, files = 1, lo = 7000, hi = 7500, mode = "append")
    spark.sql("CALL g16c.system.clone('db.src', 'db.dst')").collect()
    val dst = s"$root/db/dst"
    val head = GraftManifest.readVersion(dst, None).get
    head.metas.foreach { m =>
      val f = new java.io.File(dst,
        GraftBloomSidecars.refName(m.ngblooms(1)._2).get)
      assert(f.isFile, s"clone must link index file ${f.getName}")
    }
    // and the cloned index actually answers: in-alphabet probe exact
    val window = NgramFixture.inAlphabetWindow(dst)
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    assert(NgramFixture.containsProbe(dst, window).collect().nonEmpty)
    assert(GraftBloomSidecars.loads.sum() > l0,
      "the clone's probes must resolve real payloads, not degrade")
  }

  test("catalog hygiene: traversal-proof listTables, honest procedure list") {
    val root = tmp("graft_r16b_hyg")
    spark.conf.set("spark.sql.catalog.g16h",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16h.root", root)
    val cat = spark.sessionState.catalogManager.catalog("g16h")
      .asInstanceOf[graft.sources.GraftCatalog]
    intercept[IllegalArgumentException] {
      cat.listTables(Array("..")) }
    intercept[IllegalArgumentException] {
      cat.listTables(Array("db", "a/b")) }
    // every procedure loadProcedure serves is listed (round-16b review:
    // five verbs existed but were hidden from SHOW PROCEDURES)
    val all = Seq("vacuum", "restore", "optimize", "compact_index", "history",
      "tag", "drop_tag", "tags", "add_constraint", "drop_constraint",
      "constraints", "files", "partitions", "wap_publish", "wap_abort",
      "txn_publish", "clone", "set_partition_spec", "orphans", "fast_forward",
      "maintenance")
    val listed = cat.listProcedures(Array("system"))
    assert(listed.map(_.name).toSet == all.toSet)
    for (id <- listed)
      assert(cat.loadProcedure(id).name() == id.name,
        s"procedure ${id.name} must load under its own name")
    val e = intercept[UnsupportedOperationException] {
      cat.loadProcedure(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("system"), "nope")) }
    assert(e.getMessage == "graft catalog: no procedure system.nope " +
      all.mkString("(have ", ", ", ")"), e.getMessage)
  }

  test("zorder_by refuses an 11th dimension instead of wrapping bits") {
    val root = tmp("graft_r16b_zcap")
    spark.conf.set("spark.sql.catalog.g16z",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16z.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 100).selectExpr((0 until 11).map(i => s"id * $i as c$i"): _*)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val cols11 = (0 until 11).map(i => s"c$i").mkString(",")
    val e = intercept[Exception] {
      spark.sql(s"CALL g16z.system.optimize('db.t', 2, '$cols11')").collect() }
    assert(e.getMessage.contains("at most 10"), e.getMessage)
  }

  test("orphans report covers unreferenced sidecars and bundles") {
    val root = tmp("graft_r16b_orph")
    spark.conf.set("spark.sql.catalog.g16o",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16o.root", root)
    val dir = s"$root/db/t"
    NgramFixture.write(dir, files = 4)
    graft.sources.GraftMaintenance.compactIndexes(dir)
    // all referenced (v1 refs the .ngb files, v2 refs the .idb): zero orphans
    val r0 = spark.sql("CALL g16o.system.orphans('db.t', 0)").head()
    assert(r0.getLong(0) == 0L, s"referenced index files are not orphans: $r0")
    // drop v1 under an INFINITE grace: the manifest goes, its per-file
    // sidecars stay on disk unreferenced — exactly the debris the
    // report exists to surface
    GraftManifest.vacuum(dir, retainLast = 1, graceMs = Long.MaxValue)
    val r1 = spark.sql("CALL g16o.system.orphans('db.t', 0)").head()
    assert(r1.getLong(0) == 4L,
      s"the 4 replaced .ngb sidecars are debris after v1 drops: $r1")
    // plant a fake unreferenced bundle: the report counts it too
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "idx-99-0.idb"), "junk".getBytes)
    val r2 = spark.sql("CALL g16o.system.orphans('db.t', 0)").head()
    assert(r2.getLong(0) == 5L, s"an unreferenced bundle is debris: $r2")
  }
}
