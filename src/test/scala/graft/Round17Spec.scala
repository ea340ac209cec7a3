package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloomSidecars, GraftManifest}

/** Round-17 gate: PROBE-TRIGGERED index compaction (VERDICT r16 next #2 —
  * retiring the "cold contains-probe on an UNCOMPACTED table" residual).
  * A contains probe whose skip pass pays >= the table's
  * `compactIndex.autoProbeLoads` per-file sidecar fetches arms ONE
  * incremental bundle sweep, so the first big cold probe is the LAST one
  * that pays O(candidate files) round trips. Under the threshold — and
  * at `0` — the read path never commits anything. */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  test("auto-compaction: a small table never churns versions from a probe") {
    val dir = tmp("graft_r17_small")
    NgramFixture.write(dir, files = 4)
    val window = NgramFixture.inAlphabetWindow(dir)
    GraftBloomSidecars.dropCache()
    NgramFixture.containsProbe(dir, window).collect()
    NgramFixture.containsProbe(dir, window).collect()
    assert(GraftManifest.versions(dir).size == 1,
      "4 sidecar fetches sit under the 64-load default threshold: the " +
        "read path must not have committed anything")
    assert(GraftManifest.readVersion(dir, None).get.metas.forall(m =>
      GraftBloomSidecars.splitRef(m.ngblooms(1)._2.drop(1))._2.isEmpty),
      "refs must still be per-file (no sweep ran)")
  }

  test("auto-compaction: past the table's threshold the first cold probe " +
      "is the last per-file one") {
    val root = tmp("graft_r17_auto")
    spark.conf.set("spark.sql.catalog.g17a",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g17a.root", root)
    val dir = s"$root/db/t"
    NgramFixture.write(dir, files = 8)
    spark.sql("ALTER TABLE g17a.db.t SET TBLPROPERTIES " +
      "('compactIndex.autoProbeLoads'='4')")
    val window = NgramFixture.inAlphabetWindow(dir)
    val vsBefore = GraftManifest.versions(dir).size

    // FIRST cold probe: pays one fetch per candidate file AND arms the
    // sweep — a COMPACT-INDEX version lands synchronously
    GraftBloomSidecars.dropCache()
    val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    assert(expect.nonEmpty, "fixture: the in-alphabet window must match")
    val vs = GraftManifest.versions(dir)
    assert(vs.size == vsBefore + 1,
      s"the triggering probe must land exactly one sweep commit: $vs")
    assert(GraftManifest.headerFacts(dir, vs.max).op.contains("COMPACT-INDEX"))
    assert(GraftManifest.readVersion(dir, None).get.metas.forall(m =>
      GraftBloomSidecars.splitRef(m.ngblooms(1)._2.drop(1))._2.isDefined),
      "every ref must now be a RANGED bundle ref")

    // SECOND cold probe: O(bundles) loads, same rows, no further commit
    GraftBloomSidecars.dropCache()
    val l0 = GraftBloomSidecars.loads.sum()
    val got = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
    val bundledLoads = GraftBloomSidecars.loads.sum() - l0
    assert(got.sameElements(expect), "the bundled probe answers identically")
    assert(bundledLoads >= 1 && bundledLoads < 8,
      s"the second cold probe must pay O(bundles), not O(files): $bundledLoads")
    assert(GraftManifest.versions(dir).size == vsBefore + 1,
      "the sweep must not re-trigger once everything is bundled")

    // a LATER fresh-ingest wave re-opens the trigger (second-pass review:
    // neither the in-flight guard nor the per-version zero-pending memo
    // may pin the table out) — an append lands FOUR new per-file
    // sidecars, so the next big cold probe pays 1 bundle + 4 sidecar
    // loads >= the threshold and bundles exactly the fresh refs
    NgramFixture.write(dir, files = 4, lo = 2000, hi = 3000, mode = "append")
    val vsAfterAppend = GraftManifest.versions(dir).size
    GraftBloomSidecars.dropCache()
    NgramFixture.containsProbe(dir, window).collect()
    val vsFinal = GraftManifest.versions(dir)
    assert(vsFinal.size == vsAfterAppend + 1,
      s"a post-ingest big probe must land one more sweep: $vsFinal")
    assert(GraftManifest.headerFacts(dir, vsFinal.max).op
      .contains("COMPACT-INDEX"))
    assert(GraftManifest.readVersion(dir, None).get.metas.forall(m =>
      GraftBloomSidecars.splitRef(m.ngblooms(1)._2.drop(1))._2.isDefined),
      "the fresh file's ref must be bundled too")
  }

  test("ngram saturation beyond one step names the width OPTIMIZE lands") {
    // de Bruijn B(2,6) over {a,b}: every 6-window occurs (64 distinct —
    // saturates the w=6 auto-widened candidate) and every 4-window too
    // (16 — saturates the configured w=4), but the linear string holds
    // only ~69 distinct 8-windows — far under BOTH the 0.5·2^8 occupancy
    // gate and fill viability. w=8 is the width the marker must name and
    // the rebuild must land.
    def deBruijn26: String = { // FKM Lyndon-word concatenation, k=2 n=6
      val n = 6
      val sb = new StringBuilder
      def gen(t: Int, p: Int, a: Array[Int]): Unit =
        if (t > n) {
          if (n % p == 0)
            (1 to p).foreach(j => sb.append(if (a(j) == 0) 'a' else 'b'))
        } else {
          a(t) = a(t - p); gen(t + 1, p, a)
          var j = a(t - p) + 1
          while (j < 2) { a(t) = j; gen(t + 1, t, a); j += 1 }
        }
      gen(1, 1, new Array[Int](n + 1))
      val s = sb.toString
      s + s.take(n - 1) // linearize: keep the cyclic wrap windows
    }
    val root = tmp("graft_r17_widen")
    spark.conf.set("spark.sql.catalog.g17w",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g17w.root", root)
    val dir = s"$root/db/t"
    val cell = deBruijn26
    assert(cell.length == 69 && !cell.contains("aaaaaaa"),
      s"fixture: B(2,6)+wrap is 69 chars with no 7-run: $cell")
    spark.range(0, 64).selectExpr("id", s"'$cell' as s")
      .repartition(2)
      .write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "s:4")
      .option("distributionMode", "none").mode("overwrite").save()
    val metas1 = GraftManifest.readVersion(dir, None).get.metas
    assert(metas1.nonEmpty && metas1.forall(_.ngblooms(1)._2 == "!sat:w8"),
      s"both tracked widths saturate; the marker must name w=8: " +
        metas1.map(_.ngblooms(1)).mkString(", "))
    assert(metas1.forall(m => GraftBloomSidecars.isSaturated(m.ngblooms(1)._2)),
      "the suggested-width marker is still a saturated (keep, no decode) form")
    // OPTIMIZE lands the suggested width as a REAL pruning fact
    spark.sql("CALL g17w.system.optimize('db.t', 1)").collect()
    val metas2 = GraftManifest.readVersion(dir, None).get.metas
    assert(metas2.size == 1 && metas2.head.ngblooms(1)._1 == 8,
      s"the rebuild must use the suggested width: ${metas2.map(_.ngblooms(1)._1)}")
    assert(!GraftBloomSidecars.isSaturated(metas2.head.ngblooms(1)._2),
      "at w=8 the fact is a real filter, not a marker")
    // ...and it prunes: the string's longest 'a'-run is 6, so an 8-'a'
    // probe window is provably absent from the only file
    val pruned = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s").contains("aaaaaaaa"))
    assert(pruned.rdd.getNumPartitions == 0,
      "a probe with an absent 8-window must plan zero files")
    assert(pruned.count() == 0L)
  }

  test("ANN routing composes with a batch change feed: routed, exact") {
    // two one-hot cells, one file each (per-file #centroid facts); a
    // DELETE touches BOTH cells, then a routed changesFrom read with
    // nprobe=1 must return EXACTLY the probed cell's change rows —
    // including the remove-side ('delete' tags) of the DV change, which
    // the pre-round-17 refusal ground said routing would drop
    val root = tmp("graft_r17_cdfann")
    spark.conf.set("spark.sql.catalog.g17c",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g17c.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 400).selectExpr("id",
        "transform(sequence(0, 7), d -> cast(if(id % 2 = d, " +
          "1.0, 0.0) as float)) as ce",
        "id % 2 as cell")
      .repartition(col("cell"))
      .write.format("graft-sink").option("path", dir)
      .option("partitionBy", "cell").option("centroidFor", "ce")
      .mode("overwrite").save()
    val v1 = GraftManifest.readVersion(dir, None).get
    assert(v1.metas.size == 2 && v1.metas.forall(_.centroids.contains(1)),
      "fixture: one centroid-bearing file per cell")
    spark.sql("DELETE FROM g17c.db.t WHERE id < 20") // ids 0..19, both cells
    def probe(cellDim: Int): Array[Double] =
      (0 until 8).map(d => if (d == cellDim) 1.0 else 0.0).toArray
    def cdf(ann: Option[Int]) = {
      val r = spark.read.format("graft-sink").option("path", dir)
        .option("changesFrom", "1")
      ann.fold(r)(c => r.option("annProbe", probe(c).mkString(","))
        .option("annNprobe", "1").option("annCol", "ce")).load()
        .select(col("id"), col("_change_type"))
    }
    val full = cdf(None).collect().map(r => (r.getLong(0), r.getString(1)))
    // file-granular DV change: delete x old live rows + insert x new live
    val expectCell0 = full.filter(_._1 % 2 == 0).sorted
    assert(expectCell0.count(_._2 == "delete") == 200 &&
      expectCell0.count(_._2 == "insert") == 190,
      s"fixture: cell-0 feed is 200 deletes + 190 inserts")
    val routed = cdf(Some(0)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(routed.sameElements(expectCell0),
      "the routed feed must be EXACTLY the probed cell's change rows — " +
        "both tags, remove-side included")
    // routing prunes the plan, not just the rows: one cell's splits
    assert(cdf(Some(0)).rdd.getNumPartitions < cdf(None).rdd.getNumPartitions,
      "the routed feed must plan fewer splits than the full feed")
  }

  test("topKPerKey: UTF8_LCASE keys form collation-correct runs") {
    // 'apple'/'APPLE'/'Apple' are ONE key under UTF8_LCASE — the
    // round-16b guard refused this shape; round 17 normalizes through
    // CollationKey so the byte-run detector sees one run per
    // collation-equal class (window-function parity, not byte parity)
    import spark.implicits._
    val df = Seq(
      ("apple", 3L), ("APPLE", 1L), ("Apple", 2L),
      ("pear", 5L), ("PEAR", 4L))
      .toDF("k0", "v")
      .selectExpr("collate(k0, 'UTF8_LCASE') as key", "v")
    val got = api.Graft.topKPerKey(df, Seq("key"), Seq(("v", false)), 1)
      .selectExpr("lower(key) as key", "v").as[(String, Long)]
      .collect().sorted
    assert(got.sameElements(Array(("apple", 1L), ("pear", 4L))),
      s"one winner per collation-equal class: ${got.mkString(", ")}")
    // window-function oracle on the same frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("v").asc)
    val oracle = df.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).selectExpr("lower(key) as key", "v")
      .as[(String, Long)].collect().sorted
    assert(got.sameElements(oracle), "must match Spark's own collated window")
  }

  test("auto-compaction: autoProbeLoads=0 disables the trigger") {
    val root = tmp("graft_r17_off")
    spark.conf.set("spark.sql.catalog.g17o",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g17o.root", root)
    val dir = s"$root/db/t"
    NgramFixture.write(dir, files = 8)
    spark.sql("ALTER TABLE g17o.db.t SET TBLPROPERTIES " +
      "('compactIndex.autoProbeLoads'='0')")
    val window = NgramFixture.inAlphabetWindow(dir)
    val vsBefore = GraftManifest.versions(dir).size
    GraftBloomSidecars.dropCache()
    NgramFixture.containsProbe(dir, window).collect()
    assert(GraftManifest.versions(dir).size == vsBefore,
      "a 0 threshold must disable the probe trigger entirely")
  }
}
