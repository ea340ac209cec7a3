package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloomSidecars, GraftMaintenance}

/** Round-18 gates (VERDICT r17 next #3): the bundle-cache BYTE BUDGET
  * under concurrent eviction churn, and transient bundle-read-failure
  * healing — the 8-appender-CAS-race treatment for the 512 MB accounting
  * that commit 8e477b8 introduced.
  *
  * The policy under test (GraftBloomSidecars.bundleBytes): bytes are
  * accounted AT INSERT, then the inserter evicts OTHER bundles until the
  * budget holds. Guarantees: (a) a SINGLE inserter overshoots by at most
  * its own bundle and lands under budget before returning; (b) N
  * concurrent inserters can transiently stack at most N bundles over
  * (each pre-sweep), but every sweep runs to under-budget, so QUIESCENT
  * state is always <= budget; (c) the accounted counter equals the bytes
  * actually held — drift (a double-count on an insert race, a missed
  * decrement on an eviction race) is the bug class this spec exists to
  * catch; (d) a failed bundle read degrades that probe to keep-everything
  * (never wrong), is memoized for bundleFailTtl, and HEALS after the TTL
  * without any cache drop. */
class Round18Spec extends AnyFunSuite {
  import TestSpark._

  private def bundleFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".idb"))

  test("bundle cache: budget holds and accounting stays exact under " +
      "sequential and 8-way concurrent eviction churn") {
    val prevBudget = GraftBloomSidecars.bundleCacheBudget
    try {
      val K = 5
      val dirs = (0 until K).map(i => tmp(s"graft_r18_cache$i"))
      dirs.foreach(NgramFixture.write(_))
      dirs.foreach { d =>
        val (pays, bundles, _) = GraftMaintenance.compactIndexes(d)
        assert(pays == 8 && bundles == 1, s"fixture wants 1 bundle: $pays/$bundles")
      }
      val windows = dirs.map(NgramFixture.inAlphabetWindow)
      val expect = dirs.zip(windows).map { case (d, w) =>
        NgramFixture.containsProbe(d, w).collect().map(_.getLong(0)).sorted }
      val sizes = dirs.map(d => bundleFiles(d).map(_.length).sum)
      assert(sizes.forall(_ > 0), s"every table must hold bundle bytes: $sizes")
      val maxB = sizes.max
      // budget fits ~2 bundles of 5: every later insert must evict
      val budget = sizes.sorted.take(2).sum + maxB / 2
      GraftBloomSidecars.bundleCacheBudget = budget

      // ---- sequential phase: the single-inserter bound — after EVERY
      // probe the sweep has run, so accounted <= budget and == actual
      GraftBloomSidecars.dropCache()
      for (round <- 0 until 2; i <- dirs.indices) {
        val got = NgramFixture.containsProbe(dirs(i), windows(i)).collect()
          .map(_.getLong(0)).sorted
        assert(got.sameElements(expect(i)), s"table $i round $round answers")
        val (accounted, actual, n) = GraftBloomSidecars.bundleCacheStats()
        assert(accounted == actual,
          s"accounting drift after table $i round $round: $accounted != $actual")
        assert(accounted <= budget,
          s"single-inserter budget bound broken: $accounted > $budget ($n entries)")
      }

      // ---- concurrent phase: 8 threads x 3 passes over shuffled tables;
      // a sampler tracks the transient peak (bounded by budget + T*maxB —
      // each in-flight inserter can hold one pre-sweep bundle)
      GraftBloomSidecars.dropCache()
      val T = 8
      val peak = new java.util.concurrent.atomic.AtomicLong
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val (accounted, _, _) = GraftBloomSidecars.bundleCacheStats()
          peak.accumulateAndGet(accounted, math.max(_, _))
          Thread.sleep(1)
        }
      })
      sampler.setDaemon(true); sampler.start()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until T).map { t =>
        new Thread(() => {
          try {
            val order = new scala.util.Random(t).shuffle(dirs.indices.toList)
            for (_ <- 0 until 3; i <- order) {
              val got = NgramFixture.containsProbe(dirs(i), windows(i)).collect()
                .map(_.getLong(0)).sorted
              if (!got.sameElements(expect(i)))
                throw new AssertionError(s"thread $t table $i wrong rows")
            }
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      sampling = false; sampler.join()
      assert(errs.isEmpty, s"concurrent probes failed: ${errs.peek()}")
      val (accounted, actual, n) = GraftBloomSidecars.bundleCacheStats()
      assert(accounted == actual,
        s"accounting drift after concurrency: $accounted != $actual ($n entries)")
      assert(accounted <= budget,
        s"quiescent budget bound broken: $accounted > $budget")
      assert(peak.get() <= budget + T.toLong * maxB,
        s"transient peak ${peak.get()} exceeds budget + $T in-flight bundles " +
          s"(${budget + T.toLong * maxB}) — an inserter is not sweeping")
    } finally {
      GraftBloomSidecars.bundleCacheBudget = prevBudget
      GraftBloomSidecars.dropCache()
    }
  }

  test("a DV-only changed file spends ONE nprobe slot in a routed change feed") {
    // round-18 review: a DV-only change renders in the CDF as TWO tagged
    // states of one file sharing one centroid — before the distinctBy fix
    // both states entered the nprobe ranking and the next-nearest changed
    // file silently dropped from the routed feed
    val root = tmp("graft_r18_cdf")
    spark.conf.set("spark.sql.catalog.g18",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g18.root", root)
    val dir = s"$root/db/t"
    def slice(lo: Int, hi: Int, x: Double, y: Double) =
      spark.range(lo, hi).selectExpr("id",
        s"array(cast($x as float), cast($y as float)) as v").coalesce(1)
    slice(0, 100, 1.0, 0.05).write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("overwrite").save() // v1: file A
    slice(100, 200, 0.05, 1.0).write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("append").save() // v2: file B
    spark.sql("DELETE FROM g18.db.t WHERE id = 5") // v3: DV on file A only
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2 && head.metas.count(_.dv.isDefined) == 1,
      s"fixture: want 2 files, 1 DV, got ${head.metas.map(m => (m.name, m.dv))}")
    // feed (1 -> head]: file A as remove-of-old + add-of-new (same name,
    // same centroid) + file B added. The probe is nearest A; nprobe=2
    // must still cover BOTH distinct files.
    val rows = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "1")
      .option("annProbe", "1.0,0.0").option("annNprobe", "2")
      .option("annCol", "v").load()
      .select(col("_change_type"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.contains(("insert", 150L)),
      "file B dropped from the routed feed: the DV'd file ate both nprobe slots")
    assert(rows.count(_ == (("delete", 5L))) == 1 && !rows.contains(("insert", 5L)),
      "the DV'd row must net to a delete")
    assert(rows.count(_._2 == 7L) == 2,
      "an unchanged file-A row renders as delete-of-old + insert-of-new")
    assert(rows.length == 100 + 99 + 100,
      s"feed must hold A-delete(100) + A-insert(99) + B-insert(100): ${rows.length}")
  }

  test("bundle cache: a transient read failure degrades once and heals " +
      "after the TTL without a cache drop") {
    val prevTtl = GraftBloomSidecars.bundleFailTtl
    GraftBloomSidecars.bundleFailTtl = 100L * 1000 * 1000 // 100 ms
    try {
      val dir = tmp("graft_r18_heal")
      NgramFixture.write(dir)
      val (pays, bundles, _) = GraftMaintenance.compactIndexes(dir)
      assert(pays == 8 && bundles == 1)
      val window = NgramFixture.inAlphabetWindow(dir)
      val expect = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
      val idb = bundleFiles(dir).head
      val away = new java.io.File(idb.getPath + ".away")

      // fail: the bundle vanishes (a vacuum race) — the probe DEGRADES to
      // keep-everything (same rows) and memoizes the failure
      assert(idb.renameTo(away), "fixture: could not move the bundle away")
      GraftBloomSidecars.dropCache()
      val got1 = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
      assert(got1.sameElements(expect), "a failed bundle read must never be wrong")
      val (_, actualFailed, _) = GraftBloomSidecars.bundleCacheStats()
      assert(actualFailed == 0L, "a failed read must not populate the cache")

      // heal: bytes return, the TTL lapses, the NEXT probe re-reads the
      // bundle and repopulates the cache — no dropCache in between
      assert(away.renameTo(idb), "fixture: could not restore the bundle")
      Thread.sleep(200)
      val got2 = NgramFixture.containsProbe(dir, window).collect().map(_.getLong(0)).sorted
      assert(got2.sameElements(expect), "the healed probe answers identically")
      val (accounted, actual, nAfter) = GraftBloomSidecars.bundleCacheStats()
      assert(nAfter >= 1 && actual > 0L && accounted == actual,
        s"the healed probe must repopulate the bundle cache: " +
          s"($accounted, $actual, $nAfter)")
    } finally {
      GraftBloomSidecars.bundleFailTtl = prevTtl
      GraftBloomSidecars.dropCache()
    }
  }

  // ------------------------------------------------- round-18 key additions

  test("graph_bfs_hops equals a driver-side reference BFS at sf0.001") {
    val got = SparkEntry.queries("graph_bfs_hops")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    // independent reference: same synthetic graph, textbook queue BFS
    val ids = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val n = ids.length.toLong
    val adj = ids.map { i =>
      i -> (1L to (1 + i % 3)).map(j => (i * 31 + j * 7919) % n)
    }.toMap
    val dist = scala.collection.mutable.Map[Long, Int]()
    var frontier = ids.filter(_ % 97 == 0).toSet
    assert(frontier.nonEmpty, "fixture must seed at least one source")
    frontier.foreach(dist(_) = 0)
    for (h <- 1 to 4) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- dist.keySet
      frontier.foreach(dist(_) = h)
    }
    assert(got.sorted == dist.toSeq.sorted,
      s"BFS disagrees: spark=${got.size} rows, reference=${dist.size}")
    // minimality sanity independent of the reference: some node must sit
    // at every populated hop level up to the deepest one reached
    val levels = got.map(_._2).distinct.sorted
    assert(levels == (0 to levels.max).toSeq, s"hop levels not contiguous: $levels")
  }

  test("stats_linreg_group matches exact BigInt OLS at sf0.001") {
    val got = SparkEntry.queries("stats_linreg_group")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent reference: per-group sufficient statistics in BigInt,
    // same cents quantization (double -> decimal(12,2) is HALF_UP, the
    // Cast semantics the dec() helper relies on everywhere)
    def cents(d: Double): BigInt = BigInt(
      new java.math.BigDecimal(d)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).toBigIntegerExact)
    val rows = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), cents(r.getDouble(1)), cents(r.getDouble(2))))
    def roundDiv(a: BigInt, b: BigInt): BigInt = { // sign * floor on |.|
      val q = (a.abs + b / 2) / b
      if (a < 0) -q else q
    }
    val want = rows.groupBy(_._1).map { case (flag, g) =>
      val n = BigInt(g.length)
      val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
      val sxy = g.map(t => t._2 * t._3).sum
      val sxx = g.map(t => t._2 * t._2).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val slope = roundDiv(num * 1000000, den)
      val icept = roundDiv(sy * 1000000 - slope * sx, n * 1000000)
      (flag, n.toLong, slope.toLong, icept.toLong)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq.sortBy(_._1) == want,
      s"OLS disagrees:\n got=${got.mkString(", ")}\nwant=${want.mkString(", ")}")
  }
}
