package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftFileMeta, GraftManifest, GraftSinkScan, GraftSinkWriter}

/** Round-13 gate for the `#bstats` truncated-bound design (VERDICT r12
  * next #1: the feature landed ungated and broke the round; these are the
  * tests that were missing). Covers: the min/max aggregate-pushdown bail
  * on bound columns (the CONFIRMED wrong-answer path), surrogate-safe
  * truncation/increment (ADVICE r12 medium), the code-point stats order
  * that makes pruning agree with Spark's own string comparisons, and the
  * manifest carry of the `bounds` flag across re-commits and OPTIMIZE. */
class Round13Spec extends AnyFunSuite {
  import TestSpark._

  private val Prose = "x" * 100 // past ExactStatMaxLen → bound envelope

  test("upperBound/lowerBound: width, increment, Char.MaxValue and surrogate edges") {
    // plain ASCII: 32-char prefix, last unit incremented
    assert(GraftSinkWriter.upperBound("y" * 80).contains("y" * 31 + "z"))
    assert(GraftSinkWriter.lowerBound("x" * 100) == "x" * 32)
    // shorter than the width: still a strict successor
    assert(GraftSinkWriter.upperBound("ab").contains("ac"))
    // U+FFFF is NOT the carry point in code-point order: its successor is
    // the first supplementary code point (sorts above it under cmpStats)
    val uFFFF = GraftSinkWriter.upperBound("a￿").get
    assert(GraftSinkScan.cmpStats(StringType, "a￿", uFFFF) < 0)
    assert(uFFFF == "a𐀀")
    // increment landing in the surrogate gap skips to U+E000
    assert(GraftSinkWriter.upperBound("a퟿").contains("a"))
    // every prefix code point at U+10FFFF: no successor at this width
    assert(GraftSinkWriter.upperBound("􏿿" * 20).isEmpty)
    // carry: trailing U+10FFFF drops, the previous code point increments
    assert(GraftSinkWriter.upperBound("b􏿿" * 11).contains("b􏿿b􏿿b􏿿b􏿿b􏿿b􏿿b􏿿b􏿿b􏿿b􏿿c"))
  }

  test("upperBound/lowerBound never split a surrogate pair (ADVICE r12: emoji at 31/32)") {
    // high surrogate at unit index 31: a naive substring(0,32) splits the
    // pair; the lone surrogate becomes '?' under the manifest's UTF-8
    // write, silently corrupting the persisted bound
    val atBoundary = "x" * 31 + "😀" + "tail" // 😀 spans units 31-32
    assert(GraftSinkWriter.lowerBound(atBoundary) == "x" * 31)
    assert(GraftSinkWriter.upperBound(atBoundary).contains("x" * 30 + "y"))
    // pair fully inside the window: kept, and incremented as ONE code point
    val inside = "x" * 30 + "😀" + "tail" // 😀 spans units 30-31
    assert(GraftSinkWriter.lowerBound(inside) == "x" * 30 + "😀")
    assert(GraftSinkWriter.upperBound(inside).contains("x" * 30 + "😁"))
    // both results are UTF-8-clean: encode/decode is identity (no '?')
    for (s <- Seq(GraftSinkWriter.lowerBound(atBoundary),
        GraftSinkWriter.upperBound(inside).get)) {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) == s)
    }
  }

  test("cmpStats string order is code-point order — the order Spark compares in") {
    // UTF-16 unit order puts 😀 (units D83D DE00) BELOW U+FFFF; Spark's
    // UTF8String binary order puts it above. Stats must agree with Spark.
    assert(GraftSinkScan.cmpStats(StringType, "￿", "😀") < 0)
    assert(GraftSinkScan.cmpStats(StringType, "a", "a😀") < 0)
    assert(GraftSinkScan.cmpStats(StringType, "a", "ab") < 0)
    assert(GraftSinkScan.cmpStats(StringType, "b", "ab") > 0)
    // end-to-end: a file whose ONLY row is supplementary must survive a
    // range probe that is true under Spark's order (under unit order the
    // file's max sorts below the probe value and gets wrongly pruned)
    val dir = tmp("graft_r13_cp")
    import spark.implicits._
    Seq((1L, "😀")).toDF("id", "s").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val got = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("s") > lit("￿")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L),
      "supplementary-char row must not be pruned by a BMP range probe")
  }

  test("min/max aggregate pushdown bails on bound columns — never answers from a prefix") {
    val dir = tmp("graft_r13_agg")
    import spark.implicits._
    val rows = Seq((1L, "alpha " + Prose), (2L, "zeta " + Prose))
    rows.toDF("id", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    assert(m.bounds(1) && m.stats.contains(1), "fixture must land a bound envelope")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    // a bound column in the agg list forces a REAL scan...
    val agg = t.agg(min(col("prose")).as("lo"), max(col("prose")).as("hi"))
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"min/max over a bound column must scan:\n${agg.queryExecution.executedPlan}")
    // ...and the answer is the true extreme, not the 32-char prefix
    val r = agg.head()
    assert(r.getString(0) == "alpha " + Prose && r.getString(1) == "zeta " + Prose)
    // mixed with an exact column: the whole pushdown bails (honest fallback)
    val mixed = t.agg(min(col("id")), max(col("prose")))
    assert(!mixed.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(mixed.head() == org.apache.spark.sql.Row(1L, "zeta " + Prose))
    // exact columns alone still answer from the manifest
    val exact = t.agg(min(col("id")), max(col("id")))
    assert(exact.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "exact-stat columns must keep the manifest answer path")
    assert(exact.head() == org.apache.spark.sql.Row(1L, 2L))
    // unit level: exactStats is the one accessor exact consumers may use
    assert(m.exactStats(1).isEmpty && m.exactStats(0) == m.stats.get(0))
  }

  test("#bstats roundtrips the manifest, survives re-commits and OPTIMIZE, emoji-clean") {
    import graft.sources.GraftManifest
    val root = tmp("graft_r13_rt")
    spark.conf.set("spark.sql.catalog.g13", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    // emoji at the truncation boundary: the bound write path must stay
    // code-point-safe all the way through the UTF-8 manifest file
    val v1max = "x" * 31 + "😀" + Prose
    Seq((1L, "aaa " + Prose), (2L, v1max)).toDF("id", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    def head() = GraftManifest.readVersion(dir, None).get
    val m1 = head().metas.head
    assert(m1.bounds == Set(1))
    val (lo1, hi1) = m1.stats(1)
    // parsed-back values equal the writer's computed bounds byte-for-byte
    assert(lo1 == GraftSinkWriter.lowerBound("aaa " + Prose))
    assert(hi1 == GraftSinkWriter.upperBound(v1max).get)
    // ...and the envelope genuinely contains the data
    assert(GraftSinkScan.cmpStats(StringType, lo1, "aaa " + Prose) <= 0)
    assert(GraftSinkScan.cmpStats(StringType, v1max, hi1) < 0)
    // a second commit re-renders the retained file's meta lines: the
    // bounds flag must ride the parse→render cycle, not just the writer
    Seq((3L, "mmm " + Prose)).toDF("id", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    val v2 = head()
    assert(v2.metas.size == 2 && v2.metas.forall(m => m.bounds == Set(1)),
      s"bounds flag must survive the append re-render: ${v2.metas.map(_.bounds)}")
    // OPTIMIZE rewrites through the writer: the compacted file recomputes
    // its envelope and stays bound-flagged
    spark.sql("CALL g13.system.optimize('db.t', 1)").collect()
    val v3 = head()
    assert(v3.metas.size == 1 && v3.metas.head.bounds == Set(1),
      s"OPTIMIZE must re-land a bound envelope: ${v3.metas}")
    assert(GraftSinkScan.cmpStats(StringType, v3.metas.head.stats(1)._1, "aaa " + Prose) <= 0)
    assert(GraftSinkScan.cmpStats(StringType, v1max, v3.metas.head.stats(1)._2) < 0)
    // zero-copy clone: the cloned manifest keeps the flag too
    spark.sql("CALL g13.system.clone('db.t', 'db.t2')").collect()
    val cl = GraftManifest.readVersion(s"$root/db/t2", None).get
    assert(cl.metas.forall(_.bounds == Set(1)), s"clone must carry #bstats: ${cl.metas}")
    // and the data still reads back exactly (emoji intact)
    val back = spark.read.format("graft-sink").option("path", s"$root/db/t2").load()
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(back == Seq("aaa " + Prose, v1max, "mmm " + Prose))
  }

  test("bound envelopes PRUNE: text range probe plans only overlapping files") {
    val dir = tmp("graft_r13_prune")
    import spark.implicits._
    // two disjoint prose clusters, one file each
    Seq((1L, "apple " + Prose), (2L, "banana " + Prose)).toDF("id", "prose")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    Seq((3L, "melon " + Prose), (4L, "peach " + Prose)).toDF("id", "prose")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val probed = t.where(col("prose") >= "m" && col("prose") < "q")
    assert(probed.rdd.getNumPartitions == 1,
      "the a-b file's bound envelope must prune it from an m-q probe")
    assert(probed.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // control: a probe inside both envelopes plans both files
    val wide = t.where(col("prose") >= "a")
    assert(wide.rdd.getNumPartitions == 2)
    assert(wide.count() == 4)
  }

  test("sortspec compaction absorbs over #bstats bound envelopes soundly (r12 stretch)") {
    import graft.sources.GraftManifest
    val root = tmp("graft_r13_sortb")
    spark.conf.set("spark.sql.catalog.gsb", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsb.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    // declared sort on a >64-char prose column: every sort-key envelope in
    // the manifest is a BOUND, and the incremental binpack's overlap
    // absorption reads exactly those envelopes — widened bounds only
    // absorb MORE retained files (sound), never fewer
    def prose(tag: String, n: Int) =
      (0 until n).map(i => (f"$tag$i%03d " + "x" * 100, i.toLong))
        .toDF("body", "n")
    prose("m", 400).write.format("graft-sink").option("path", dir)
      .option("sortBy", "body").option("writePartitions", "4")
      .option("distributionStrict", "true").mode("overwrite").save()
    prose("a", 40).coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    prose("z", 40).coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    val before = GraftManifest.readVersion(dir, None).get
    assert(before.sortSpec.contains("body") &&
      before.metas.forall(_.bounds(0)),
      s"fixture: sorted prose layout with bound envelopes: ${before.metas.map(_.bounds)}")
    spark.sql("CALL gsb.system.optimize('db.t', 4)").collect()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("body"), "declared sort must survive OPTIMIZE")
    assert(head.metas.forall(_.bounds(0)),
      s"compacted files must re-land BOUND envelopes: ${head.metas.map(_.bounds)}")
    // the range layout stays disjoint in the pinned stats order: bounds
    // may touch (upper is exclusive) but must never interleave
    val envs = head.metas.map(_.stats(0)).sortBy(_._1)
    assert(envs.sliding(2).forall {
      case Seq((_, aHi), (bLo, _)) =>
        graft.sources.GraftSinkScan.cmpStats(StringType, aHi, bLo) <= 0
      case _ => true
    }, s"OPTIMIZE must keep prose envelopes disjoint: $envs")
    // data intact, and a prose range probe still prunes
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 480)
    val probe = t.where(col("body") >= "z")
    assert(probe.rdd.getNumPartitions < head.metas.size,
      "a prose range probe must prune compacted files via bounds")
    assert(probe.count() == 40)
  }

  test("runtime file pruning on the sorted leading key (DPP over envelopes)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmp("graft_r13_dppsort")
    import spark.implicits._
    spark.range(0, 8000).toDF("k").select(col("k"), (col("k") % 97).as("v"))
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "k").option("writePartitions", "8")
      .option("distributionStrict", "true").mode("overwrite").save()
    graft.util.Confs.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val fact = spark.read.format("graft-sink").option("path", dir).load()
      // the dim's keys are only knowable at RUNTIME (the tag filter blocks
      // constant folding) — static pushdown cannot see them
      val dim = spark.range(0, 8000).toDF("k")
        .withColumn("tag", concat(lit("x"), col("k")))
        .where(col("tag") === "x42").select(col("k"))
      val j = fact.join(broadcast(dim), Seq("k"))
      assert(j.collect().map(_.getLong(0)).toSeq == Seq(42L))
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
      assert(scans.size == 1 && scans.head.runtimeFilters.nonEmpty,
        "a runtime filter must be planned on the sorted fact scan")
      assert(scans.head.inputRDD.getNumPartitions == 1,
        s"the dim's one key must prune to its one envelope file, " +
          s"got ${scans.head.inputRDD.getNumPartitions} of 8")
    }
  }

  test("compound sortBy: conformance, prefix ordering report, OPTIMIZE carry") {
    import graft.sources.GraftManifest
    val root = tmp("graft_r13_ms")
    spark.conf.set("spark.sql.catalog.gms", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gms.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    def batch(r: Range) = r.map(i => (s"g${i % 3}", i.toLong, i * 2L))
      .toDF("g", "k", "v")
    batch(0 until 900).write.format("graft-sink").option("path", dir)
      .option("sortBy", "g,k").option("writePartitions", "3")
      .option("distributionStrict", "true").mode("overwrite").save()
    assert(GraftManifest.readVersion(dir, None).get.sortSpec.contains("g,k"))
    // an optionless APPEND conforms to the declared COMPOUND layout
    batch(900 until 1200).write.format("graft-sink").option("path", dir)
      .mode("append").save()
    val v2 = GraftManifest.readVersion(dir, None).get
    assert(v2.sortSpec.contains("g,k"), "append must not clear the compound spec")
    val t = () => spark.read.format("graft-sink").option("path", dir).load()
    // ordering report: a per-partition sort on the declared PREFIX is
    // elided; a sort on the non-prefix column alone is kept
    val elided = t().sortWithinPartitions("g", "k")
    assert(!elided.queryExecution.executedPlan.toString.contains("Sort "),
      s"per-partition (g,k) sort must be elided:\n${elided.queryExecution.executedPlan}")
    val kept = t().sortWithinPartitions("k")
    assert(kept.queryExecution.executedPlan.toString.contains("Sort "),
      "a non-prefix sort must be kept")
    // OPTIMIZE preserves the compound layout and its pruning
    spark.sql("CALL gms.system.optimize('db.t', 3)").collect()
    val v3 = GraftManifest.readVersion(dir, None).get
    assert(v3.sortSpec.contains("g,k") && v3.metas.size == 3,
      s"OPTIMIZE must re-land 3 compound-sorted files: ${v3.metas.size} ${v3.sortSpec}")
    val probe = t().where(col("g") === "g0")
    assert(probe.rdd.getNumPartitions < 3,
      "leading-key probe must prune the recompacted layout")
    assert(probe.count() === 400)
    // compound probe: a pure-g0 mid-segment file has a narrow k envelope
    val narrow = t().where(col("g") === "g0" && col("k") <= 30L)
    assert(narrow.collect().map(_.getLong(1)).sorted.toSeq ==
      (0L to 30L by 3L).toSeq)
  }

  test("OPTIMIZE ZORDER quantile curve prunes probes on RAW wide-domain columns") {
    import graft.sources.GraftManifest
    val root = tmp("graft_r13_zq")
    spark.conf.set("spark.sql.catalog.gzq", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gzq.root", root)
    val dir = s"$root/db/t"
    // raw wide domains: a spans 0..40k, b is a scrambled 0..1M domain —
    // the old pmod(col, 256) curve had NO locality in these raw values,
    // so the rewrite tightened nothing a caller would probe
    spark.range(0, 4000).toDF("id")
      .select((col("id") * 10).as("a"),
        pmod(col("id") * 2654435761L, lit(1000003L)).as("b"))
      .repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val t = () => spark.read.format("graft-sink").option("path", dir).load()
    // control: round-robin layout prunes neither dimension
    assert(t().where(col("a") <= 4000).rdd.getNumPartitions == 4)
    spark.sql("CALL gzq.system.optimize('db.t', 4, 'a,b')").collect()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 4, s"want 4 z-ordered files: ${head.metas.size}")
    // bottom-decile probes on EITHER raw column now plan a strict subset
    val pa = t().where(col("a") <= 4000).rdd.getNumPartitions
    val pb = t().where(col("b") <= 100000).rdd.getNumPartitions
    assert(pa < 4 && pb < 4,
      s"quantile z-order must prune raw probes on both dims: a=$pa b=$pb of 4")
    // and the rewrite is lossless
    assert(t().count() == 4000)
    assert(t().agg(sum(col("a"))).head().getLong(0) == (0L until 4000L).map(_ * 10).sum)
    // the curve layout is DECLARED: plain maintenance re-z-orders instead
    // of hash-scattering the clustering away
    assert(head.sortSpec.contains("zorder(a,b)"),
      s"z rewrite must declare its layout: ${head.sortSpec}")
    spark.sql("CALL gzq.system.optimize('db.t', 4)").collect()
    val h2 = GraftManifest.readVersion(dir, None).get
    assert(h2.sortSpec.contains("zorder(a,b)"),
      s"plain OPTIMIZE must keep the curve declaration: ${h2.sortSpec}")
    val pa2 = t().where(col("a") <= 4000).rdd.getNumPartitions
    val pb2 = t().where(col("b") <= 100000).rdd.getNumPartitions
    assert(pa2 < 4 && pb2 < 4,
      s"plain OPTIMIZE must preserve 2-D pruning: a=$pa2 b=$pb2 of 4")
    assert(t().count() == 4000)
    // the curve spec is NOT a per-column order: nothing reported/inherited
    assert(graft.sources.GraftManifest.sortCols("zorder(a,b)").isEmpty)
    val sorted = t().sortWithinPartitions("a")
    assert(sorted.queryExecution.executedPlan.toString.contains("Sort "),
      "a z-ordered table must not claim per-column ordering")
    // a bogus zorder column fails loudly with the schema in the message
    val err = intercept[IllegalArgumentException] {
      spark.sql("CALL gzq.system.optimize('db.t', 4, 'a,nope')").collect()
    }
    assert(err.getMessage.contains("nope"), err.getMessage)
    // INCREMENTAL binpack on the curve table: an append dirties the
    // clustering; folding the small files re-z-orders the victims
    // instead of hash-mixing them, and the declaration survives
    spark.range(4000, 4400).toDF("id")
      .select((col("id") * 10).as("a"),
        pmod(col("id") * 2654435761L, lit(1000003L)).as("b"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    spark.sql("CALL gzq.system.optimize('db.t', 4, '', 1000000000)").collect()
    val h3 = GraftManifest.readVersion(dir, None).get
    assert(h3.sortSpec.contains("zorder(a,b)"),
      s"binpack must keep the curve declaration: ${h3.sortSpec}")
    assert(h3.metas.size == 4, s"binpack target: ${h3.metas.size}")
    val pa3 = t().where(col("a") <= 4000).rdd.getNumPartitions
    val pb3 = t().where(col("b") <= 100000).rdd.getNumPartitions
    assert(pa3 < 4 && pb3 < 4,
      s"re-z-ordered victims must keep 2-D pruning: a=$pa3 b=$pb3 of 4")
    assert(t().count() == 4400)
  }

  test("eqdel/eqSel probing decodes through VectorRows (VERDICT r12 #4)") {
    val dir = tmp("graft_r13_eqvec")
    import spark.implicits._
    // typed key columns: long id + a decimal the canonical-cell form must
    // render identically to the write-side hash (the eqdel probe contract)
    Seq((1L, BigDecimal("1.50"), "a"), (2L, BigDecimal("2.25"), "b"),
        (3L, BigDecimal("3.75"), "c"))
      .toDF("id", "amt", "v")
      .select(col("id"), col("amt").cast("decimal(10,2)").as("amt"), col("v"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    Seq((2L, BigDecimal("2.25"), "B2"), (4L, BigDecimal("4.00"), "d"))
      .toDF("id", "amt", "v")
      .select(col("id"), col("amt").cast("decimal(10,2)").as("amt"), col("v"))
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "id").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.eqDels.nonEmpty, "fixture must carry pending equality deletes")
    val got = spark.read.format("graft-sink").option("path", dir).load()
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")),
      "equality deletes must still apply on the vectorized path")
  }

  test("sorted-key DPP composes with bound envelopes; DESC TopN proof holds on bounds") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmp("graft_r13_dppb")
    import spark.implicits._
    // prose-sorted table: every file's sort-key envelope is a BOUND
    (0 until 800).map(i => (i.toLong, f"k$i%04d " + Prose)).toDF("id", "body")
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "body").option("writePartitions", "8")
      .option("distributionStrict", "true").mode("overwrite").save()
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    assert(head.metas.forall(_.bounds(1)), "fixture: bound envelopes on the sort key")
    graft.util.Confs.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val fact = spark.read.format("graft-sink").option("path", dir).load()
      val dim = spark.range(0, 800).toDF("n")
        .withColumn("tag", concat(lit("x"), col("n")))
        .where(col("tag") === "x42")
        .select(concat(lit("k"), lpad(col("n").cast("string"), 4, "0"),
          lit(" "), lit(Prose)).as("body"))
      val j = fact.join(broadcast(dim), Seq("body"))
      assert(j.collect().map(_.getAs[Long]("id")).toSeq == Seq(42L))
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
      assert(scans.size == 1 && scans.head.runtimeFilters.nonEmpty,
        "a runtime filter must be planned on the prose-sorted fact scan")
      assert(scans.head.inputRDD.getNumPartitions == 1,
        s"the dim's one prose key must prune via bound envelopes to 1 file, " +
          s"got ${scans.head.inputRDD.getNumPartitions} of 8")
    }
    // DESC TopN: takes files by descending upper BOUND; a bound lower is
    // <= the true min, so the answer-set filter only widens — exact rows
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val top = t.orderBy(col("body").desc, col("id")).limit(50)
    val cp = top.localCheckpoint()
    val scans2 = top.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
    assert(scans2.head.inputRDD.getNumPartitions < 8,
      "DESC TopN over bound envelopes must prune the prose-sorted layout")
    assert(cp.collect().map(_.getLong(0)).toSeq == (750L until 800L).reverse.toSeq)
  }

  test("files procedure reports bytes, seq and the per-file index surface") {
    val root = tmp("graft_r13_files")
    spark.conf.set("spark.sql.catalog.gfp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfp.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    Seq((1L, "short", "p" * 100), (2L, "also", "q" * 100))
      .toDF("id", "s", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("bloomFor", "id").option("ndvFor", "id,s")
      .mode("overwrite").save()
    Seq((3L, "more", "r" * 100)).toDF("id", "s", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    val rows = spark.sql("CALL gfp.system.files('db.t')").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("bytes") > 0L, "on-disk size must be reported")
      // (id, s) exact + prose bound: the index surface splits them
      assert(r.getAs[Int]("n_stats") == 2 && r.getAs[Int]("n_bounds") == 1,
        s"exact/bound split wrong: $r")
    }
    // pre-eqdel manifests stay byte-stable: seq is 0 until equality
    // deletes are in play (the documented stamping rule)
    assert(rows.forall(_.getAs[Long]("seq") == 0L),
      s"seqs: ${rows.map(_.getAs[Long]("seq")).toSeq}")
    // only the indexed write's file carries the bloom/NDV surface — the
    // inventory is exactly how an operator SPOTS the unindexed straggler
    val indexed = rows.find(_.getAs[Int]("n_blooms") == 1).get
    assert(indexed.getAs[Int]("n_ndvs") == 2)
    val appended = rows.find(_.getAs[Int]("n_blooms") == 0).get
    assert(appended.getAs[Int]("n_ndvs") == 0)
    // an upsert (first eqdel) starts seq stamping: its file records the
    // committing version, visible in the inventory
    Seq((2L, "ALSO2", "s" * 100)).toDF("id", "s", "prose").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("upsertKey", "id").mode("append").save()
    val rows3 = spark.sql("CALL gfp.system.files('db.t')").collect()
    assert(rows3.length == 3 && rows3.map(_.getAs[Long]("seq")).max == 3L,
      s"upsert file must carry seq=3: ${rows3.map(_.getAs[Long]("seq")).toSeq}")
    // time travel: version 1 lists only the first file
    assert(spark.sql("CALL gfp.system.files('db.t', 1)").count() == 1)
  }

  test("text_curate_pipeline: one fingerprint shuffle, no all-pairs, funnel reconciles") {
    val df = SparkEntry.queries("text_curate_pipeline")(spark, sf001)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoop"),
      s"curation must never plan an all-pairs join:\n${physical.take(600)}")
    val kept = df.collect()
    // survivors are canonical (min doc_id per fingerprint): no fp repeats
    val fps = kept.map(_.getAs[String]("fp"))
    assert(fps.length == fps.distinct.length, "dedup must keep one doc per fp")
    // the funnel audit reconciles with the pipeline's own output
    val s = SparkEntry.queries("text_curate_stats")(spark, sf001).head()
    assert(s.getAs[Long]("n_train") == kept.length.toLong,
      s"funnel n_train must equal the pipeline row count: $s vs ${kept.length}")
    assert(s.getAs[Long]("n_in") >= s.getAs[Long]("n_quality") &&
      s.getAs[Long]("n_quality") >= s.getAs[Long]("n_unique") &&
      s.getAs[Long]("n_unique") >= s.getAs[Long]("n_train"),
      s"funnel must be monotone: $s")
  }

  test("csv-format tables share the bound-envelope machinery") {
    // the v1 line codec refuses embedded commas/newlines, so use long
    // comma-free prose — bounds are computed in the SHARED commit path,
    // not per-codec
    val dir = tmp("graft_r13_csvb")
    import spark.implicits._
    Seq((1L, "alpha" + Prose), (2L, "zeta" + Prose)).toDF("id", "prose")
      .coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("format", "csv").mode("overwrite").save()
    val m = GraftManifest.readVersion(dir, None).get.metas.head
    assert(m.name.endsWith(".csv") && m.bounds(1) && m.exactStats(1).isEmpty,
      s"csv file meta must carry the bound envelope: $m")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    // min/max bails identically; the true extremes come from a real scan
    val agg = t.agg(min(col("prose")), max(col("prose")))
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(agg.head() ==
      org.apache.spark.sql.Row("alpha" + Prose, "zeta" + Prose))
  }

  test("mayMatch/mustMatchAll stay conservative-sound on bound envelopes (unit)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val schema = StructType.fromDDL("prose STRING")
    val meta = GraftFileMeta("f", 2, 1, Map(0 -> ("aaa", "mab")), None,
      Some(Map.empty), bounds = Set(0))
    // inside the envelope: may match (the truncated bound widens, so a
    // prefix probe between prefix-of-min and successor-of-max stays in)
    assert(GraftSinkScan.mayMatch(meta, schema, EqualTo("prose", "boo")))
    assert(GraftSinkScan.mayMatch(meta, schema, GreaterThan("prose", "aaa")))
    // outside it: prunable even though the stats are only bounds
    assert(!GraftSinkScan.mayMatch(meta, schema, EqualTo("prose", "zzz")))
    assert(!GraftSinkScan.mayMatch(meta, schema, GreaterThan("prose", "mab")))
    // mustMatchAll stays SOUND on bounds: the envelope is a superset of
    // the value range, so a proof that the whole envelope lies inside the
    // accepting range covers every true value a fortiori — widening only
    // makes proofs rarer, never wrong
    assert(GraftSinkScan.mustMatchAll(meta, schema, GreaterThan("prose", "a")))
    assert(!GraftSinkScan.mustMatchAll(meta, schema, GreaterThan("prose", "b")),
      "a probe cutting the envelope must not prove")
  }
}
