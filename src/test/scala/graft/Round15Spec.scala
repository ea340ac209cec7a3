package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftManifest

/** Round-15 gate: the ADVICE r14 hardenings (zorder DATE/NTZ ranking,
  * centroid null-element poisoning, Table.properties memoization) and the
  * VERDICT r14 scale fixes (editdist probe-panel cap, winnowSel memo). */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  test("zorder_by on a DATE column completes (ADVICE r14)") {
    // DATE passes the type gate but cannot cast directly to DOUBLE —
    // before the numSql unix_date hop, approx_percentile died with an
    // AnalysisException instead of ranking the dimension. (TIMESTAMP_NTZ
    // takes the same hop in numSql, but the sink stores no NTZ columns,
    // so DATE is the reachable repro.)
    val root = tmp("graft_r15_zdate")
    spark.conf.set("spark.sql.catalog.g15z", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15z.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 400).toDF("id")
      .select(col("id").as("a"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("d"))
      .repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("CALL g15z.system.optimize('db.t', 4, 'd,a')").collect()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 400)
    // the curve shapes locality: an early-date probe prunes to a strict
    // subset of the 4 rewritten files
    val probed = t.where(col("d") < java.sql.Date.valueOf("2024-02-01"))
    assert(probed.count() == 31)
    assert(probed.rdd.getNumPartitions < 4,
      "a date-range probe on the date-led curve must prune files")
  }

  test("editdist probe panel is a fixed constant, not a corpus fraction (VERDICT r14)") {
    // At sf0.01 (500 docs) the mod-50 panel is 10 probes — under the cap,
    // results identical to the uncapped shape. At sf0.1 (5000 docs) the
    // uncapped panel would be 100 probes; the cap pins it at 64, making
    // total candidate work O(64·n) — linear, not O(n²/250).
    val small = graft.ops.Pipeline.textEditdistTopk(spark, sf001)
      .select("doc_a").distinct().count()
    assert(small == 10, s"sf0.001-scale panel should be n/50 = 10, got $small")
    val big = graft.ops.Pipeline.textEditdistTopk(spark, "/root/testdata/sf0.1")
      .select("doc_a").distinct().count()
    assert(big == graft.ops.Pipeline.EditdistProbeCap,
      s"sf0.1 panel must cap at 64 probes (uncapped would be 100), got $big")
  }

  test("winnow fingerprint kernel is computed once per (session, sf) (VERDICT r14)") {
    val a = graft.ops.Text.winnowSel(spark, sf001)
    val b = graft.ops.Text.winnowSel(spark, sf001)
    assert(a eq b, "winnowSel must memoize — text_winnow_fingerprint and " +
      "dedup_winnow_pairs otherwise run the posexplode+window pass twice")
    // and the two consumers still agree with each other on the shared set
    val pairs = graft.ops.Text.dedupWinnowPairs(spark, sf001)
    val report = graft.ops.Text.textWinnowFingerprint(spark, sf001)
    assert(report.count() > 0 && pairs.columns.toSeq ==
      Seq("doc_a", "doc_b", "n_shared_fp"))
  }

  test("a null vector element poisons the per-file centroid fact (ADVICE r14)") {
    // toDoubleArray reads a null element as 0.0 — without the explicit
    // isNullAt sweep the stored mean silently skews and annProbe routing
    // recall degrades. Poisoned file: no #centroid fact, always planned.
    val dir = tmp("graft_r15_cennull")
    import spark.implicits._
    val clean = (0 until 10).map(i => (i.toLong,
      Array.fill(4)(java.lang.Double.valueOf(1.0 + i * 0.01))))
    val dirty = (10 until 20).map(i => (i.toLong,
      Array[java.lang.Double](java.lang.Double.valueOf(-1.0), null,
        java.lang.Double.valueOf(-1.0), java.lang.Double.valueOf(-1.0))))
    clean.toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("overwrite").save()
    dirty.toDF("id", "v").coalesce(1)
      .write.format("graft-sink").option("path", dir)
      .option("centroidFor", "v").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    val withFact = head.metas.count(_.centroids.contains(1))
    assert(withFact == 1,
      s"the null-bearing file must carry NO centroid fact, got $withFact of 2")
    // conservatism: the factless file is always planned, so a probe far
    // from the clean cluster still reads every dirty row
    val got = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", "-1.0,-1.0,-1.0,-1.0")
      .option("annNprobe", "1").option("annCol", "v").load()
    assert(got.where(col("id") >= 10L).count() == 10,
      "a factless file must survive ANN routing (absence is no claim)")
  }

  test("#pbloom facts: roundtrip, short-value exactness, and OPTIMIZE carry") {
    val root = tmp("graft_r15_pbloom")
    spark.conf.set("spark.sql.catalog.g15b", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15b.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    // two files: one of md5-shaped strings, one whose values are ALL
    // shorter than the width — its (empty) prefix set prunes every
    // |p| >= w probe exactly
    (0 until 50).map(i => (i.toLong, f"key_$i%03d_payload")).toDF("id", "ck")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("prefixBloomFor", "ck:4").mode("overwrite").save()
    (50 until 100).map(i => (i.toLong, "ab")).toDF("id", "ck")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("prefixBloomFor", "ck:4").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2 &&
      head.metas.forall(_.pblooms.get(1).exists(_._1 == 4)),
      s"want 2 pbloom-bearing files, got ${head.metas.map(_.pblooms.keySet)}")
    def t() = spark.read.format("graft-sink").option("path", dir).load()
    def parts(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.sum
    }
    // a 4+-char probe prunes the short-value file AND any file whose
    // prefix set misses it; 'key_' hits only file 1
    val hit = t().where(col("ck").startsWith("key_0"))
    assert(parts(hit) == 1, "prefix probe must plan only the matching file")
    assert(hit.count() == 50)
    // a probe matching NOTHING prunes both files (short values can never
    // match a probe longer than themselves)
    assert(parts(t().where(col("ck").startsWith("zzzz"))) == 0,
      "a missing 4-prefix must prune every file")
    // a SHORT probe (under the width) stays conservative — and correct
    assert(t().where(col("ck").startsWith("ab")).count() == 50)
    // equality probes reuse the prefix set
    assert(parts(t().where(col("ck") === "wxyz_nope")) == 0,
      "an equality probe with an absent 4-prefix must prune every file")
    // OPTIMIZE carries the index to its rewritten files
    spark.sql("CALL g15b.system.optimize('db.t', 1)").collect()
    val after = GraftManifest.readVersion(dir, None).get
    assert(after.metas.forall(_.pblooms.get(1).exists(_._1 == 4)),
      "OPTIMIZE must re-record #pbloom (width kept) for its fresh files")
  }

  test("wide decimal(38,6) carries sound stats, sums and pruning (VERDICT r14 #4)") {
    import spark.implicits._
    val dir = tmp("graft_r15_wdec") + "/t"
    // 2 files: negatives+nulls in one, a >19-digit-unscaled value in the
    // other (its sums fact must be WITHHELD; its stats stay exact)
    val rows = Seq(
      (1L, "-7.250000"), (2L, null), (3L, "0.000000"),
      (4L, "12345.678901"), (5L, "99999999999999.999999"),
      (6L, "88.500000"))
    def mk(r: Seq[(Long, String)], d: String): Unit =
      r.toDF("id", "s")
        .select(col("id"), col("s").cast("decimal(38,6)").as("p"))
        .coalesce(1).write.format("graft-sink").option("path", d)
        .mode(if (new java.io.File(d).exists) "append" else "overwrite").save()
    mk(rows.take(3), dir); mk(rows.drop(3), dir)
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2)
    assert(head.metas.forall(_.stats.contains(1)),
      s"both files must carry exact decimal stats: ${head.metas.map(_.stats)}")
    val f1 = head.metas.find(_.stats(1)._1 == "-7.250000").get
    val f2 = head.metas.find(_ ne f1).get
    assert(f1.stats(1) == ("-7.250000", "0.000000"), s"exact envelope: ${f1.stats(1)}")
    assert(f2.stats(1) ==
      ("88.500000", "99999999999999.999999"),
      s"wide envelope stays exact: ${f2.stats(1)}")
    assert(f1.sums.exists(_.get(1).contains(-7250000L + 0L)),
      s"file-1 unscaled sum must be exact: ${f1.sums}")
    assert(f2.sums.forall(!_.contains(1)),
      s"the >19-digit unscaled value must withhold the sum fact: ${f2.sums}")
    def t() = spark.read.format("graft-sink").option("path", dir).load()
    def parts(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.sum
    }
    // range probe prunes the non-overlapping file, keeps the holder
    val neg = t().where(col("p") < lit("0").cast("decimal(38,6)"))
    assert(parts(neg) == 1 && neg.select("id").as[Long](spark.implicits.newLongEncoder)
      .collect().toSeq == Seq(1L), "negative probe plans only file 1")
    // equality at a scale-mismatched literal still matches (BigDecimal cmp)
    assert(t().where(col("p") === lit("88.5").cast("decimal(38,6)"))
      .count() == 1)
    // min/max/count answer from the manifest; sum must BAIL (file 2's
    // fact is withheld) and still be CORRECT via the real scan
    val mm = t().agg(min(col("p")).cast("string").as("lo"),
      max(col("p")).cast("string").as("hi"), count(col("p")).as("n"))
    val plan = mm.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"decimal(38,6) min/max/count must answer from the manifest:\n$plan")
    val r = mm.head()
    assert(r.getString(0) == "-7.250000" &&
      r.getString(1) == "99999999999999.999999" && r.getLong(2) == 5)
    val sm = t().agg(sum(col("p")).cast("string").as("s"))
    assert(!sm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "a withheld per-file sum must force the real scan (never a wrong fold)")
    assert(sm.head().getString(0) == "100000000012426.928900")
  }

  test("wide decimal reaches replaceWhere row-eval and CHECK constraints") {
    import spark.implicits._
    val root = tmp("graft_r15_wrw")
    spark.conf.set("spark.sql.catalog.g15w", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15w.root", root)
    val dir = s"$root/db/t"
    def df(r: Seq[(Long, String)]) =
      r.toDF("id", "s").select(col("id"),
        col("s").cast("decimal(38,6)").as("p"))
    // one straddler file: the replaceWhere predicate must row-evaluate
    // through the FLBA cell decode (values on both sides of the cut)
    df(Seq((1L, "10.5"), (2L, "99999999999999999999.25"), (3L, "20.0")))
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .mode("overwrite").save()
    df(Seq((4L, "99999999999999999999.75")))
      .writeTo("g15w.db.t")
      .overwrite(col("p") > lit("50").cast("decimal(38,6)"))
    val got = spark.read.format("graft-sink").option("path", dir).load()
      .select(col("id"), col("p").cast("string").as("ps"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "10.500000"), (3L, "20.000000"),
      (4L, "99999999999999999999.750000")),
      s"wide-decimal replaceWhere must cut exactly at the row level: ${got.toSeq}")
    // CHECK constraint over the wide column enforces per row at write
    spark.sql(
      "CALL g15w.system.add_constraint('db.t', 'nonneg', 'p >= 0')").collect()
    val e = intercept[Exception] {
      df(Seq((9L, "-0.000001"))).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    assert(e.getMessage.contains("nonneg") ||
      Option(e.getCause).exists(_.getMessage.contains("nonneg")),
      s"a violating wide-decimal row must fail the CHECK loudly: $e")
    assert(spark.read.format("graft-sink").option("path", dir).load()
      .count() == 3, "the refused batch must land nothing")
  }

  test("zorder_by accepts a decimal(38,6) dimension (ranks through double)") {
    import spark.implicits._
    val root = tmp("graft_r15_zdec")
    spark.conf.set("spark.sql.catalog.g15d", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15d.root", root)
    val dir = s"$root/db/t"
    spark.range(0, 400).toDF("id")
      .select(col("id").as("a"),
        (col("id").cast("decimal(20,0)") * 1000000)
          .cast("decimal(38,6)").as("price"))
      .repartition(4)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    spark.sql("CALL g15d.system.optimize('db.t', 4, 'price,a')").collect()
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.count() == 400)
    // the price-led curve prunes a bottom-band money probe (decimal
    // envelopes carry the skip — round-15 wide-decimal stats)
    val probed = t.where(col("price") < lit("50000000").cast("decimal(38,6)"))
    assert(probed.count() == 50)
    assert(probed.rdd.getNumPartitions < 4,
      "a wide-decimal range probe on the price-led curve must prune files")
  }

  test("sink_wide_stats: range pruning + full aggregate pushdown on decimal(38,6)") {
    val df = graft.ops.Scale.sinkWideStats(spark, sf001)
    assert(df.count() > 0, "the bottom-band probe must return rows at sf0.001")
  }

  test("#rgcen facts: tiling, poisoning, ranged reads on every path (VERDICT r14 #5)") {
    import spark.implicits._
    val root = tmp("graft_r15_rgcen")
    spark.conf.set("spark.sql.catalog.g15r", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15r.root", root)
    val dir = s"$root/db/t"
    // 300 rows = 3 parquet groups of 100 (min-check interval with a tiny
    // target): group 1 points +x, group 2 points +y but holds ONE null
    // element (poisons its fact), group 3 points -x
    def vec(id: Long): Array[java.lang.Double] = {
      val d = Array.fill[java.lang.Double](8)(java.lang.Double.valueOf(0.0))
      if (id < 100) d(0) = 1.0 else if (id < 200) d(1) = 1.0 else d(0) = -1.0
      if (id == 150) d(3) = null
      d
    }
    (0L until 300L).map(i => (i, vec(i))).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "1024")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 1)
    val gs = head.metas.head.rgcens(1)
    assert(gs.map(_.rows) == Seq(100L, 100L, 100L), s"tiling: $gs")
    assert(gs.sliding(2).forall(p => p(0).end == p(1).start), s"contiguous: $gs")
    assert(gs(0).b64 != "-" && gs(2).b64 != "-", "clean groups claim")
    assert(gs(1).b64 == "-", "the null-bearing group must be poisoned (no claim)")
    def read(probe: String, rg: Int) =
      spark.read.format("graft-sink").option("path", dir)
        .option("annProbe", probe).option("annNprobe", "1")
        .option("annRgNprobe", rg.toString).option("annCol", "v").load()
    // +x probe keeps group 1 (nearest claim) + group 2 (no claim, always
    // kept); adjacent groups merge into ONE ranged split of 200 rows
    val px = read("1,0,0,0,0,0,0,0", 1)
    assert(px.rdd.getNumPartitions == 1, "adjacent kept groups merge")
    val pxIds = px.select("id").as[Long].collect().sorted
    assert(pxIds.length == 200 && pxIds.head == 0L && pxIds.last == 199L,
      s"+x probe must read groups 1+2 only: ${pxIds.length} rows")
    // -x probe keeps group 3 + the poisoned group 2 → ids 100..299
    val nx = read("-1,0,0,0,0,0,0,0", 1).select("id").as[Long].collect().sorted
    assert(nx.length == 200 && nx.head == 100L && nx.last == 299L,
      s"-x probe must read groups 2+3 only: ${nx.length} rows")
    // the row-mode vectorized reader honors it as well (direct)
    val pq = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val vr = new graft.sources.GraftColumnar.VectorRows(pq,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      None, Some((gs(0).start, gs(0).end)))
    try {
      var n = 0
      while (vr.read() != null) n += 1
      assert(n == 100, s"VectorRows range must read one group, got $n")
    } finally vr.close()
    // OPTIMIZE re-records row-group centroids for its rewritten files
    spark.sql("CALL g15r.system.optimize('db.t', 1)").collect()
    val after = GraftManifest.readVersion(dir, None).get
    assert(after.metas.forall(_.rgcens.contains(1)),
      "OPTIMIZE must carry centroidGranularity=rowgroup to fresh files")
  }

  test("scan_ann_rowgroup: routed top-3 with sub-file decode at sf0.001") {
    val df = graft.ops.Vectors.scanAnnRowgroup(spark, sf001)
    assert(df.count() == 9, "3 probes x top-3")
  }

  test("#rvstats: suffix pruning, append inherit, OPTIMIZE re-sort (VERDICT r14 #6)") {
    import spark.implicits._
    val root = tmp("graft_r15_rv")
    spark.conf.set("spark.sql.catalog.g15v", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15v.root", root)
    val dir = s"$root/db/t"
    def rows(r: Range) = r.map(i => (i.toLong,
      s"dir/f-$i" + (if (i % 2 == 0) ".jpg" else ".txt"))).toDF("id", "p")
    rows(0 until 200)
      .repartitionByRange(2, reverse(col("p")))
      .sortWithinPartitions(reverse(col("p")))
      .write.format("graft-sink").option("path", dir)
      .option("sortBy", "reverse(p)").mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.sortSpec.contains("reverse(p)"))
    assert(head.metas.size == 2 && head.metas.forall(_.rvstats.contains(1)),
      s"both files must carry #rvstats: ${head.metas.map(_.rvstats)}")
    def parts(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.sum
    }
    def t() = spark.read.format("graft-sink").option("path", dir).load()
    // the reversed ranges put all '.jpg' (rev 'gpj.…') in one file
    val jpg = t().where(col("p").endsWith(".jpg"))
    assert(parts(jpg) == 1, "suffix probe must plan only the matching file")
    assert(jpg.count() == 100)
    assert(t().where(col("p").endsWith(".txt")).count() == 100)
    // a suffix matching NOTHING prunes everything
    assert(parts(t().where(col("p").endsWith(".bmp"))) == 0,
      "an absent suffix must prune every file")
    // ANTI-suffix probe: NOT LIKE '%.jpg' drops the all-jpg file through
    // the endsWith all-match proof (mayMatch(Not) = !mustMatchAll)
    val anti = t().where(!col("p").endsWith(".jpg"))
    assert(parts(anti) == 1,
      "the anti-suffix probe must prune the all-matching file")
    assert(anti.count() == 100)
    // short/empty suffixes stay conservative and correct
    assert(t().where(col("p").endsWith("")).count() == 200)
    // APPENDS inherit the declared reverse spec and track the fact
    rows(200 until 220).coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    val head2 = GraftManifest.readVersion(dir, None).get
    assert(head2.metas.size == 3 && head2.metas.forall(_.rvstats.contains(1)),
      "an inherited reverse spec must keep recording #rvstats")
    // OPTIMIZE re-clusters on the reversed string and keeps the facts
    spark.sql("CALL g15v.system.optimize('db.t', 2)").collect()
    val head3 = GraftManifest.readVersion(dir, None).get
    assert(head3.sortSpec.contains("reverse(p)"),
      s"OPTIMIZE must keep the reverse declaration: ${head3.sortSpec}")
    assert(head3.metas.forall(_.rvstats.contains(1)),
      "OPTIMIZE must re-record #rvstats for its fresh files")
    assert(parts(t().where(col("p").endsWith(".jpg"))) < head3.metas.size,
      "the re-clustered layout must still prune suffix probes")
    assert(t().where(col("p").endsWith(".jpg")).count() == 110)
  }

  test("scan_suffix_prune: LIKE-'%.jpg' prunes the reversed layout at sf0.001") {
    val df = graft.ops.Scale.scanSuffixPrune(spark, sf001)
    assert(df.count() > 0)
  }

  test("ranged ANN splits compose with pushed filters") {
    import spark.implicits._
    val dir = tmp("graft_r15_annf") + "/t"
    def vec(id: Long): Array[java.lang.Double] = {
      val d = Array.fill[java.lang.Double](4)(java.lang.Double.valueOf(0.0))
      d(if (id < 150) 0 else 1) = 1.0
      d
    }
    (0L until 300L).map(i => (i, vec(i))).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-sink").option("path", dir)
      .option("rowGroupBytes", "1024")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .mode("overwrite").save()
    // +x probe keeps groups 1..2 (first 200 rows include all of +x's 150
    // and the mixed group 2); a pushed id predicate then filters INSIDE
    // the ranged split — both skips compose, results exact
    val got = spark.read.format("graft-sink").option("path", dir)
      .option("annProbe", "1,0,0,0").option("annNprobe", "1")
      .option("annRgNprobe", "1").option("annCol", "v").load()
      .where(col("id") >= 40L && col("id") < 60L)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == (40L until 60L).toSeq,
      s"pushed filter over a ranged split must stay exact: ${got.toSeq}")
  }

  test("scan_zorder_string: a text dimension ranks and prunes on the curve") {
    val df = graft.ops.Scale.scanZorderString(spark, sf001)
    assert(df.count() > 0)
  }

  test("#ngbloom facts: contains pruning, probe-shape reuse, OPTIMIZE carry") {
    val root = tmp("graft_r15_ngb")
    spark.conf.set("spark.sql.catalog.g15n", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15n.root", root)
    val dir = s"$root/db/t"
    import spark.implicits._
    // two files: alpha-flavored messages and digit-flavored ones; one
    // ALL-SHORT file would be a third flavor (covered by the empty-set
    // exactness below via file 2's width-4 windows missing 'zq')
    (0 until 50).map(i => (i.toLong, s"event alpha_$i happened")).toDF("id", "msg")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "msg:4").mode("overwrite").save()
    (50 until 100).map(i => (i.toLong, s"error code_$i raised")).toDF("id", "msg")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("ngramBloomFor", "msg:4").mode("append").save()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.metas.size == 2 &&
      head.metas.forall(_.ngblooms.get(1).exists(_._1 == 4)),
      s"want 2 ngbloom-bearing files: ${head.metas.map(_.ngblooms.keySet)}")
    def t() = spark.read.format("graft-sink").option("path", dir).load()
    def parts(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.sum
    }
    // a mid-string probe only one flavor holds plans only its file
    val hit = t().where(col("msg").contains("alpha_4"))
    assert(parts(hit) == 1, "contains probe must plan only the alpha file")
    assert(hit.count() == 11) // alpha_4 and alpha_40..49
    // a probe matching NOTHING prunes both files
    assert(parts(t().where(col("msg").contains("zqxjkw"))) == 0,
      "an absent window set must prune every file")
    // probes SHORTER than the width stay conservative — and correct
    assert(t().where(col("msg").contains("err")).count() == 50)
    // prefix/suffix/equality probes reuse the window fact
    assert(parts(t().where(col("msg").startsWith("error code_51"))) == 1)
    assert(parts(t().where(col("msg").endsWith("alpha_7 happened"))) == 1)
    assert(parts(t().where(col("msg") === "event alpha_9 happened")) == 1)
    // OPTIMIZE carries the index (width kept) to its rewritten files
    spark.sql("CALL g15n.system.optimize('db.t', 1)").collect()
    val after = GraftManifest.readVersion(dir, None).get
    assert(after.metas.forall(_.ngblooms.get(1).exists(_._1 == 4)),
      "OPTIMIZE must re-record #ngbloom (width kept) for its fresh files")
    // and the #idx header fact carries the ngram segment
    assert(after.idxCols.exists(_.ngram == Seq((1, 4))),
      s"#idx must carry the ngram segment: ${after.idxCols}")
  }

  test("streamed epochs rebuild EVERY index surface (#idx round-15 segments)") {
    import spark.implicits._
    val root = tmp("graft_r15_stridx")
    def rows(r: Range) = r.map(i => (i.toLong, f"key_$i%04d_x",
      Array.fill(4)(i.toDouble))).toDF("id", "ck", "v")
    val table = s"$root/t"
    // seed: every round-15 surface armed — prefix bloom, row-group
    // centroids, reversed layout
    rows(0 until 100).coalesce(1)
      .write.format("graft-sink").option("path", table)
      .option("prefixBloomFor", "ck:4")
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .option("sortBy", "reverse(ck)")
      .mode("overwrite").save()
    val seedHead = GraftManifest.readVersion(table, None).get
    require(seedHead.idxCols.exists(ix =>
      ix.pbloom == Seq((1, 4)) && ix.cen == Seq(2) && ix.rgcen),
      s"seed must record the extended #idx fact: ${seedHead.idxCols}")
    // one streamed epoch with NO index options of its own
    val srcDir = s"$root/src"
    rows(100 until 200).coalesce(1).write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream
      .schema("id LONG, ck STRING, v ARRAY<DOUBLE>")
      .parquet(srcDir)
      .writeStream.format("graft-sink")
      .option("path", table)
      .option("checkpointLocation", s"$root/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val head = GraftManifest.readVersion(table, None).get
    val fresh = head.metas.filterNot(m =>
      seedHead.metas.exists(_.name == m.name))
    assert(fresh.nonEmpty, "the epoch must land new files")
    fresh.foreach { m =>
      assert(m.pblooms.get(1).exists(_._1 == 4),
        s"epoch file ${m.name} must carry the width-4 prefix bloom")
      assert(m.rgcens.contains(2),
        s"epoch file ${m.name} must carry row-group centroids")
      assert(m.rvstats.contains(1),
        s"epoch file ${m.name} must carry the reversed envelope")
    }
    // and the union #idx fact survives the delta commit
    assert(head.idxCols.exists(ix =>
      ix.pbloom == Seq((1, 4)) && ix.cen == Seq(2) && ix.rgcen),
      s"the epoch's delta commit must carry #idx forward: ${head.idxCols}")
  }

  test("Table.properties() memoizes per resolved version (ADVICE r14)") {
    val root = tmp("graft_r15_props")
    spark.conf.set("spark.sql.catalog.g15p", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g15p.root", root)
    spark.sql("CREATE TABLE g15p.db.t (a BIGINT) TBLPROPERTIES ('k'='v1')")
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "t")
    val cat = spark.sessionState.catalogManager.catalog("g15p")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(ident)
    val p1 = t.properties()
    assert(p1.get("k") == "v1")
    assert(t.properties() eq p1,
      "repeat properties() at one head version must return the cached map")
    // a property commit moves the head — the same instance re-resolves
    spark.sql("ALTER TABLE g15p.db.t SET TBLPROPERTIES ('k'='v2')")
    assert(cat.loadTable(ident).properties().get("k") == "v2")
  }
}
