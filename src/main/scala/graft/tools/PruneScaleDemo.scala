package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-PRUNING economics for the round-10 scan surface — the measured
  * case that the manifest's index facts turn O(table) scans into O(answer)
  * scans, which is the entire 100 TB argument:
  *
  *  - FULL SCAN: the baseline — every file planned and read;
  *  - BLOOM POINT LOOKUP: `k = x` on a hash-clustered table whose
  *    min/max envelopes all span the whole domain — only the per-file
  *    bloom can prune; a no-bloom control table proves the envelope
  *    alone prunes nothing;
  *  - RUNTIME (DPP) PRUNING: the same lookup expressed as a broadcast
  *    join against a one-row dim whose literal is NOT statically
  *    derivable — the IN-set arrives at execution and probes the blooms;
  *  - LIMIT: `LIMIT n` plans only the first files covering n live rows;
  *  - TopN: `ORDER BY s LIMIT n` on a range-clustered table plans only
  *    the files overlapping the n-th value's envelope bound.
  *
  * Usage: runMain graft.tools.PruneScaleDemo [nFiles] [rowsPerFile]
  * Prints one JSON line per phase; numbers recorded in BASELINE.md. */
object PruneScaleDemo {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(64)
    val rowsPer = args.lift(1).map(_.toLong).getOrElse(50000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the legacy phases measure the UNTRIGGERED economics (explicit
    // compact_index A/B); the probe-triggered path gets its own phases
    // at the end of the run
    graft.sources.GraftMaintenance.autoProbeEnabled = false
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val n = nFiles * rowsPer
    def base = spark.range(n).select(col("id").as("k"),
      (col("id") % 97).as("v"), md5(col("id").cast("string")).as("payload"))

    val indexed = s"$root/indexed"
    base.repartition(nFiles, col("k"))
      .write.format("graft-sink").option("path", indexed)
      .option("bloomFor", "k").option("ndvFor", "k,v")
      .mode("overwrite").save()
    val plain = s"$root/plain"
    base.repartition(nFiles, col("k"))
      .write.format("graft-sink").option("path", plain)
      .mode("overwrite").save()
    val sorted = s"$root/sorted"
    base.repartition(32)
      .write.format("graft-sink").option("path", sorted)
      .option("sortBy", "k").option("writePartitions", nFiles.toString)
      .option("distributionStrict", "true")
      .mode("overwrite").save()

    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def measure(tag: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      // drive THIS dataframe's own physical plan (not a derived count
      // plan), so the runtime-filter subqueries execute before the plan
      // introspection below reads the filtered partition count
      val rows = df.queryExecution.toRdd.count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val planned = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] =>
          b.inputRDD.getNumPartitions }.headOption.getOrElse(-1)
      println(f"""{"phase":"$tag","files_planned":$planned,"of":$nFiles,""" +
        f""""rows_out":$rows,"wall_ms":${wallMs}%.0f}""")
    }
    def rd(d: String) = spark.read.format("graft-sink").option("path", d).load()

    val probe = n / 2 + 17
    measure("full_scan", rd(indexed))
    measure("point_no_bloom_control", rd(plain).where(col("k") === probe))
    measure("point_bloom", rd(indexed).where(col("k") === probe))
    // DPP: the dim filter sits on a derived string so no static literal
    // reaches the fact; the runtime IN-set probes the blooms
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dim = spark.range(n).select(col("id").as("k"))
      .withColumn("name", concat(lit("k"), col("k")))
      .where(col("name") === s"k$probe").select(col("k"))
    measure("point_dpp_bloom", rd(indexed).join(broadcast(dim), Seq("k")))
    spark.conf.unset("spark.sql.adaptive.enabled")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    measure("limit_1000", rd(indexed).limit(1000))
    measure("topn_1000", rd(sorted).orderBy(col("k")).limit(1000))
    measure("range_sorted", rd(sorted).where(col("k") < rowsPer / 2))
    // DPP on the SORTED key (round 13): the same runtime IN-set pruning,
    // but through the range layout's disjoint envelopes — no bloom index
    // needed when the table is clustered on the join key
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    measure("point_dpp_sorted", rd(sorted).join(broadcast(dim), Seq("k")))
    spark.conf.unset("spark.sql.adaptive.enabled")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // Z-ORDER (round 13): OPTIMIZE rewrites the linear layout onto the
    // quantile-rank curve; 2-D probes then prune on BOTH dimensions,
    // where the k-sorted layout prunes only on k
    val zroot = java.nio.file.Files.createTempDirectory("graft_prune_z").toString
    spark.conf.set("spark.sql.catalog.gpz", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpz.root", zroot)
    val zdir = s"$zroot/db/t"
    base.select(col("k"), (col("k") * 2654435761L % 1000003L).as("w"),
        col("payload"))
      .repartition(32)
      .write.format("graft-sink").option("path", zdir)
      .option("sortBy", "k").option("writePartitions", nFiles.toString)
      .option("distributionStrict", "true").mode("overwrite").save()
    measure("zctl_probe_w", rd(zdir).where(col("w") <= 10000L))
    val t0 = System.nanoTime()
    spark.sql(s"CALL gpz.system.optimize('db.t', $nFiles, 'k,w')").collect()
    println(f"""{"phase":"optimize_zorder","wall_ms":${(System.nanoTime() - t0) / 1e6}%.0f}""")
    measure("zorder_probe_k", rd(zdir).where(col("k") <= n / 100))
    measure("zorder_probe_w", rd(zdir).where(col("w") <= 10000L))
    // PREFIX PROBE (round 14): `payload LIKE '0a%'` on a payload-sorted
    // layout — the [p, succ(p)) window planned from string envelopes;
    // the k-clustered table is the control (payload envelopes all span
    // the hex domain there)
    val tsorted = s"$root/tsorted"
    base.repartition(32)
      .write.format("graft-sink").option("path", tsorted)
      .option("sortBy", "payload").option("writePartitions", nFiles.toString)
      .option("distributionStrict", "true").mode("overwrite").save()
    measure("prefix_control", rd(indexed).where(col("payload").startsWith("0a")))
    measure("prefix_sorted", rd(tsorted).where(col("payload").startsWith("0a")))
    // ANTI-PROBE (round 14): `pt != 'p1'` on a partitioned table skips
    // exactly the excluded partition's files via the all-match proof
    val parted = s"$root/parted"
    base.withColumn("pt", concat(lit("p"), col("k") % 8))
      .repartition(nFiles / 8)
      .write.format("graft-sink").option("path", parted)
      .option("partitionBy", "pt").mode("overwrite").save()
    measure("anti_full", rd(parted))
    measure("anti_probe", rd(parted).where(col("pt") =!= "p1"))
    // PREFIX BLOOM (round 15): the same `payload LIKE '0a%'`-class probe
    // on the HASH-SCATTERED layout (k-clustered, payload envelopes all
    // span the hex domain) — only the fixed-width prefix set can prune
    val pbloomed = s"$root/pbloomed"
    base.repartition(nFiles, col("k"))
      .write.format("graft-sink").option("path", pbloomed)
      .option("prefixBloomFor", "payload:4").mode("overwrite").save()
    measure("pbloom_scattered",
      rd(pbloomed).where(col("payload").startsWith("0a1b")))
    measure("pbloom_control",
      rd(indexed).where(col("payload").startsWith("0a1b")))
    // CONTAINS PROBE (round 15): `payload LIKE '%…%'` — no order to
    // exploit on ANY layout; only the n-gram window set prunes. Width
    // must out-run the alphabet at this density: 50k hex values × 29
    // windows SATURATE the 16^4=65k 4-gram space (every file holds every
    // 4-gram — the honest no-skip case), while 16^6 leaves each file at
    // ~8% occupancy and a rare 8-char probe prunes to its holders.
    val ngbloomed = s"$root/ngbloomed"
    base.repartition(nFiles, col("k"))
      .write.format("graft-sink").option("path", ngbloomed)
      .option("ngramBloomFor", "payload:6").mode("overwrite").save()
    val needle = // an 8-char mid-string slice of one known value
      org.apache.spark.sql.functions.md5(lit((n / 3).toString))
    val needleStr = base.sparkSession.range(1)
      .select(needle).head().getString(0).substring(9, 17)
    measure("ngram_contains",
      rd(ngbloomed).where(col("payload").contains(needleStr)))
    measure("ngram_control",
      rd(indexed).where(col("payload").contains(needleStr)))
    // PLAN-TIME economics (round 16, VERDICT r15 next #1): megabyte-class
    // n-gram payloads live in per-file SIDECARS, so the manifest parse is
    // O(files) and payload bytes are fetched only per surviving file. The
    // cold-plan phase reports manifest bytes + sidecar fetches for a
    // contains probe (no cheaper fact exists — every planned file loads
    // its bloom once); the pruned phase composes an envelope-decidable
    // conjunct that kills every file BEFORE the bloom rung — zero loads.
    def planPhase(tag: String, df: DataFrame): Unit = {
      graft.sources.GraftBloomSidecars.dropCache()
      val l0 = graft.sources.GraftBloomSidecars.loads.sum()
      val t0 = System.nanoTime()
      val planned = df.rdd.getNumPartitions
      val planMs = (System.nanoTime() - t0) / 1e6
      val sloads = graft.sources.GraftBloomSidecars.loads.sum() - l0
      val manifestBytes = new java.io.File(ngbloomed).listFiles()
        .filter(_.getName.startsWith("_manifest-v")).map(_.length).max
      println(f"""{"phase":"$tag","files_planned":$planned,"of":$nFiles,""" +
        f""""manifest_bytes":$manifestBytes,"sidecar_loads":$sloads,""" +
        f""""plan_wall_ms":${planMs}%.0f}""")
    }
    planPhase("ngram_plan_cold",
      rd(ngbloomed).where(col("payload").contains(needleStr)))
    planPhase("ngram_plan_envelope_first",
      rd(ngbloomed).where(col("k") < 0 && col("payload").contains(needleStr)))
    // an alphabet-miss probe (md5 payloads are hex; 'z' never occurs)
    // prunes EVERY file from the inline #ngalpha fact — zero fetches
    planPhase("ngram_plan_alpha_miss",
      rd(ngbloomed).where(col("payload").contains("zz--zz")))
    // INDEX BUNDLES (round 16b): compact_index packs the per-file
    // sidecars into few 16 MB bundles — the same cold in-alphabet probe
    // now pays O(bundles) reads instead of one per candidate file
    val (bPays, bBundles, _) =
      graft.sources.GraftMaintenance.compactIndexes(ngbloomed)
    println(s"""{"phase":"ngram_compact_index","payloads":$bPays,""" +
      s""""bundles":$bBundles}""")
    planPhase("ngram_plan_bundled",
      rd(ngbloomed).where(col("payload").contains(needleStr)))
    // SUFFIX PROBE (round 15): `payload LIKE '%ff'` on a REVERSED-column
    // layout — `#rvstats` windows; the k-clustered table is the control
    val rsorted = s"$root/rsorted"
    base.repartitionByRange(nFiles, reverse(col("payload")))
      .sortWithinPartitions(reverse(col("payload")))
      .write.format("graft-sink").option("path", rsorted)
      .option("sortBy", "reverse(payload)").mode("overwrite").save()
    measure("suffix_control", rd(indexed).where(col("payload").endsWith("ff")))
    measure("suffix_reversed", rd(rsorted).where(col("payload").endsWith("ff")))
    // the anti-probe drops only files ENTIRELY inside the suffix class,
    // so probe a one-hex-char class (1/16 of rows ≈ 4 pure files)
    measure("anti_suffix_reversed",
      rd(rsorted).where(!col("payload").endsWith("f")))
    // ROW-GROUP ANN (round 15): `#rgcen` group routing inside the ONE
    // file the file-level route keeps — reports records DECODED, the
    // sub-file materialization bill
    val vdir = s"$root/vectors"
    val vfiles = 8
    val vn = n / 8 // vector rows (8-dim doubles are ~9x a base row)
    spark.range(vn).select(col("id"),
        array((0 until 8).map(d =>
          when(col("id") * 8 / vn === d, 1.0).otherwise(0.0)): _*).as("v"))
      .repartitionByRange(vfiles, col("id"))
      .sortWithinPartitions("id")
      .write.format("graft-sink").option("path", vdir)
      .option("rowGroupBytes", (1 << 20).toString)
      .option("centroidFor", "v").option("centroidGranularity", "rowgroup")
      .mode("overwrite").save()
    val probeVec = (0 until 8).map(d => if (d == 3) "1.0" else "0.0").mkString(",")
    def annRead(rg: Option[Int]) = {
      val r = spark.read.format("graft-sink").option("path", vdir)
        .option("annProbe", probeVec).option("annNprobe", "1")
        .option("annCol", "v")
      rg.fold(r)(m => r.option("annRgNprobe", m.toString)).load()
    }
    def annMeasure(tag: String, df: DataFrame): Unit = {
      val d0 = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val dec = graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - d0
      println(f"""{"phase":"$tag","rows_out":$rows,"records_decoded":$dec,""" +
        f""""of_rows":$vn,"wall_ms":${wallMs}%.0f}""")
    }
    annMeasure("ann_file_route", annRead(None).select(col("id"), col("v")))
    annMeasure("ann_rowgroup_route",
      annRead(Some(2)).select(col("id"), col("v")))
    // PROBE-TRIGGERED COMPACTION (round 17, VERDICT r16 next #2): a fresh
    // UNCOMPACTED table's first big cold probe pays one sidecar fetch per
    // candidate file AND (past the threshold) arms the incremental bundle
    // sweep synchronously — so the SECOND cold probe (new process /
    // dropped cache) pays O(bundles) reads. The first phase's plan wall
    // includes the sweep it triggers: that is the bill the design chose
    // (the probe that trips the threshold pays it, like auto-optimize).
    graft.sources.GraftMaintenance.autoProbeEnabled = true
    val ngauto = s"$root/ngauto"
    base.repartition(nFiles, col("k"))
      .write.format("graft-sink").option("path", ngauto)
      .option("ngramBloomFor", "payload:6").mode("overwrite").save()
    def autoPhase(tag: String): Unit = {
      graft.sources.GraftBloomSidecars.dropCache()
      val l0 = graft.sources.GraftBloomSidecars.loads.sum()
      val t0 = System.nanoTime()
      val planned = rd(ngauto).where(col("payload").contains(needleStr))
        .rdd.getNumPartitions
      val planMs = (System.nanoTime() - t0) / 1e6
      val sloads = graft.sources.GraftBloomSidecars.loads.sum() - l0
      val versions = graft.sources.GraftManifest.versions(ngauto).size
      println(f"""{"phase":"$tag","files_planned":$planned,"of":$nFiles,""" +
        f""""sidecar_loads":$sloads,"versions":$versions,""" +
        f""""plan_wall_ms":${planMs}%.0f}""")
    }
    autoPhase("ngauto_first_cold")  // O(files) loads, sweep triggered
    autoPhase("ngauto_second_cold") // O(bundles) loads, no new version
    spark.stop()
  }
}
