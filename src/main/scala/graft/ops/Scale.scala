package graft.ops


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Tables._

/** Round-2 engine-surface operators: file-format sources (CSV/JSON) with
  * explicit schemas, partitioned-layout writes with partition pruning,
  * bucketed co-located joins, manual skew salting, and exact integer
  * moment statistics.
  *
  * Oracle strategy: every roundtrip query writes SPARK-computed rows out
  * and reads them back, but the written values are exact (BIGINT/strings/
  * DATE), so the DuckDB oracle computes the same aggregate straight from
  * the source parquet — the roundtrip is provably lossless or the hash
  * compare fails.
  */
object Scale {

  // Scratch paths: fixed per (prefix, sf), auto-removed at JVM exit
  // (round-3 hygiene fix — see graft.util.Scratch).
  private def sfTag(sf: String): String = sf.replaceAll("[^A-Za-z0-9]", "_")

  private def tmpDir(prefix: String, sf: String): String =
    graft.util.Scratch.dir(prefix, sf)

  /** CSV source/sink roundtrip with an explicit read schema (header on,
    * exact-typed columns only). Exercises the text-source parser path the
    * [R1] ETL domain ingests raw files through. */
  def sourceCsvRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("csv", sf)
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        to_date(col("o_orderdate")).as("d"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("cents", LongType),
      StructField("d", DateType)))
    spark.read.schema(schema).option("header", "true").csv(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("d")).as("first_date"), max(col("d")).as("last_date"))
      .orderBy(col("o_orderstatus"))
  }

  /** AVRO source/sink roundtrip through the from-scratch V2 connector
    * (graft.sources.AvroSourceProvider — the environment ships Avro core
    * but not the spark-avro module, so the row-container ingest format
    * gets its read/write path from our own connector): orders land as
    * Avro Object Container Files under the task-rename + atomic-manifest
    * commit protocol, the read back INFERS the schema from the container
    * header (Avro is self-describing), prunes columns at the decoder, and
    * aggregates — proving the write lossless against the straight-from-
    * orders oracle. */
  def sourceAvroRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("avro", sf)
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      // overwrite (SupportsTruncate) keeps re-runs in one JVM idempotent
      // now that append MERGES into the committed set (ADVICE r6)
      .write.format("graft-avro").option("path", dir).mode("overwrite").save()
    spark.read.format("graft-avro").load(dir)
      .where(col("o_orderkey") % 7 === 0) // post-scan filter over pruned cols
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Plain-TEXT source/sink roundtrip — the line-oriented surface (raw
    * crawl dumps, log shipping) next to csv/json/orc/parquet: each doc is
    * serialized to one tab-delimited line (`spark.write.text`), read back
    * with the text source (one `value` column — the schema every text
    * scan starts from), re-parsed by position, and aggregated per lang.
    * The fixture word-soup text contains no tabs, so the framing is
    * lossless and the DuckDB oracle aggregates straight from the source
    * parquet — a byte-level roundtrip proof. Scale: text scans split by
    * line at any file size; the parse is a pure projection. */
  def sourceTextRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("txt", sf)
    documents(spark, sf)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(dir)
    val p = split(col("value"), "\t", 3)
    spark.read.text(dir)
      .select(p.getItem(0).cast("long").as("doc_id"),
        p.getItem(1).as("lang"), p.getItem(2).as("text"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** ORC source/sink roundtrip — the third columnar-format surface next to
    * parquet and the text sources; exact-typed columns only, so the DuckDB
    * oracle aggregates straight from the source parquet and the roundtrip
    * is provably lossless. */
  def sourceOrcRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("orc", sf)
    lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity")).cast("long").as("q"))
      .write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** JSON-lines source/sink roundtrip with an explicit read schema. */
  def sourceJsonRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("json", sf)
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    spark.read.schema(schema).json(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Hive-style partitioned layout write + pruned read-back: orders land
    * partitioned by status, the read filters one partition, and the scan
    * must touch only that directory (partition pruning — asserted on the
    * plan in ScaleSpec). This is the fixture-scale rendering of the
    * partition-pruning row SURVEY §4.1 marked "not exercisable" on the
    * single-file fixtures: we create the partitioned layout ourselves. */
  def sinkPartitionedPrune(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("part", sf)
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        to_date(date_trunc("mon", col("o_orderdate"))).as("month"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    spark.read.parquet(dir)
      .where(col("o_orderstatus") === "F")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("month"))
  }

  /** Parquet BLOOM-FILTER storage skipping — the last offline-available
    * skip mechanism after min-max/zorder, partition pruning and DPP: the
    * sink writes a high-cardinality md5 key column with a per-row-group
    * bloom filter (small block size so the fixture file has MANY row
    * groups; dictionary encoding off so the dictionary can't stand in as
    * an exact filter), and a point-predicate read-back skips every row
    * group whose bloom answers "definitely absent". min/max stats CANNOT
    * help here — md5 values are uniform, so every row group's range spans
    * the whole key space; the bloom filter is the only thing between a
    * point lookup and a full scan. ScaleFixSpec measures the scan-rows
    * drop against an identical no-bloom layout. Oracle: the same point
    * lookup straight off the orders table (md5 hex agrees across
    * engines). */
  def sinkBloomSkip(spark: SparkSession, sf: String): DataFrame = {
    val dir = bloomLayout(spark, sf, bloom = true)
    // bounded driver-side scalar fetch (one long) to make the point
    // predicate a pushable literal
    val tgt = orders(spark, sf).agg(max(col("o_orderkey"))).head().getLong(0)
    spark.read.parquet(dir)
      .where(col("ck") === md5(lit(tgt.toString)))
      .select(col("o_orderkey"), col("ck"), col("cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Writes orders as (o_orderkey, ck = md5(key), cents) parquet in many
    * small row groups, bloom filter on ck only when asked — shared by the
    * key and the ScaleFixSpec bloom-vs-plain scan-rows measurement.
    * FIXTURE-ONLY layout: the `repartition(1)` exists solely so
    * `parquet.block.size` controls the row-group count of ONE file that
    * the skip measurement can reason about — a production bloom-indexed
    * sink keeps its write sharded (each shard carries its own per-row-group
    * blooms; the skip math is per row group, not per file, so sharding
    * changes nothing about pruning). Built once per (JVM, sf). */
  private[graft] def bloomLayout(spark: SparkSession, sf: String,
      bloom: Boolean): String = {
    val dir = tmpDir(if (bloom) "bloomy" else "bloomn", sf)
    graft.util.Scratch.once(dir) {
      val w = orders(spark, sf)
        .select(col("o_orderkey"), md5(col("o_orderkey").cast("string")).as("ck"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(1) // one file, block.size controls row-group count
        .write.mode("overwrite")
        .option("parquet.block.size", (64 * 1024).toString)
        .option("parquet.enable.dictionary", "false")
      (if (bloom) w.option("parquet.bloom.filter.enabled#ck", "true") else w)
        .parquet(dir)
    }
  }

  /** Dynamic partition pruning exercised for real (closes SURVEY §4.1's
    * "not exercisable on single-file fixtures" row): orders land
    * hive-partitioned by status in scratch, then JOIN a filtered tiny dim
    * on the partition column — Catalyst inserts a dynamicpruning subquery
    * into the fact scan's partition filters, so only the dim-selected
    * partition directories are read at runtime. At 100 TB this is the
    * difference between scanning one day/status partition and scanning
    * the lake; plan asserted in ScaleFixSpec. Oracle: the join to the
    * filtered distinct-status dim is provably the plain WHERE filter. */
  def joinDppPrune(spark: SparkSession, sf: String): DataFrame = {
    // hive-partitioned fixture layout, built once per (JVM, sf)
    val dir = graft.util.Scratch.once(tmpDir("dpp", sf)) {
      orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          to_date(date_trunc("mon", col("o_orderdate"))).as("month"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmpDir("dpp", sf))
    }
    val fact = spark.read.parquet(dir)
    // the dim filter is on a NON-join column, so the surviving partition
    // values are only known at runtime — static constraint propagation
    // can't pre-prune, forcing the dynamicpruning subquery on the scan
    val dim = orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderstatus").as("status")).distinct()
    fact.join(dim, fact("o_orderstatus") === dim("status"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("month"))
  }

  /** Bucketed co-located join: both sides written bucketed by the join key
    * (8 buckets, sorted), so the sort-merge join runs with NO shuffle
    * exchange on either side — the bucketing IS the exchange, paid once at
    * write time. This is the 100 TB pattern for repeated fact-fact joins;
    * ScaleSpec asserts the plan has no Exchange under the join. */
  private val bucketedMemo = graft.util.Memos.setupMemo[Unit]
  private val bucketedLock = new Object

  def joinBucketed(spark: SparkSession, sf: String): DataFrame = {
    // fixed per-sf table names + overwrite (round-3 hygiene fix): repeated
    // invocations rewrite the same two catalog entries and paths instead of
    // accumulating UUID-named tables; files live under runRoot and are
    // removed by its shutdown hook.
    val oTbl = s"orders_b_${sfTag(sf)}"; val lTbl = s"lineitem_b_${sfTag(sf)}"
    // build ONCE per (session, sf) — the two bucketed writes were ~85% of
    // this key's bench time and the fixture is identical per invocation.
    // The lock wraps the WHOLE memo lookup (review round 17 second pass):
    // TrieMap.getOrElseUpdate evaluates a racing build twice, and the
    // second overwrite would delete files the first caller's already-
    // running join is reading — under the lock the racer finds the memo
    // populated and builds nothing.
    bucketedLock.synchronized(
      graft.util.Memos.cached(bucketedMemo, spark, sf) {
      orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmpDir("bko", sf)).saveAsTable(oTbl)
      lineitem(spark, sf)
        .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qf"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmpDir("bkl", sf)).saveAsTable(lTbl)
    })
    // MERGE hint: at fixture scale Spark would broadcast the small side and
    // never touch the bucketed layout; the point of this operator is the
    // shuffle-free sort-merge path, which is what wins when BOTH sides are
    // fact-sized (the 100 TB case — nothing to broadcast).
    spark.table(lTbl)
      .join(spark.table(oTbl).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("qf")).as("sum_q"))
      .orderBy(col("o_orderpriority"))
  }

  /** Manual skew salting surfaced as a query: the salted join must produce
    * EXACTLY the plain join's aggregate (the oracle is the plain SQL), only
    * the physical distribution differs — 8 salt shards spread any hot
    * orderkey across 8 tasks instead of one straggler. */
  def joinSkewSalted(spark: SparkSession, sf: String): DataFrame = {
    val li = lineitem(spark, sf)
      .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qf"))
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    graft.util.Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("qf")).as("sum_q"))
      .orderBy(col("o_orderpriority"))
  }

  /** Pure range join (NO equi key) made hash-joinable by bucketing the range
    * dimension: each signup's 1-hour window spans exactly two hour buckets,
    * so exploding the probe side into its two buckets turns an O(n·m)
    * nested-loop into an equi-join on the bucket + residual filter — THE
    * standard rewrite that keeps range joins alive at 100 TB (Spark plans
    * BroadcastNestedLoopJoin for bare non-equi conditions). Results are
    * provably identical to the naive predicate, which is the oracle. */
  def joinRangeBucketed(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
    val s = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("s_event_id"), col("ts").as("s_ts"),
        date_trunc("hour", col("ts")).as("h0"))
      .select(col("s_event_id"), col("s_ts"),
        explode(array(col("h0"), col("h0") + expr("INTERVAL 1 HOUR"))).as("bucket"))
    val e = ev.select(col("ts").as("e_ts"),
      date_trunc("hour", col("ts")).as("bucket"))
    s.join(e, Seq("bucket"))
      .where(col("e_ts") >= col("s_ts") &&
        col("e_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("s_event_id"))
      .agg(count(lit(1)).as("n_in_window"))
      .orderBy(col("s_event_id"))
  }

  /** Z-ORDER layout sink: interleave the low 8 bits of (custkey, orderkey)
    * into a 16-bit space-filling-curve value, sort the write by it, land
    * parquet in scratch, read back, and report per-curve-bucket min/max of
    * BOTH dimensions — the locality evidence: rows near on the curve are
    * near in both keys, so min/max row-group stats prune scans filtered on
    * EITHER column. This is the lake-layout technique (Delta/Iceberg
    * OPTIMIZE ZORDER) for multi-dimensional pruning at 100 TB; the curve
    * value is exact integer math, so the whole thing is oracle-checkable. */
  def sinkZorder(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("zorder", sf)
    def bitsOf(c: Column, shiftTo: Int => Int): Column =
      (0 until 8).map[Column] { i =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), shiftTo(i))
      }.reduce(_ + _)
    val z = bitsOf(pmod(col("o_custkey"), lit(256L)), i => 2 * i)
      .plus(bitsOf(pmod(col("o_orderkey"), lit(256L)), i => 2 * i + 1))
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), z.cast("long").as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .groupBy((col("zval") / 4096).cast("int").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("o_orderkey")).as("min_ord"), max(col("o_orderkey")).as("max_ord"))
      .orderBy(col("zbucket"))
  }

  /** Z-ORDER FILE PRUNING through the versioned connector (round 13 —
    * closes the loop `sink_zorder` opened: that key demonstrates curve
    * LOCALITY on plain parquet; this one proves the layout actually
    * prunes a manifest-planned scan). Both columns are quantile-bucketed
    * into 16 ranks (one exact-`percentile` aggregate per column — the
    * same broadcast-sized prepass Delta's OPTIMIZE ZORDER pays as
    * range_partition_id), the rank bits interleave into an 8-bit curve
    * value, and the table lands range-partitioned + sorted on it. The
    * payoff at 100 TB: each file's min/max envelope is narrow in BOTH
    * dimensions, so a selective probe on EITHER column plans a fraction
    * of the files — where a linear sort on custkey leaves an orderkey
    * probe planning every file (the REQUIREd control). Probes are the
    * bottom decile of each key (never straddles a top-level curve split,
    * so the REQUIRE is layout-robust); rows are fully oracled. */
  def scanZorderPrune(spark: SparkSession, sf: String): DataFrame = {
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
    val zdir = tmpDir("zprune", sf)
    val ldir = tmpDir("zprunectl", sf)
    graft.util.Scratch.once(zdir) {
      val cutsSql = (1 to 15).map(i => i / 16.0).mkString(",")
      val cutRow = o.agg(
        expr(s"percentile(o_custkey, array($cutsSql))"),
        expr(s"percentile(o_orderkey, array($cutsSql))")).head()
      def bucket(c: Column, cuts: Seq[Double]): Column =
        cuts.map(t => when(c > lit(t), 1).otherwise(0)).reduce(_ + _)
      val cb = bucket(col("o_custkey"), cutRow.getSeq[Double](0))
      val ob = bucket(col("o_orderkey"), cutRow.getSeq[Double](1))
      val z = (0 until 4).map(i =>
        shiftleft(shiftright(cb, i).bitwiseAND(lit(1)), 2 * i + 1) +
          shiftleft(shiftright(ob, i).bitwiseAND(lit(1)), 2 * i)).reduce(_ + _)
      o.withColumn("zval", z.cast("long"))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions("zval")
        .write.format("graft-sink").option("path", zdir)
        .option("distributionMode", "none").mode("overwrite").save()
    }
    graft.util.Scratch.once(ldir) {
      o.write.format("graft-sink").option("path", ldir)
        .option("sortBy", "o_custkey").option("writePartitions", "8")
        .option("distributionStrict", "true").mode("overwrite").save()
    }
    val nZ = graft.sources.GraftManifest.readVersion(zdir, None).get.metas.size
    val nL = graft.sources.GraftManifest.readVersion(ldir, None).get.metas.size
    require(nZ == 8 && nL == 8, s"fixture: want 8 files each, got z=$nZ ctl=$nL")
    // bottom-decile thresholds as pushable LITERALS (driver-side 4-value
    // fetch — the broadcast a real cluster ships)
    val mm = o.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val custHi = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 10
    val ordHi = mm.getLong(2) + (mm.getLong(3) - mm.getLong(2)) / 10
    def table(d: String): DataFrame = spark.read.format("graft-sink")
      .option("path", d).load().select(col("o_orderkey"), col("o_custkey"))
    val zCustProbe = table(zdir).where(col("o_custkey") <= custHi)
    val zOrdProbe = table(zdir).where(col("o_orderkey") <= ordHi)
    val zc = graftScanParts(zCustProbe)
    val zo = graftScanParts(zOrdProbe)
    val lo = graftScanParts(table(ldir).where(col("o_orderkey") <= ordHi))
    val lc = graftScanParts(table(ldir).where(col("o_custkey") <= custHi))
    require(lo == nL,
      s"control: an orderkey probe on the custkey-sorted layout must plan all $nL files, planned $lo")
    require(lc < nL, s"control sanity: custkey probe must prune, planned $lc of $nL")
    require(zc < nZ && zo < nZ,
      s"z-order must prune BOTH dimensions: cust $zc, ord $zo of $nZ files")
    zCustProbe.withColumn("probe", lit("cust"))
      .unionByName(zOrdProbe.withColumn("probe", lit("ord")))
      .withColumn("both_pruned", lit((zc < nZ && zo < nZ).toString))
      .withColumn("ctl_full", lit((lo == nL).toString))
      .select(col("probe"), col("o_orderkey"), col("o_custkey"),
        col("both_pruned"), col("ctl_full"))
      .orderBy(col("probe"), col("o_orderkey"))
  }

  /** Small-file COMPACTION (the lake maintenance op): documents land as 64
    * deliberately-tiny files (the streaming-ingest pathology), then are
    * compacted by an explicit `repartition(2)` rewrite — at 100 TB this is
    * the scheduled OPTIMIZE job that keeps scan task counts sane. Output
    * is the per-lang aggregate over the COMPACTED copy, so the oracle
    * (straight from the source table) proves the rewrite lossless; the
    * before/after file counts are asserted in ScaleFixSpec. */
  def etlCompactFiles(spark: SparkSession, sf: String): DataFrame = {
    // the 64-tiny-file pathology is the FIXTURE (built once per JVM/sf);
    // the compaction rewrite below is the operator under test
    val smallDir = graft.util.Scratch.once(tmpDir("small", sf)) {
      documents(spark, sf).repartition(64)
        .write.mode("overwrite").parquet(tmpDir("small", sf))
    }
    val bigDir = tmpDir("compact", sf)
    spark.read.parquet(smallDir).repartition(2)
      .write.mode("overwrite").parquet(bigDir)
    spark.read.parquet(bigDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  /** Schema EVOLUTION read: two parquet batches with different columns
    * (v1 carries `cents`, v2 carries `prio`) land in one dataset dir;
    * `mergeSchema=true` unions the schemas and nulls the missing columns —
    * the append-only lake reality where producers add fields over time.
    * Exact-typed output; the oracle reproduces the union with CASE. */
  def etlSchemaEvolution(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("evolve", sf)
    val o = orders(spark, sf)
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    o.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority").as("prio"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents_v1"),
        count(col("prio")).as("n_with_prio"))
      .orderBy(col("o_orderstatus"))
  }

  /** Exact moment statistics without a float anywhere: per returnflag, the
    * integer power sums and the variance / covariance NUMERATORS
    * (n·Σx² − (Σx)², n·Σxy − Σx·Σy). Downstream consumers derive
    * variance/correlation by one division; the engine output stays exact
    * and order-independent (D1/D3 taken to their conclusion). */
  def aggMoments(spark: SparkSession, sf: String): DataFrame = {
    val q = floor(col("l_quantity")).cast("long")
    val d = floor(col("l_discount") * 100).cast("long")
    lineitem(spark, sf)
      .select(col("l_returnflag"), q.as("q"), d.as("d"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sum_q2"),
        sum(col("d")).as("sum_d"),
        sum(col("q") * col("d")).as("sum_qd"))
      .select(col("l_returnflag"), col("n"), col("sum_q"), col("sum_q2"),
        (col("n") * col("sum_q2") - col("sum_q") * col("sum_q")).as("var_num_q"),
        (col("n") * col("sum_qd") - col("sum_q") * col("sum_d")).as("cov_num_qd"))
      .orderBy(col("l_returnflag"))
  }

  /** Corpus-BALANCE diagnostic: per source, the Gini impurity of its
    * language mix as an EXACT RATIONAL — gini = 1 − Σ(c/N)² is emitted as
    * numerator N² − Σc² over denominator N², both integers, so the result
    * is order-independent and hash-comparable with no float anywhere (the
    * [[aggMoments]] discipline). This is the mix-monitoring pass a
    * curation pipeline runs per domain/shard before sampling weights are
    * set; two cascaded groupBys, both map-side combinable, no join. */
  def aggGiniDiversity(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_langs"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("n"), col("n_langs"),
        (col("n") * col("n") - col("sum_c2")).as("gini_num"),
        (col("n") * col("n")).as("gini_den"))
      .orderBy(col("source"))

  /** The [[graft.plans.ApproxDistinctRewrite]] rule exercised end to end:
    * the SAME exact `count(DISTINCT user_id)` query is run once under the
    * opt-in flag (optimizer swaps in a HyperLogLog++ sketch — asserted on
    * the optimized plan in PlanShapeSpec) and once without (exact), then
    * the sketch answer is bound-checked against the exact one per group
    * ([[graft.ops.Relational.aggApproxDistinct]]'s flag pattern). The
    * flag is set, the rewritten plan MATERIALIZED via localCheckpoint
    * inside the scope, and restored in a finally — a leaked `true` would
    * silently approximate every later distinct count in the session. */
  def aggDistinctRewriteRule(spark: SparkSession, sf: String): DataFrame = {
    import graft.plans.ApproxDistinctRewrite
    if (!spark.experimental.extraOptimizations.contains(ApproxDistinctRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxDistinctRewrite
    def q = events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"))
    // withConfs serializes on the session and restores the PRIOR value
    // (or unset), so a concurrent caller's toggle is never clobbered.
    val approx = withConfs(spark, ApproxDistinctRewrite.ConfKey -> "true") {
      q.localCheckpoint() // materialize WHILE the rewrite is active
    }
    val exact = q.withColumnRenamed("users", "n_exact")
    exact.join(approx.withColumnRenamed("users", "approx_users"), "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx_users") - col("n_exact")) * 10 <= col("n_exact"))
          .cast("int").as("within_10pct"))
      .orderBy(col("event_type"))
  }

  /** EQUI-DEPTH HISTOGRAM — the optimizer-statistics artifact (selectivity
    * estimation reads exactly this table): 16 buckets of equal row count
    * with their value boundaries. Global rank comes from the DISTRIBUTED
    * two-pass [[graft.util.Ids.zipWithIndex]] over a range-partitioned
    * sort — NOT a single-partition row_number window — so building stats
    * on 100 TB stays sharded end to end; bucket assignment is then a pure
    * projection (rank·16 div N) and one groupBy. Ordering key includes
    * the row identity, so ranks (and thus boundaries) are deterministic
    * despite duplicate prices. */
  def statsEquiDepthHist(spark: SparkSession, sf: String): DataFrame = {
    val base = lineitem(spark, sf)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
    val tot = base.count()
    graft.util.Ids.zipWithIndex(base, "r",
        col("cents"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", expr(s"(r * 16) div $tot").cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  /** CBO JOIN REORDERING — the consumption half of the statistics story
    * ([[statsEquiDepthHist]] builds the selectivity artifact; here the
    * engine's cost-based optimizer actually USES catalog stats to replan
    * a join): the three TPC-H-ish tables are registered as catalog tables
    * and ANALYZEd (row counts + join/filter column NDVs), and a 3-way
    * join deliberately WRITTEN in the worst order — fact ⋈ orders first,
    * filtered tiny customer last — is re-ordered by
    * `spark.sql.cbo.joinReorder` to join orders ⋈ filtered-customer
    * first, so the big fact joins against the already-reduced side. At
    * 100 TB that flip is the difference between shuffling the full fact
    * join output and shuffling ~1/5th of it. The conf scope follows the
    * withConfs discipline (CBO runs at optimization time, so the plan
    * materializes INSIDE the scope); ScaleFixSpec asserts the leaf order
    * actually flips vs the stats-free plan. Oracle: the same join in
    * plain SQL — reordering must not change a row. */
  def joinCboReorder(spark: SparkSession, sf: String): DataFrame = {
    val q = cboJoinPlan(spark, sf)
    withConfs(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      q.localCheckpoint()
    }.orderBy(col("c_nationkey"))
  }

  /** Catalog registration + ANALYZE, once per (session, sf) — catalog
    * stats are session-scoped, so the memo is too. External tables over
    * the fixture parquet; ANALYZE computes row counts plus NDVs for the
    * join keys and the filter column (what joinReorder's cost model
    * reads). */
  private val cboReg = graft.util.Memos.setupMemo[Boolean]

  private def cboRegister(spark: SparkSession, sf: String): Unit = {
    graft.util.Memos.cached(cboReg, spark, sf) {
      val tag = sfTag(sf)
      val cols = Seq(
        "lineitem" -> "l_orderkey, l_extendedprice",
        "orders" -> "o_orderkey, o_custkey",
        "customer" -> "c_custkey, c_nationkey, c_mktsegment")
      for ((t, cs) <- cols) {
        val name = s"graft_cbo_${t}_$tag"
        spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet " +
          s"LOCATION '$sf/$t.parquet'")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS $cs")
      }
      true
    }
    ()
  }

  /** The deliberately-misordered 3-way join (shared with the ScaleFixSpec
    * leaf-order assertion). */
  private[graft] def cboJoinPlan(spark: SparkSession, sf: String): DataFrame = {
    cboRegister(spark, sf)
    val tag = sfTag(sf)
    spark.table(s"graft_cbo_lineitem_$tag")
      .join(spark.table(s"graft_cbo_orders_$tag"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(s"graft_cbo_customer_$tag")
          .where(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
  }

  /** COMPACT + VACUUM — the storage-lifecycle half of the versioned sink
    * (the OPTIMIZE/VACUUM pair every snapshot table needs once
    * [[sinkTimeTravel]] exists, because a table that only ever adds
    * versions keeps every superseded small file forever):
    *  1. v1 lands the aggregate as one small file PER TASK
    *     (`repartition(8)`) — the many-small-files shape every
    *     micro-batch ingest produces;
    *  2. OPTIMIZE: the head is read back THROUGH the connector and
    *     rewritten compact (`coalesce(1)`; at scale the coalesce width
    *     targets a file size, not 1) as overwrite-version v2 — a pure
    *     metadata swap for readers, content identical;
    *  3. VACUUM (retain 1): `GraftManifest.vacuum` drops v1's manifest
    *     FIRST, then the 8 data files no retained manifest references —
    *     ordered so no surviving manifest ever names a missing file.
    * The once-per-(JVM, sf) history build asserts each step's file
    * arithmetic; the registered output is the idempotent post-state —
    * (versions retained, head file count, rows, exact total) with the
    * rows/total re-derived by the oracle straight from events, proving
    * compaction+vacuum changed storage and only storage. */
  def sinkCompactVacuum(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttvac", sf)
    def agg(src: DataFrame): DataFrame = src
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      agg(events(spark, sf)).repartition(8)
        .write.format("graft-sink").option("path", dir).mode("append").save()
      val v1 = graft.sources.GraftManifest.readVersion(dir, None).get
      // round-8 writer creates part files LAZILY, so empty round-robin
      // tasks commit nothing: file count = non-empty tasks (≤ 8), still
      // the many-small-files shape OPTIMIZE exists for
      require(v1.files.size > 1 && v1.files.size <= 8,
        s"ingest shape: want >1 small task files, got ${v1.files.size}")
      spark.read.format("graft-sink").option("path", dir).load()
        .coalesce(1)
        // a rewrite conditions its commit on the version it compacted:
        // losing a race to a concurrent append throws instead of
        // truncating the appended rows away (VERDICT r7 wrong #1)
        .write.format("graft-sink").option("path", dir)
        .option("expectedBaseVersion", v1.version.toString)
        .mode("overwrite").save()
      // graceMs=0 is safe HERE only because Scratch.once guarantees a
      // single writer: production vacuums keep the default retention
      // window so in-flight task commits are never reclaimed
      val removed = graft.sources.GraftManifest.vacuum(dir, retainLast = 1, graceMs = 0L)
      require(removed == v1.files.size,
        s"vacuum must reclaim exactly v1's ${v1.files.size} files, got $removed")
    }
    val versions = graft.sources.GraftManifest.versions(dir)
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    spark.read.format("graft-sink").option("path", dir).load()
      .agg(count(lit(1)).as("n_rows"), sum(col("sum_cents")).as("total_cents"))
      .withColumn("n_versions", lit(versions.length.toLong))
      .withColumn("n_files", lit(head.files.size.toLong))
      .select(col("n_versions"), col("n_files"), col("n_rows"), col("total_cents"))
  }

  /** SNAPSHOT DIFF — "what changed between version 1 and the head", the
    * table_changes/CDC-from-snapshots read every snapshot table owes its
    * consumers (downstream jobs that want the delta without replaying the
    * source). Two committed versions are built once per (JVM, sf) with
    * planted differences across user_id%4 buckets: bucket 0 only in v1
    * (removed), bucket 3 only in v2 (added), bucket 1 identical in both
    * (unchanged), bucket 2 value-filtered in v2 (changed). The diff is
    * ONE full-outer join of the two version-pinned connector reads on the
    * group key with a 4-way CASE — shuffle-partitioned on the key, no
    * driver-side compare, which is the shape that survives a 100 TB
    * table: cost is two manifest-planned scans plus one join on the
    * snapshot key. The oracle recomputes both snapshots from events and
    * takes the same full-outer diff. */
  def sinkSnapshotDiff(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttdiff", sf)
    def agg(src: DataFrame): DataFrame = src
      .groupBy(col("event_type"), (col("user_id") % 4).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      agg(events(spark, sf).where(col("user_id") % 4 < 3))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      agg(events(spark, sf).where(col("user_id") % 4 > 0 &&
          (col("user_id") % 4 =!= 2 || col("value") < 50)))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
      .select(col("event_type"), col("bucket"),
        col("n").as("n_v1"), col("sum_cents").as("cents_v1"))
    val v2 = spark.read.format("graft-sink").option("path", dir).load()
      .select(col("event_type").as("event_type2"), col("bucket").as("bucket2"),
        col("n").as("n_v2"), col("sum_cents").as("cents_v2"))
    v1.join(v2, col("event_type") === col("event_type2") &&
        col("bucket") === col("bucket2"), "full_outer")
      .select(
        coalesce(col("event_type"), col("event_type2")).as("event_type"),
        coalesce(col("bucket"), col("bucket2")).as("bucket"),
        when(col("n_v1").isNull, "added")
          .when(col("n_v2").isNull, "removed")
          .when(col("n_v1") === col("n_v2") && col("cents_v1") === col("cents_v2"),
            "unchanged")
          .otherwise("changed").as("status"),
        (coalesce(col("n_v2"), lit(0L)) - coalesce(col("n_v1"), lit(0L)))
          .as("delta_n"),
        (coalesce(col("cents_v2"), lit(0L)) - coalesce(col("cents_v1"), lit(0L)))
          .as("delta_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** CATALOG MANAGEMENT surface (VERDICT r6 missing #3 — the metastore
    * leg of a lakehouse ETL, exercised through Spark's own catalog rather
    * than reimplemented): three fixture tables register as external
    * catalog tables, a fourth is CREATED through the catalog and then
    * SCHEMA-EVOLVED with `ALTER TABLE ADD COLUMNS` — the catalog schema
    * gains the column while the already-written files lack it, and reads
    * resolve the missing column to NULL (the metastore-mediated evolution
    * contract, the write-side twin of `etl_schema_evolution`'s
    * mergeSchema read). The output is pure catalog metadata — per-table
    * column counts from `spark.catalog.listColumns` joined with real
    * distributed row counts — and the oracle re-derives both from DuckDB's
    * DESCRIBE, so the catalog's view of every table is hash-checked
    * against the data's. Registration is memoized per (session, sf) like
    * the CBO stats — catalog state is a build-once artifact. */
  def metaCatalogDescribe(spark: SparkSession, sf: String): DataFrame = {
    catRegister(spark, sf)
    val tag = sfTag(sf)
    val tables = Seq("region", "nation", "supplier")
      .map(t => t -> s"graft_cat_${t}_$tag") :+
      ("nation_evolved" -> s"graft_cat_evolved_$tag")
    // listTables is the catalog listing surface: all four must be visible
    val listed = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_cat_") && col("name").endsWith(tag))
      .count()
    require(listed >= tables.size, s"catalog lists $listed graft_cat tables, want ${tables.size}")
    // evolution contract: the added column exists in the catalog schema and
    // reads as NULL over the pre-evolution files
    val evo = spark.table(s"graft_cat_evolved_$tag")
    require(evo.where(col("note").isNotNull).count() == 0,
      "pre-evolution files must read the added column as NULL")
    import spark.implicits._
    tables.map { case (label, name) =>
      (label, spark.catalog.listColumns(name).count(), spark.table(name).count())
    }.toDF("tbl", "n_cols", "n_rows").orderBy(col("tbl"))
  }

  /** Catalog registration + evolution, once per (session, sf): external
    * tables over the fixture parquet plus one table whose schema is
    * evolved THROUGH the catalog after its files are written. */
  private val catReg = graft.util.Memos.setupMemo[Boolean]

  private def catRegister(spark: SparkSession, sf: String): Unit = {
    graft.util.Memos.cached(catReg, spark, sf) {
      val tag = sfTag(sf)
      for (t <- Seq("region", "nation", "supplier"))
        spark.sql(s"CREATE TABLE IF NOT EXISTS graft_cat_${t}_$tag " +
          s"USING parquet LOCATION '$sf/$t.parquet'")
      val evo = s"graft_cat_evolved_$tag"
      if (!spark.catalog.tableExists(evo)) {
        spark.table(s"graft_cat_nation_$tag").write
          .option("path", tmpDir("catevo", sf)).saveAsTable(evo)
        spark.sql(s"ALTER TABLE $evo ADD COLUMNS (note STRING)")
      }
      true
    }
    ()
  }

  /** DYNAMIC PARTITION OVERWRITE — the daily-refresh idiom every
    * partitioned estate runs: a full load lays orders out by year, then a
    * delta batch covering ONLY the latest year is written with
    * `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the batch and leaves every other year's files
    * untouched. The delta doubles its cents so the refresh is observable:
    * the read-back proves prior years survived (static overwrite mode
    * would have deleted them — the oracle distinguishes exactly that) and
    * the refreshed year reflects the new data. At 100 TB this is the
    * difference between rewriting one day's partition and rewriting the
    * table. */
  def sinkDynamicOverwrite(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("dynover", sf)
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      year(col("o_orderdate")).as("yr"))
    o.write.mode("overwrite").partitionBy("yr").parquet(dir) // full load (static)
    val maxYr = o.agg(max(col("yr"))).head().getInt(0)
    val delta = o.where(col("yr") === maxYr)
      .withColumn("cents", col("cents") * 2)
    withConfs(spark,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      delta.write.mode("overwrite").partitionBy("yr").parquet(dir)
    }
    spark.read.parquet(dir)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("yr"))
  }

  /** AQE JOIN-STRATEGY SWITCH — the runtime twin of [[joinShuffleHashHint]]
    * and the last AQE feature the engine exercises (skew split, partition
    * coalescing and DPP are already plan-asserted): the dim side sits
    * behind a filter + distinct, so the STATIC size-only estimator passes
    * the full-orders size through and plans a sort-merge join; at runtime
    * the materialized shuffle stage is a few hundred rows, and
    * AdaptiveSparkPlanExec re-plans the join to broadcast-hash (asserted
    * against the AQE-off plan in ScaleFixSpec). This is the fn_collate_ci
    * lesson institutionalized: when a build side's cheapness is only
    * visible at runtime, AQE — not a hand hint — removes the full-fact
    * sort. At 100 TB that is the difference between sorting the fact table
    * and streaming it once. */
  def joinAqeBhjSwitch(spark: SparkSession, sf: String): DataFrame =
    withConfs(spark,
      // static planner may NEVER broadcast; only runtime stage stats may
      // (the documented split: regular threshold off, adaptive threshold
      // on) — so the conversion is forced to happen where it happens at
      // 100 TB: after the build side's true size is measured
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1MB") {
      aqeBhjPlan(spark, sf).localCheckpoint() // AQE re-plans at execution
    }

  /** The un-materialized query [[joinAqeBhjSwitch]] scopes (shared with
    * the ScaleFixSpec plan assertion). */
  private[graft] def aqeBhjPlan(spark: SparkSession, sf: String): DataFrame = {
    val dim = orders(spark, sf)
      .where(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey").as("k")).distinct()
    lineitem(spark, sf)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .join(dim, col("l_orderkey") === col("k"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        countDistinct(col("k")).as("n_keys"))
  }

  /** JOIN-STRATEGY HINT surface: `hint("SHUFFLE_HASH")` pins the physical
    * join to ShuffledHashJoin — no sort on either side, a hash table built
    * per partition from the hinted side — where the planner's default for
    * two large inputs is sort-merge. At 100 TB this is the knob for joins
    * whose build side is too big to broadcast but small enough per
    * partition to hash (dim tables in the 1-10 GB band): SMJ pays two full
    * sorts it doesn't need. User hints outrank size heuristics, so the
    * choice is explicit and plan-asserted (ScaleFixSpec); the hint must
    * not change a row — the oracle is the plain join. */
  def joinShuffleHashHint(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .join(orders(spark, sf).hint("SHUFFLE_HASH")
          .select(col("o_orderkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("o_orderstatus"))

  /** AQE PARTITION COALESCING surfaced as a key: the aggregation shuffles
    * at the session's static width (32), but the runtime sizes of the map
    * outputs are tiny, so AdaptiveSparkPlanExec folds the post-shuffle
    * partitions down to a handful (AQEShuffleRead `coalesced`, asserted
    * on the EXECUTED plan in PlanShapeSpec). This is the adaptive half of
    * shuffle sizing at 100 TB: static width is provisioned for the
    * biggest stage, AQE shrinks every stage that turns out small, so
    * nobody schedules 32 near-empty reducers. Oracle is the plain
    * aggregate — AQE must not change a row. */
  def aggAqeCoalesce(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(pmod(col("user_id"), lit(64)).as("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("user_bucket"))

  /** MULTIPLE DISTINCT aggregates in one GROUP BY — the query shape Spark
    * plans through an Expand operator (one row replicated per distinct
    * column set, then two aggregation levels), because a single hash
    * aggregate cannot deduplicate two different columns at once. Worth
    * pinning as its own key: at 100 TB the Expand multiplies shuffle input
    * by the number of distinct clauses, which is why a real pipeline
    * rewrites hot multi-distinct reports onto sketches
    * ([[aggApproxDistinct]]) — this key is the exact baseline of that
    * trade. */
  def aggMultiDistinct(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("day"))

  /** SPEARMAN RANK CORRELATION with no float anywhere: tie-averaged ranks
    * are kept integral by working in DOUBLED rank units (2·avgrank =
    * 2·minrank + ties − 1 — always an integer), and the output is the
    * correlation's exact numerator and both denominator factors à la
    * [[aggMoments]]; rho² = num²/(denx·deny) by one consumer-side division.
    * The 1%-of-orders sample bounds n so fourth-power rank sums stay inside
    * BIGINT through sf1 — rank-based statistics at full 100 TB run on a
    * sampled panel by construction (ranks are a global total order; the
    * panel is what makes them distributable). Two windows + one groupBy,
    * all partitioned by the group key. */
  def aggCorrSpearman(spark: SparkSession, sf: String): DataFrame = {
    val base = lineitem(spark, sf)
      .where(pmod(col("l_orderkey"), lit(100)) === 0)
      .select(col("l_returnflag").as("g"),
        floor(col("l_quantity")).cast("long").as("x"),
        floor(col("l_discount") * 100).cast("long").as("y"))
    def rank2(v: String) = {
      val wRank = Window.partitionBy(col("g")).orderBy(col(v).asc)
      val wTies = Window.partitionBy(col("g"), col(v))
      rank().over(wRank).cast("long") * 2 + count(lit(1)).over(wTies) - 1
    }
    base
      .withColumn("rx", rank2("x")).withColumn("ry", rank2("y"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"), sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sx2"),
        sum(col("ry") * col("ry")).as("sy2"))
      .select(col("g").as("l_returnflag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("rho_num"),
        (col("n") * col("sx2") - col("sx") * col("sx")).as("den_x"),
        (col("n") * col("sy2") - col("sy") * col("sy")).as("den_y"))
      .orderBy(col("l_returnflag"))
  }

  /** EXACT WEIGHTED MEDIAN without a sketch, in TWO PHASES so no task ever
    * sorts a whole group: (1) weights are aggregated into coarse price
    * BUCKETS (cents div 1e5 — both shuffles map-side combinable) and a
    * window over the per-group bucket summary (thousands of rows, not the
    * fact table) locates the single bucket holding the median plus the
    * cumulative weight BELOW it; (2) only rows of that one bucket are
    * re-aggregated per distinct price and a window over them — bounded by
    * within-bucket value cardinality — finds the smallest price whose
    * below-bucket + in-bucket running weight reaches half the total. A
    * single flag-partitioned window over all distinct prices would be 3
    * near-sequential sorts of the whole table at 100 TB; this plan's
    * windows are both bounded regardless of data size. Ordering keys are
    * unique at every window (bucket, then distinct cents) so the result
    * is order-independent across engines (D3); integers end to end. */
  def aggWeightedMedian(spark: SparkSession, sf: String): DataFrame = {
    val rows = lineitem(spark, sf)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        floor(col("l_quantity")).cast("long").as("wt"))
      .withColumn("bucket", expr("cents div 100000"))
    // phase 1: per-bucket weight totals → the bucket containing the median
    val bw = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(col("l_returnflag"))
    val med = rows.groupBy(col("l_returnflag"), col("bucket"))
      .agg(sum(col("wt")).as("bw"))
      .withColumn("cum", sum(col("bw")).over(bw))
      .withColumn("tot", sum(col("bw")).over(tw))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min_by(struct(col("bucket"), (col("cum") - col("bw")).as("below"),
        col("tot")), col("bucket")).as("m"))
      .select(col("l_returnflag"), col("m.bucket").as("med_bucket"),
        col("m.below").as("below"), col("m.tot").as("tot"))
    // phase 2: resolve the exact price inside that one bucket
    val cw = Window.partitionBy(col("l_returnflag")).orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(broadcast(med), Seq("l_returnflag"))
      .where(col("bucket") === col("med_bucket"))
      .groupBy(col("l_returnflag"), col("cents"), col("below"), col("tot"))
      .agg(sum(col("wt")).as("w"))
      .withColumn("cum", col("below") + sum(col("w")).over(cw))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cents")).as("wmedian_cents"),
        min(col("tot")).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable-sketch surface (the incremental-analytics primitive at scale:
    * per-partition sketches stored once, unioned later instead of rescanning
    * raw data). Proves the property that MATTERS about mergeability on real
    * data: BOTH the single-pass sketch's estimate AND the estimate of the
    * union of two half-sketches stay within a ±5% bound of the exact
    * distinct count (3σ at the default lgK=12's ~1.6% RSE). NOT asserted:
    * exact estimate equality between the two paths — round 17's sf0.1 run
    * proved that is no datasketches invariant (the union target promotes a
    * sketch across internal modes, e.g. sparse→HLL, and the estimator
    * changes with the mode; at sf0.01 both paths happened to stay sparse
    * and agreed). Sketch bytes and raw estimates never leave the plan
    * (engine-specific, D3); the output is the exact count and the two
    * accuracy flags, which the oracle pins to 1. */
  def aggHllMerge(spark: SparkSession, sf: String): DataFrame = {
    val d = documents(spark, sf)
    val whole = d.groupBy(col("lang")).agg(
      hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("est_whole"),
      count_distinct(col("doc_id")).as("n_exact"))
    val merged = d.withColumn("half", pmod(col("doc_id"), lit(2)))
      .groupBy(col("lang"), col("half"))
      .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      .groupBy(col("lang"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    whole.join(merged, "lang")
      .select(col("lang"), col("n_exact"),
        (abs(col("est_whole") - col("n_exact")) * 20 <= col("n_exact"))
          .cast("int").as("whole_within_5pct"),
        (abs(col("est_merged") - col("n_exact")) * 20 <= col("n_exact"))
          .cast("int").as("merged_within_5pct"))
      .orderBy(col("lang"))
  }

  /** Set/restore session confs around `body`, synchronized on the session
    * (same shared-conf discipline as Streaming.withStreamShuffle): a
    * concurrent caller serializes here instead of silently planning under
    * someone else's toggles. */
  private[graft] def withConfs[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T =
    spark.synchronized {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** Runtime BLOOM-FILTER join pruning (Catalyst's InjectRuntimeFilter): a
    * selective filter on the dim side is turned into a bloom filter that is
    * pushed into the fact scan, so fact rows that cannot join die before
    * the shuffle — at 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the ~1/15th that survives. The fixture
    * thresholds are lowered inside a set/restore scope (the fixture fact
    * side is far below the 10 GB production default) and broadcast is
    * disabled so the join actually shuffles (nothing to prune otherwise);
    * the plan is materialized INSIDE the scope via localCheckpoint — the
    * rule runs at optimization time, which is execution time, not
    * DataFrame-construction time. Bloom injection is asserted on the plan
    * in ScaleFixSpec; false positives only ever pass extra rows to the
    * join, so the result — and the oracle — is the plain join's. */
  def joinBloomPrune(spark: SparkSession, sf: String): DataFrame = {
    val agg = withBloomConfs(spark) { bloomJoinPlan(spark, sf).localCheckpoint() }
    agg.orderBy(col("o_orderstatus"))
  }

  /** The conf scope the bloom key plans under (shared with ScaleFixSpec). */
  private[graft] def withBloomConfs[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The shuffle join InjectRuntimeFilter targets (shared with the plan
    * spec, which asserts might_contain lands in the fact scan's filters). */
  private[graft] def bloomJoinPlan(spark: SparkSession, sf: String): DataFrame = {
    val li = lineitem(spark, sf)
      .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qf"))
    val o = orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("qf")).as("sum_q"))
  }

  /** Count-min sketch frequency estimation, built entirely from relational
    * primitives: d=4 hash rows × w=128 buckets. The counter table is ONE
    * explode→groupBy pass over the fact (512 rows total, independent of
    * data size — the mergeable-summary property that makes CMS the
    * heavy-hitter sketch at 100 TB: per-partition counters union by
    * addition, no raw rescan). Estimates for the top-25 keys come from a
    * broadcast join against the tiny counter table; est = min over the 4
    * rows. Like agg_hll_merge, sketch internals never leave the plan: the
    * output is the exact count plus two flags the oracle pins to 1 —
    * `never_under` (CMS cannot underestimate, a deterministic guarantee)
    * and `within_bound` (est−exact ≤ 2N/w; expected collision mass per
    * counter is <N/w, so the min of 4 sits well inside 2N/w; fixture
    * margin checked before declaring). */
  def aggCmsFreq(spark: SparkSession, sf: String): DataFrame = {
    val D = 4; val W = 128
    val base = lineitem(spark, sf).select(col("l_partkey").as("pk"))
    val rows = (0 until D).map(r =>
      struct(lit(r).as("r"), pmod(xxhash64(lit(r), col("pk")), lit(W)).as("b")))
    val counters = base
      .select(explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val total = base.agg(count(lit(1)).as("n_total"))
    val top = base.groupBy(col("pk")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("pk").asc).limit(25)
    val est = top
      .select(col("pk"), col("n_exact"),
        explode(array(rows: _*)).as("rb"))
      .join(broadcast(counters),
        col("rb.r") === counters("r") && col("rb.b") === counters("b"))
      .groupBy(col("pk"), col("n_exact"))
      .agg(min(col("cnt")).as("est"))
    est.crossJoin(broadcast(total))
      .select(col("pk"), col("n_exact"),
        (col("est") >= col("n_exact")).cast("int").as("never_under"),
        ((col("est") - col("n_exact")) * W <= col("n_total") * 2)
          .cast("int").as("within_bound"))
      .orderBy(col("n_exact").desc, col("pk").asc)
  }

  /** Read through the custom DataSource V2 connector (graft.sources.
    * DocsSource): the doc_id predicate narrows the planned range at the
    * SOURCE (connector-level pushdown — asserted on the plan in
    * SourceSpec) and the deterministic md5 generator lets DuckDB rebuild
    * the exact rows, so the whole connector stack — TableProvider →
    * ScanBuilder → partition planning → PartitionReader — sits under the
    * same hash-match oracle as every relational key. */
  def sourceCustomV2(spark: SparkSession, sf: String): DataFrame =
    spark.read.format("graft-docs").option("nDocs", "1000").load()
      .where(col("doc_id") >= 100 && col("doc_id") < 200)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id"))

  /** Custom-SINK roundtrip through the V2 write path
    * (graft.sources.GraftSinkProvider): the aggregate is written via the
    * connector's task-commit (.tmp → .csv rename) + job-commit (atomic
    * versioned `_manifest-v{N}`) protocol, then read back ONLY as the
    * legacy `_manifest` head copy directs — rows from files the manifest
    * names, row count cross-checked against the manifest's committed total
    * (a torn write would fail loudly). Overwrite mode (SupportsTruncate)
    * keeps repeated invocations idempotent now that append MERGES prior
    * versions. The oracle recomputes the same aggregate straight from
    * events. */
  def sinkCustomV2(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("v2sink", sf)
    events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      // this key demonstrates the V1 protocol surface (legacy `_manifest`
      // head copy + raw csv() read-back of the named parts) — pin the v1
      // line codec (default is parquet since round 11)
      .write.format("graft-sink").option("format", "csv")
      .option("path", dir).mode("overwrite").save()
    // A malformed line fails loudly (the manifest is the integrity record —
    // a silently-skipped line would be a silently-dropped file), and an
    // empty committed set reads back as an empty frame instead of letting
    // csv() throw on a zero-path read.
    // STALENESS BOUND of the legacy `_manifest` head copy: it is refreshed
    // only on FULL commits (truncates and every CheckpointEvery-th append),
    // so after a run of delta appends it can trail the true head by up to
    // CheckpointEvery-1 commits. This key writes in OVERWRITE mode — always
    // a full commit — so the copy read here is exactly the head; any
    // consumer reading `_manifest` under appends must accept that bound or
    // read the versioned `_manifest-v{N}` chain instead.
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest")), "UTF-8")
      .split("\n").filter(_.nonEmpty).map(_.split(",") match {
        case Array(f, n) => f -> n.toLong
        case bad => throw new IllegalStateException(
          s"malformed manifest line: '${bad.mkString(",")}'")
      }).toMap
    val committed = manifest.keys.filter(_ != "_total").map(f => s"$dir/$f").toSeq
    val sch = "event_type STRING, n LONG, sum_cents LONG"
    val back =
      if (committed.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(sch))
      else spark.read.schema(sch).csv(committed: _*)
    require(back.count() == manifest("_total"),
      s"manifest total ${manifest("_total")} != read-back rows")
    back.orderBy(col("event_type"))
  }

  /** TIME TRAVEL over the versioned-manifest sink (VERDICT r6 missing #2 —
    * the "load to warehouse" leg of a lakehouse ETL): version 1 is the full
    * per-type aggregate, version 2 OVERWRITES it with the even-user slice,
    * and both snapshots stay readable afterwards — `versionAsOf 1` pins the
    * pre-overwrite content, the unpinned read follows the head. Each job
    * commit is one atomic `_manifest-v{N}` link(2) claim (the filesystem CAS in
    * [[graft.sources.GraftManifest.commit]]), so there is no moment where a
    * reader can observe a half-replaced table. The history is built once
    * per (JVM, sf) — it is a pure function of sf, and re-appending versions
    * on every invocation would make "version 1" depend on call order. The
    * oracle recomputes both snapshots straight from events, tagged with
    * their version. */
  def sinkTimeTravel(spark: SparkSession, sf: String): DataFrame = {
    val dir = ttsinkDir(spark, sf)
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"))
  }

  /** Shared two-version time-travel fixture: version 1 = per-type
    * aggregate of all events, version 2 OVERWRITES it with the even-user
    * slice. Built once per (JVM, sf). */
  private def ttsinkDir(spark: SparkSession, sf: String): String = {
    val dir = tmpDir("ttsink", sf)
    def agg(src: DataFrame): DataFrame = src
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      agg(events(spark, sf))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      agg(events(spark, sf).where(col("user_id") % 2 === 0))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    dir
  }

  /** TIME TRAVEL BY TIMESTAMP — `timestampAsOf` resolves a wall-clock to
    * the newest version committed at or before it, against the `#ts=`
    * commit times the manifest now carries (written strictly increasing
    * by [[graft.sources.GraftManifest.commitMetas]], so the mapping stays
    * unambiguous for commits inside one millisecond — the Delta/Iceberg
    * timestamp-travel contract). Probed at three instants over the shared
    * two-version fixture: v1's own commit time and the instant just
    * before v2's commit both pin the pre-overwrite snapshot; v2's commit
    * time follows the head. The emitted phases carry NO raw timestamps
    * (wall-clocks are nondeterministic); the oracle recomputes each
    * snapshot from events. */
  def sinkTimeTravelTs(spark: SparkSession, sf: String): DataFrame = {
    val dir = ttsinkDir(spark, sf)
    val ts1 = graft.sources.GraftManifest.readVersion(dir, Some(1)).get.ts.get
    val ts2 = graft.sources.GraftManifest.readVersion(dir, Some(2)).get.ts.get
    require(ts2 > ts1, s"commit timestamps must be strictly increasing: $ts1, $ts2")
    def at(ts: Long): DataFrame = spark.read.format("graft-sink")
      .option("path", dir).option("timestampAsOf", ts.toString).load()
    at(ts1).withColumn("phase", lit(1L))
      .unionByName(at(ts2 - 1).withColumn("phase", lit(2L)))
      .unionByName(at(ts2).withColumn("phase", lit(3L)))
      .select(col("phase"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** CHANGE DATA FEED from the manifest diff — `changesFrom`/`changesTo`
    * read the files a version range ADDED as 'insert' rows and the files
    * it DROPPED as 'delete' rows, with the virtual `_change_type` column
    * tagging each. The plan is O(changed files) — two manifest reads and
    * a set difference, never a rescan of the unchanged table (the key
    * REQUIREs the planned-partition count to equal the diff's file
    * count), which is what distinguishes this from [[sinkSnapshotDiff]]'s
    * full-outer recompute. An append range yields pure inserts; the
    * DELETE rewrite (version 3) yields delete-of-old-files +
    * insert-of-new-files, whose row-level difference IS the net change —
    * the file-granular CDF contract (Iceberg incremental reads are
    * appends-only; Delta without deletion vectors materializes the same
    * add/remove actions). The oracle recomputes every change set from
    * events. */
  def sinkChangeFeed(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttcdf", sf)
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf).where(col("user_id") % 4 === 0))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      bucketAgg(events(spark, sf).where(col("user_id") % 4 === 1))
        .write.format("graft-sink").option("path", dir).mode("append").save()
      spark.read.format("graft-sink").option("path", dir).load()
        .where(col("event_type") =!= "view")
        .write.format("graft-sink").option("path", dir)
        .option("expectedBaseVersion", "2").mode("overwrite").save()
    }
    def changes(fromV: Int, toV: Int): DataFrame = {
      val df = spark.read.format("graft-sink").option("path", dir)
        .option("changesFrom", fromV.toString)
        .option("changesTo", toV.toString).load()
      val (added, removed, _) =
        graft.sources.GraftSinkScan.diffMetas(dir, fromV, Some(toV))
      val planned = df.rdd.getNumPartitions
      require(planned == added.size + removed.size,
        s"change feed ($fromV,$toV] must plan its ${added.size + removed.size} " +
          s"changed files only, planned $planned")
      df.withColumn("from_v", lit(fromV.toLong))
        .withColumn("to_v", lit(toV.toLong))
    }
    changes(1, 2).unionByName(changes(2, 3))
      .select(col("from_v"), col("to_v"),
        col("_change_type").as("change_type"),
        col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("from_v"), col("change_type"), col("event_type"), col("bucket"))
  }

  /** STRUCT COLUMNS IN THE VERSIONED CONNECTOR (round 11): one level of
    * scalar-field struct nesting — the typed-metadata-record pattern a
    * multimodal table wants next to its binary blobs (struct<codec,width,
    * score,...> descriptors). Structs are parquet-format-only typed bytes
    * like arrays: non-statable (REQUIREd: no stats entry; null counts
    * still real facts), while sibling scalar columns keep their full
    * envelope — the sorted write still prunes a point probe to 1 of 4
    * files. Nested-field projection decodes BY NAME, so Catalyst's
    * nested-schema pruning (a non-prefix member subset) stays correct.
    * Oracled by flattening the members back out. */
  def sinkStructColumn(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttstruct", sf)
    graft.util.Scratch.once(dir) {
      orders(spark, sf).select(col("o_orderkey").as("k"),
        struct(col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          to_date(col("o_orderdate")).as("d")).as("meta"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.metas.forall(m => m.stats.contains(0) && !m.stats.contains(1)),
      s"struct column must carry no stats; k keeps its envelope")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val lo = t.agg(min(col("k"))).head.getLong(0)
    val probe = t.where(col("k") === lit(lo))
    require(probe.rdd.getNumPartitions == 1,
      "disjoint k envelopes must prune the point probe to 1 of 4 files")
    require(probe.count() == 1L, "the probe row must survive the pruned scan")
    t.select(col("k"), col("meta.status").as("status"),
        col("meta.cents").as("cents"), col("meta.d").as("d"))
      .orderBy(col("k"))
  }

  /** MAP COLUMNS (round 11): string-keyed scalar maps — per-row tag bags
    * / keyed counters — as parquet standard 3-level MAP groups in the
    * versioned connector. Non-statable typed bytes like arrays/structs;
    * the oracle probes the map back out with element_at. */
  def sinkMapColumn(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttmap", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf).groupBy(col("user_id"))
        .agg(map(lit("n"), count(lit(1)),
          lit("cents"), sum(floor(col("value") * 100).cast("long"))).as("tags"))
        .coalesce(2)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.metas.forall(m => m.stats.contains(0) && !m.stats.contains(1)),
      "map column must carry no stats; user_id keeps its envelope")
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("user_id"), element_at(col("tags"), "n").as("n"),
        element_at(col("tags"), "cents").as("cents"))
      .orderBy(col("user_id"))
  }

  /** CHANGE FEED ACROSS AN UPSERT EPOCH (round 11): equality deletes
    * render ROW-granular in the CDF instead of refusing the range. The
    * upsert batch's rows arrive as 'insert' (its added files); the rows
    * its entries killed in OLDER, untouched files are re-derived by
    * scanning exactly those files under eqSel — emit ONLY rows matching
    * the range's new entries — as 'delete' rows carrying the OLD values.
    * Cost: O(added files + files the entries apply to), row-filtered by
    * the O(changed keys) sidecar sets; the in-closure REQUIRE pins the
    * plan to exactly that file set. This is the streaming-CDC downstream
    * contract: replaying delete-then-insert onto the v1 state reproduces
    * the head without rescanning unchanged data. */
  def sinkChangeFeedUpsert(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("cdfups", sf)
    def base: DataFrame = customer(spark, sf).select(
      col("c_custkey").as("k"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    graft.util.Scratch.once(dir) {
      base.repartition(4).write.format("graft-sink")
        .option("path", dir).mode("overwrite").save() // v1: 4 files
      val maxK = base.agg(max(col("k"))).head.getLong(0)
      base.where(col("k") % 10 === 0)
        .select(col("k"), (col("cents") + 1).as("cents"))
        .unionByName(base.where(col("k") % 97 === 0)
          .select((col("k") + maxK + 1).as("k"), lit(42L).as("cents")))
        .coalesce(1).write.format("graft-sink").option("path", dir)
        .option("upsertKey", "k").mode("append").save() // v2: upsert epoch
    }
    val m = graft.sources.GraftManifest
    val head = m.readVersion(dir, None).get
    require(head.eqDels.nonEmpty && head.eqDels.forall(_.col == "k"),
      s"the upsert epoch must register k equality deletes, got ${head.eqDels}")
    val v1names = m.readVersion(dir, Some(1)).get.metas.map(_.name).toSet
    require(v1names.subsetOf(head.metas.map(_.name).toSet) &&
        head.metas.forall(_.dv.isEmpty),
      "an upsert epoch must neither rewrite nor vector any v1 file")
    val changes = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "1").load()
    // plan shape: the added upsert file(s) as 'insert' + every v1 file
    // the entries apply to re-scanned under eqSel — nothing else
    val addedN = head.metas.size - v1names.size
    val planned = changes.rdd.getNumPartitions
    require(planned == addedN + v1names.size,
      s"upsert CDF must plan $addedN added + ${v1names.size} eqSel files, " +
        s"planned $planned")
    changes.select(col("_change_type").as("change"), col("k"), col("cents"))
      .orderBy(col("change"), col("k"))
  }

  /** The lakehouse surface FROM PLAIN SQL — a [[graft.sources.GraftCatalog]]
    * (DataSource V2 TableCatalog over graft-sink directories) registered in
    * the session maps `gsql.db.<t>` to `<root>/db/<t>`, and Spark's native
    * syntax drives the connector end-to-end: `VERSION AS OF 1` pins the
    * first commit, `TIMESTAMP AS OF '<v2 commit instant>'` resolves
    * through the manifests' strictly-increasing commit clocks (micros →
    * millis → version), `INSERT INTO` lands version 3 through the normal
    * link(2)-CAS commit, and the bare name follows the head. No metastore
    * exists: the catalog is a naming layer over self-describing manifests
    * (`listTables` = directory listing), the posture a shared 100 TB
    * object-store layout wants. The oracle recomputes all three phases
    * from events. */
  def sqlCatalogTravel(spark: SparkSession, sf: String): DataFrame = {
    val root = graft.util.Scratch.dir("sqlcat_root", "all")
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    val tbl = "t_" + sf.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"$root/db/$tbl"
    def slice(m: Int): DataFrame = events(spark, sf)
      .where(col("user_id") % 3 === m)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      slice(0).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      slice(1).write.format("graft-sink").option("path", dir).mode("append").save()
      slice(2).createOrReplaceTempView(s"ins_src_$tbl")
      spark.sql(s"INSERT INTO gsql.db.$tbl SELECT * FROM ins_src_$tbl")
    }
    require(graft.sources.GraftManifest.versions(dir).size == 3,
      "fixture: SQL INSERT must have committed version 3")
    val ts2 = graft.sources.GraftManifest.readVersion(dir, Some(2)).get.ts.get
    val tsLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts2))
    spark.sql(
      s"""SELECT CAST(1 AS BIGINT) AS phase, event_type, n, sum_cents
         |FROM gsql.db.$tbl VERSION AS OF 1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), event_type, n, sum_cents
         |FROM gsql.db.$tbl TIMESTAMP AS OF '$tsLit'
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), event_type, n, sum_cents
         |FROM gsql.db.$tbl
         |ORDER BY phase, event_type, n, sum_cents""".stripMargin)
  }

  /** RESTORE as a SQL procedure — `CALL gsql.system.restore(...)` rolls
    * the table back to a committed version by re-committing that
    * version's FILE LIST as a new head (metadata-only, Delta-RESTORE
    * style: zero data bytes move, the commit is the usual link(2)-CAS
    * conditioned on the head the restore planned against). Version 1 is
    * the even-user aggregate, version 2 overwrites with the odd-user
    * slice, version 3 is the SQL restore of version 1 — the head reads
    * back as v1's content while v2 stays pinned-readable (history is
    * append-only; VACUUM is the only eraser). The oracle recomputes all
    * three phases from events, phase 3 = phase 1 by construction. */
  def sinkRestoreVersion(spark: SparkSession, sf: String): DataFrame = {
    val root = graft.util.Scratch.dir("sqlcat_root", "all")
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    val tbl = "r_" + sf.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"$root/db/$tbl"
    def slice(m: Int): DataFrame = events(spark, sf)
      .where(col("user_id") % 2 === m)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      slice(0).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      slice(1).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.restore(table => 'db.$tbl', version => 1)")
    }
    require(graft.sources.GraftManifest.versions(dir).size == 3,
      "fixture: restore must have committed version 3")
    def at(v: Int): DataFrame = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", v.toString).load()
    at(1).withColumn("phase", lit(1L))
      .unionByName(at(2).withColumn("phase", lit(2L)))
      .unionByName(at(3).withColumn("phase", lit(3L)))
      .select(col("phase"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** AQE skew-join handling — the AUTOMATIC twin of join_skew_salted's
    * manual salting: a synthetic hot key (30% of lineitem folded onto
    * orderkey 1) makes one shuffle partition dwarf the median, and
    * OptimizeSkewedJoin splits it into subpartitions at runtime, each
    * joined against a replicated copy of the matching build rows — no
    * query rewrite, no salt column. Thresholds are lowered to fixture
    * bytes inside the set/restore scope (production defaults are 256 MB)
    * and the plan is materialized inside it (AQE re-plans at execution);
    * ScaleFixSpec asserts the skew marker on the executed join. The oracle
    * is the plain join with the same key mapping — AQE must not change a
    * single row. */
  def joinSkewAqe(spark: SparkSession, sf: String): DataFrame = {
    val agg = withSkewConfs(spark) { skewJoinPlan(spark, sf).localCheckpoint() }
    agg.orderBy(col("o_orderpriority"))
  }

  private[graft] def withSkewConfs[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // fixture hot/median ratio is ~1.95, below the production default
      // factor 5 — the lowered factor/threshold only rescale detection to
      // fixture bytes, they don't change the mechanism
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",

      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private[graft] def skewJoinPlan(spark: SparkSession, sf: String): DataFrame = {
    val hot = when(col("l_orderkey") % 10 < 3, lit(1L)).otherwise(col("l_orderkey"))
    // skew splitting works at MAP-OUTPUT-BLOCK granularity: a reduce
    // partition fed by ONE mapper is one indivisible block, and the
    // single-row-group fixture parquet scans as one map task (byte-range
    // splits of a lone row group yield empty maps, so files.maxPartitionBytes
    // cannot help). The repartition gives the join shuffle the many-mapper
    // shape every real 100 TB scan has; at scale it is unnecessary and the
    // skewed partition splits along its thousands of natural map blocks.
    val li = lineitem(spark, sf)
      .repartition(8)
      .select(hot.as("k"), floor(col("l_quantity")).cast("long").as("qf"))
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    li.join(o, col("k") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("qf")).as("sum_q"))
  }

  /** EXACT distinct counting via bitmap words — the roaring-bitmap pattern
    * from relational primitives: dense int ids pack into (id div 62) words
    * of set bits (62, not 64 — 1L << 63 overflows DuckDB's signed shift),
    * one bit_or aggregate per (group, word), then Σ bit_count. Why at
    * 100 TB: the shuffle carries one word per 62 ids instead of one row
    * per id, words are MERGEABLE summaries (union = OR — incremental
    * refresh without raw rescan, same argument as agg_hll_merge), and the
    * count is exact where HLL is approximate. Output includes n_words as
    * evidence of the compaction. */
  def aggBitmapDistinct(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .select(col("event_type"), expr("user_id div 62").as("wd"),
        expr("shiftleft(1L, CAST(user_id % 62 AS INT))").as("bit"))
      .groupBy(col("event_type"), col("wd"))
      .agg(bit_or(col("bit")).as("bits"))
      .groupBy(col("event_type"))
      .agg(sum(bit_count(col("bits"))).as("n_distinct"),
        count(lit(1)).as("n_words"))
      .orderBy(col("event_type"))

  /** Running DISTINCT count over a window: distinct order priorities each
    * customer has used up to each order. Spark side: collect_set over a
    * rows frame; oracle: the first-occurrence-flag running sum — equal
    * under a unique ordering, proving the two formulations equivalent. */
  def windowDistinctRunning(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        size(collect_set(col("o_orderpriority")).over(w)).as("n_prio"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Shared keyed aggregate for the versioned-DML keys: per
    * (event_type, user_id%4-bucket) counts and cent sums. */
  private def bucketAgg(src: DataFrame): DataFrame = src
    .groupBy(col("event_type"), (col("user_id") % 4).as("bucket"))
    .agg(count(lit(1)).as("n"),
      sum(floor(col("value") * 100).cast("long")).as("sum_cents"))

  /** FILE SKIPPING from manifest statistics (VERDICT r7 missing #1 — the
    * Delta/Iceberg data-skipping half of the lakehouse story): every
    * graft-sink task records per-column min/max in its commit message,
    * the manifest carries them per file, and the connector's
    * SupportsPushDownFilters prunes every file whose stats envelope
    * cannot match the predicate BEFORE planning input partitions. The
    * fixture lands four append versions with disjoint `bucket` ranges
    * (0-1, 2-3, 4-5, 6-7 — one coalesced file each), so `bucket >= 6`
    * must plan exactly 1 of the head's 4 files; the key REQUIREs that
    * partition count (ScaleFixSpec asserts it too) and emits it as
    * evidence columns. At 100 TB this is the difference between a
    * selective query scanning one file and scanning the whole snapshot —
    * parquet scans get it from Spark, and now the connector's own tables
    * have it. */
  def sinkStatsSkip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttstats", sf)
    graft.util.Scratch.once(dir) {
      (0 until 4).foreach { slice =>
        events(spark, sf)
          .withColumn("bucket", col("user_id") % 8)
          .where(col("bucket") >= 2 * slice && col("bucket") <= 2 * slice + 1)
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
          .coalesce(1)
          .write.format("graft-sink").option("path", dir).mode("append").save()
      }
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.files.size == 4, s"fixture: want 4 files, got ${head.files.size}")
    val filtered = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("bucket") >= 6)
    val planned = filtered.rdd.getNumPartitions
    require(planned == 1,
      s"stats skipping must plan 1 of 4 files for bucket>=6, planned $planned")
    filtered
      .withColumn("n_files", lit(head.files.size.toLong))
      .withColumn("n_planned", lit(planned.toLong))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** PARTITIONED WRITES through the connector (VERDICT r7 missing #5 —
    * the warehouse-layout leg): `partitionBy=event_type` makes every task
    * write one file PER DISTINCT VALUE it sees and record the value in
    * the manifest, so a partition-pinned predicate plans ONLY that
    * partition's files — exact pruning, not a stats envelope. With the
    * frame repartitioned on the column first (file-count hygiene; at
    * scale the shuffle co-locates each partition's rows), the 5 event
    * types land as exactly 5 files and `event_type = 'purchase'` plans
    * exactly 1. The oracle recomputes the pinned slice straight from
    * events. */
  def sinkPartitionedWrite(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttpart", sf)
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf))
        .repartition(col("event_type"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "event_type").mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.files.size == 5, s"fixture: want 5 partition files, got ${head.files.size}")
    val pinned = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("event_type") === "purchase")
    val planned = pinned.rdd.getNumPartitions
    require(planned == 1,
      s"partition pruning must plan 1 of 5 files for event_type='purchase', planned $planned")
    pinned
      .withColumn("n_files", lit(head.files.size.toLong))
      .withColumn("n_planned", lit(planned.toLong))
      .orderBy(col("bucket"))
  }

  /** The SPJ planning scope (shared with ScaleFixSpec): v2 bucketing ON
    * (honor reported KeyGroupedPartitioning + align partition values),
    * broadcast OFF (the dims are tiny here — at fixture scale the
    * stats-reporting scan would auto-broadcast and hide the exchange
    * question entirely), AQE OFF (so the assertable plan is final at
    * construction; SPJ itself is an EnsureRequirements fact, not an AQE
    * one). */
  private[graft] def withSpjConfs[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** The co-partitioned fixture pair + their join (shared with
    * ScaleFixSpec, which asserts the plan shape independently): tables A
    * (per-(event_type, bucket) aggregate) and B (per-event_type distinct
    * users), both written `partitionBy=event_type` through the
    * connector, read back with the `spj` opt-in and joined on the
    * partition column. */
  private[graft] def spjJoinPlan(spark: SparkSession, sf: String,
      optIn: Boolean = true): DataFrame = {
    val dirA = tmpDir("spj_a", sf)
    val dirB = tmpDir("spj_b", sf)
    graft.util.Scratch.once(dirA) {
      bucketAgg(events(spark, sf))
        .repartition(col("event_type"))
        .write.format("graft-sink").option("path", dirA)
        .option("partitionBy", "event_type").mode("overwrite").save()
    }
    graft.util.Scratch.once(dirB) {
      events(spark, sf)
        .groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .repartition(col("event_type"))
        .write.format("graft-sink").option("path", dirB)
        .option("partitionBy", "event_type").mode("overwrite").save()
    }
    val a = spark.read.format("graft-sink").option("path", dirA)
      .option("spj", optIn.toString).load()
    val b = spark.read.format("graft-sink").option("path", dirB)
      .option("spj", optIn.toString).load()
    a.join(b, Seq("event_type"))
      .select(col("event_type"), col("bucket"), col("n"),
        col("sum_cents"), col("n_users"))
  }

  /** STORAGE-PARTITIONED JOIN on graft tables (VERDICT r9 next #1 — the
    * biggest remaining plan-quality lever): the connector's scan now
    * REPORTS its files' partition grouping as a KeyGroupedPartitioning
    * ([[graft.sources.GraftSinkScan.outputPartitioning]], built from the
    * manifest's per-file partition values, each split carrying its key),
    * so two graft tables partitioned on the same column join with ZERO
    * Exchange on either side — the Iceberg SPJ design. At 100 TB this is
    * the difference between shuffling both fact tables and shuffling
    * NEITHER: a partition-aligned fact⋈fact join reads co-located
    * partitions and merges them in place. The key REQUIREs the planned
    * join has no ShuffleExchange and exactly one task per partition
    * value (5 event types); the oracle recomputes the join from events.
    * Opt-in (`spj=true` read option): honoring the grouping costs scan
    * parallelism (#values tasks), the right trade only when the elided
    * exchanges dominate — same gate Iceberg ships. */
  def joinSpjGraft(spark: SparkSession, sf: String): DataFrame = {
    val out = withSpjConfs(spark) {
      val j = spjJoinPlan(spark, sf)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
      require(exchanges == 0,
        s"storage-partitioned join must plan ZERO exchanges, found $exchanges")
      val cp = j.localCheckpoint()
      require(cp.rdd.getNumPartitions == 5,
        s"SPJ must group to one task per partition value (5 event types), " +
          s"got ${cp.rdd.getNumPartitions}")
      cp
    }
    out.orderBy(col("event_type"), col("bucket"))
  }

  /** SPJ UNDER SKEW — partially-clustered distribution (VERDICT r10 next
    * #3): plain SPJ plans ONE task per partition value, so a partition
    * holding 90% of the rows becomes one unsplittable straggler with no
    * AQE rescue (AQE is off in the SPJ scope — the grouping is an
    * EnsureRequirements fact). The Iceberg answer, re-derived here on
    * Spark's own `partiallyClusteredDistribution` machinery over this
    * connector's per-file [[graft.sources.GraftSinkKeyedFileSplit]] keys:
    * the skewed side's splits stay UNGROUPED (each of the hot partition's
    * files is its own task) and the small side's matching partition is
    * replicated to each — still ZERO shuffle exchanges, but the hot
    * partition's work is spread over its files. Fixture: ~90% of events
    * land in grp=0, written `distributionMode=none` after an orthogonal
    * repartition so the hot value spans multiple files (exactly what a
    * 100 TB hot partition looks like); the dim side is one file per
    * value. REQUIREd: the hot partition carries >1 file, the join plans
    * zero exchanges, and the joined RDD has MORE tasks than partition
    * values — the straggler is split. The oracle recomputes the join
    * from events. */
  def joinSpjSkew(spark: SparkSession, sf: String): DataFrame = {
    val dirA = tmpDir("spjskew_a", sf)
    val dirB = tmpDir("spjskew_b", sf)
    def grpOf: Column = when(pmod(col("user_id"), lit(10)) < 9, lit(0L))
      .otherwise(lit(1L) + pmod(floor(col("user_id") / 10).cast("long"), lit(4L)))
    graft.util.Scratch.once(dirA) {
      events(spark, sf)
        .select(grpOf.as("grp"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(4, col("event_id")) // orthogonal: hot grp in every task
        .write.format("graft-sink").option("path", dirA)
        .option("partitionBy", "grp").option("distributionMode", "none")
        .mode("overwrite").save()
    }
    graft.util.Scratch.once(dirB) {
      events(spark, sf)
        .select(grpOf.as("grp"), col("user_id"))
        .groupBy(col("grp"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .repartition(col("grp"))
        .write.format("graft-sink").option("path", dirB)
        .option("partitionBy", "grp").mode("overwrite").save()
    }
    val headA = graft.sources.GraftManifest.readVersion(dirA, None).get
    val hotFiles = headA.metas.count(_.partition.exists(_._2 == "0"))
    require(hotFiles > 1,
      s"fixture: the hot partition must span multiple files, got $hotFiles")
    val nVals = headA.metas.flatMap(_.partition.map(_._2)).distinct.size
    val out = withConfs(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val a = spark.read.format("graft-sink").option("path", dirA)
        .option("spj", "true").load()
      val b = spark.read.format("graft-sink").option("path", dirB)
        .option("spj", "true").load()
      val j = a.join(b, Seq("grp"))
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
      require(exchanges == 0,
        s"skewed SPJ must still plan ZERO exchanges, found $exchanges")
      val cp = j.localCheckpoint()
      val tasks = cp.rdd.getNumPartitions
      require(tasks > nVals,
        s"partially-clustered SPJ must split the hot partition across its " +
          s"files (more tasks than the $nVals partition values), got $tasks")
      cp
    }
    out.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        max(col("n_users")).as("n_users"))
      .orderBy(col("grp"))
  }

  /** BUCKET-TRANSFORM STORAGE-PARTITIONED JOIN — identity SPJ
    * (join_spj_graft) needs one partition per VALUE, which a
    * high-cardinality key can't afford (a million user_ids = a million
    * files). `partitionBy=bucket(8,user_id)` hashes the key into 8
    * stable buckets ([[graft.sources.GraftBucket]]); the scan reports a
    * `bucket(8, user_id)` KeyGroupedPartitioning whose per-split key is
    * the INT bucket ordinal, and Spark resolves the transform through
    * the catalog's FunctionCatalog (`graft.bucket`) — so two
    * co-bucketed tables join on user_id with ZERO Exchange at ANY key
    * cardinality, the exact Iceberg bucket-SPJ arrangement. That's the
    * 100 TB fact⋈fact shape: both sides pre-hashed at write time, the
    * join merges co-located buckets in place. The key REQUIREs zero
    * shuffles and one task per bucket (8), and that a point predicate
    * on user_id plans exactly 1 of the 8 files (bucket partition
    * pruning); the oracle recomputes the join from events. */
  def joinSpjBucket(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val t1 = "spjb1_" + sfTag(sf)
    val t2 = "spjb2_" + sfTag(sf)
    def build(tbl: String)(df: DataFrame): Unit =
      graft.util.Scratch.once(s"$root/db/$tbl") {
        df.repartition(pmod(col("user_id"), lit(8)).cast("int"))
          .write.format("graft-sink").option("path", s"$root/db/$tbl")
          .option("partitionBy", "bucket(8,user_id)")
          .mode("overwrite").save()
      }
    build(t1)(events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("cents")))
    build(t2)(events(spark, sf).groupBy(col("user_id"))
      .agg(max(floor(col("value") * 100).cast("long")).as("max_cents")))
    val out = withConfs(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.graft.spj.enabled" -> "true") {
      // bucket partition pruning: a point probe plans 1 of the 8 files
      val probe = spark.sql(
        s"SELECT * FROM gsql.db.$t1 WHERE user_id = 3")
      val probed = probe.rdd.getNumPartitions
      require(probed == 1,
        s"bucket pruning must plan exactly 1 of 8 files for a point probe, got $probed")
      val j = spark.sql(
        s"""SELECT a.user_id, a.n_events, a.cents, b.max_cents
           |FROM gsql.db.$t1 a JOIN gsql.db.$t2 b ON a.user_id = b.user_id
           |""".stripMargin)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
      require(exchanges == 0,
        s"bucket SPJ must plan ZERO exchanges, found $exchanges:\n" +
          j.queryExecution.executedPlan.toString.take(800))
      val cp = j.localCheckpoint()
      require(cp.rdd.getNumPartitions == 8,
        s"bucket SPJ must group to one task per bucket (8), " +
          s"got ${cp.rdd.getNumPartitions}")
      cp
    }
    out.orderBy(col("user_id"))
  }

  /** DROP COLUMN as an honest COPY-ON-WRITE — the last schema-evolution
    * verb (ADD and RENAME are metadata-only; a metadata-only DROP was
    * evaluated and rejected: cells are positional, so trailing-drop +
    * re-ADD would alias the dropped storage — DECISIONS.md). The rewrite
    * preserves the partition layout and the SURVIVORS' original field
    * ids (column mapping holds across the drop), commits ONE conditioned
    * truncate, and the dropped column still serves via time travel. The
    * key REQUIREs survivor ids, the DROP COLUMN audit label, and the
    * pre-drop version still answering for the dropped column; the oracle
    * recomputes the surviving aggregate. */
  def sinkDropColumn(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "dropc_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).withColumn("junk", col("n") * 7).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"ALTER TABLE gsql.db.$tbl DROP COLUMN junk")
      val head = graft.sources.GraftManifest.readVersion(dir, None).get
      require(head.ids.contains(Seq(0, 1, 2, 3)) && head.op.contains("DROP COLUMN"),
        s"survivors keep original ids under the DROP audit label: ${head.ids} ${head.op}")
      require(spark.sql(s"SELECT junk FROM gsql.db.$tbl VERSION AS OF 1").count() > 0,
        "the dropped column must still serve via time travel")
    }
    spark.table(s"gsql.db.$tbl")
      .select(col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"), col("n"))
  }

  /** DYNAMIC (runtime) PARTITION PRUNING on a graft fact table — the
    * star-schema accelerator static pushdown cannot express: the fact
    * side's selective predicate lives in the DIM TABLE'S DATA (here,
    * region-1 nations), so no literal filter ever reaches the fact scan.
    * The connector's scan advertises its partition column as
    * runtime-filterable ([[graft.sources.GraftSinkScan.filterAttributes]],
    * SupportsRuntimeV2Filtering); Catalyst's PartitionPruning rule plans
    * a DynamicPruningExpression over the broadcast build side, and AT
    * EXECUTION the dim's actual join keys arrive as an IN-set the
    * manifest skipper prunes files with — the fact table scans only the
    * partitions the filtered dim references. At 100 TB: a date- or
    * key-partitioned fact joined to a filtered dim reads 1/5th (here)
    * of its files with ZERO query rewrite. The key REQUIREs the DPP
    * filter is planned on the fact scan, that it pruned to exactly the
    * dim-referenced partitions, and that a no-DPP control plans ALL
    * files; n_files/n_planned ride as evidence columns the oracle
    * recomputes as distinct-key counts. */
  def joinDppGraft(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("dpp_fact", sf)
    graft.util.Scratch.once(dir) {
      customer(spark, sf)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"))
        .repartition(col("c_nationkey"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "c_nationkey").mode("overwrite").save()
    }
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // the dim is PINNED as the broadcast side (at fixture scale Spark
    // would happily broadcast the "fact" instead, and a streamed dim has
    // no broadcast for DPP to reuse — at 100 TB the size asymmetry makes
    // this the only plan)
    def joined(): DataFrame = {
      val fact = spark.read.format("graft-sink").option("path", dir).load()
      val dim = nation(spark, sf).where(col("n_regionkey") === 1)
      fact.join(broadcast(dim), fact("c_nationkey") === dim("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"))
    }
    // executed fact-scan partition count: materialize, then read the plan
    def plannedParts(j: DataFrame, wantDpp: Boolean): (DataFrame, Int) = {
      val cp = j.localCheckpoint()
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
      require(scans.size == 1, s"want exactly one graft scan, got ${scans.size}")
      require(scans.head.runtimeFilters.nonEmpty == wantDpp,
        s"fact scan runtime filters planned=${scans.head.runtimeFilters.nonEmpty}, " +
          s"want $wantDpp")
      (cp, scans.head.inputRDD.getNumPartitions)
    }
    val out = withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val (cp, planned) = plannedParts(joined(), wantDpp = true)
      // one file per present partition value ⇒ the pruned plan must read
      // exactly one file per surviving nation (= result row)
      val expected = cp.count().toInt
      require(planned == expected && planned < nFiles,
        s"runtime pruning must plan $expected of $nFiles files, planned $planned")
      val (_, control) = withConfs(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
        plannedParts(joined(), wantDpp = false)
      }
      require(control == nFiles,
        s"no-DPP control must plan all $nFiles files, planned $control")
      cp.withColumn("n_files", lit(nFiles.toLong))
        .withColumn("n_planned", lit(planned.toLong))
    }
    out.orderBy(col("nation"))
  }

  /** WRITE-AUDIT-PUBLISH (WAP) — the staged-commit ingest workflow
    * (Iceberg's stage-only snapshots / audit branch, re-derived on one
    * linear version line): a write with `wapStage=<id>` lands its batch
    * as a `_wap-<id>` manifest OUTSIDE the version namespace — invisible
    * to every reader by construction, no read-path flag to forget — and
    * records the head it planned against. The auditor reads the staged
    * INCREMENT via `wapId=<id>`, validates it in isolation, then
    * `CALL gsql.system.wap_publish` replays it as an ordinary append
    * commit CONDITIONED on the staged base (a moved head throws instead
    * of interleaving unaudited state); `wap_abort` deletes the batch's
    * files eagerly (no version ever named them), and vacuum retains
    * staged files while their audit is pending. At 100 TB this is how
    * ingest ships data quality: land, gate, THEN expose. The key stages
    * a good batch and a bad one, REQUIREs the head never moved while
    * staged, audits both (the bad one fails its gate and aborts), and
    * publishes the good one; the oracle recomputes base ∪ batch. */
  def sinkWapPublish(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "wap_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      val v1 = graft.sources.GraftManifest.versions(dir).max
      val visibleRows = spark.read.format("graft-sink").option("path", dir)
        .load().count()
      // STAGE the candidate batch — must not advance the head
      bucketAgg(events(spark, sf)).withColumn("n", col("n") + 5000).coalesce(1)
        .write.format("graft-sink").option("path", dir)
        .option("wapStage", "audit1").mode("append").save()
      require(graft.sources.GraftManifest.versions(dir).max == v1 &&
        spark.read.format("graft-sink").option("path", dir).load().count() == visibleRows,
        "a staged batch must be INVISIBLE: same head, same rows")
      // AUDIT: the staged increment reads in isolation and passes its gate
      val staged = spark.read.format("graft-sink").option("path", dir)
        .option("wapId", "audit1").load()
      require(staged.count() > 0 && staged.where(col("n") <= 5000).count() == 0,
        "audit gate: every staged row carries the +5000 mark")
      // a BAD batch stages, fails its gate, and aborts — files reclaimed
      bucketAgg(events(spark, sf)).withColumn("n", lit(-1L)).coalesce(1)
        .write.format("graft-sink").option("path", dir)
        .option("wapStage", "bad1").mode("append").save()
      val bad = spark.read.format("graft-sink").option("path", dir)
        .option("wapId", "bad1").load()
      require(bad.where(col("n") <= 0).count() > 0, "the bad batch fails its gate")
      spark.sql(s"CALL gsql.system.wap_abort('db.$tbl', 'bad1')")
      require(graft.sources.GraftManifest.wapIds(dir) == Seq("audit1"),
        "abort must remove the staged id")
      // PUBLISH the audited batch as one conditioned commit
      spark.sql(s"CALL gsql.system.wap_publish('db.$tbl', 'audit1')")
      require(graft.sources.GraftManifest.versions(dir).max == v1 + 1,
        "publish lands exactly one version")
    }
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"), col("n"))
  }

  /** DECLARED (DDL-LEVEL) PARTITIONING — `CREATE TABLE ... PARTITIONED
    * BY (bucket(8, user_id))` records the layout as TABLE metadata (the
    * manifest's `#partspec` header fact, carried by every commit like
    * CHECK constraints), and every write WITHOUT an explicit partitionBy
    * option conforms to it: a plain SQL `INSERT INTO` lands the promised
    * bucket layout, point predicates prune to one bucket, and bucket SPJ
    * works from pure SQL end to end — the layout is a property of the
    * TABLE, not of whoever happens to write it (the Delta/Iceberg DDL
    * contract; before this, a writer forgetting the option silently
    * flattened the layout). The key REQUIREs the spec is recorded, the
    * DataFrame append conformed, a point probe prunes, and DESCRIBE
    * surfaces the promise; the oracle recomputes the aggregate. */
  def sinkDdlPartitioned(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "ddlp_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      spark.sql(s"""CREATE TABLE gsql.db.$tbl
        (user_id BIGINT, n_events BIGINT, cents BIGINT)
        PARTITIONED BY (bucket(8, user_id))""")
      events(spark, sf).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
        .writeTo(s"gsql.db.$tbl").append() // NO partitionBy option anywhere
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.partSpec.contains("bucket:8:user_id"),
      s"CREATE TABLE must record the declared spec, got ${head.partSpec}")
    require(head.metas.nonEmpty &&
      head.metas.forall(_.partition.exists(_._1 == "bucket:8:user_id")),
      s"a plain INSERT must conform to the declared layout: ${head.metas.map(_.partition)}")
    val probe = spark.table(s"gsql.db.$tbl").where(col("user_id") === 5)
    val inBucket = head.metas.count(_.partition.exists(_._2 == (5 % 8).toString))
    require(probe.rdd.getNumPartitions == inBucket && inBucket < head.metas.size,
      s"point probe must plan bucket 5's $inBucket files of ${head.metas.size}, " +
        s"planned ${probe.rdd.getNumPartitions}")
    val desc = spark.sql(s"DESCRIBE TABLE gsql.db.$tbl")
      .collect().map(_.toString).mkString("\n")
    require(desc.contains("bucket"),
      s"DESCRIBE must surface the declared partitioning:\n$desc")
    spark.table(s"gsql.db.$tbl")
      .select(col("user_id"), col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  /** OVERWRITE-BY-PREDICATE (`replaceWhere`, VERDICT r9 next #2 — the
    * idempotent partition-refresh verb, the bread-and-butter backfill of
    * an ETL lakehouse): `df.writeTo(t).overwrite(bucket === 2)` deletes
    * every committed row of the named slice and lands the recomputed
    * slice, as ONE conditioned commit through the connector's
    * SupportsOverwrite. The fixture table is PARTITIONED on the
    * predicate column, so the replace is metadata-only: matched files
    * drop from the manifest, and the key REQUIREs every untouched file's
    * manifest entry BYTE-IDENTICAL across the versions (stats, partition
    * value and all) with zero deletion vectors — nothing outside the
    * refreshed slice was touched, which is the verb's entire promise.
    * Both versions stay readable; the oracle recomputes each from
    * events (the replacement batch lands with n+1000 so the refresh is
    * visible in the hash). Misaligned predicates degrade gracefully:
    * boundary files get their matching rows vectored out (the straddler
    * path SourceSpec pins). */
  def sinkReplaceWhere(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "rw_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf))
        .repartition(col("bucket"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "bucket").mode("overwrite").save()
      val v1 = graft.sources.GraftManifest.readVersion(dir, None).get
      bucketAgg(events(spark, sf)).where(col("bucket") === 2)
        .withColumn("n", col("n") + 1000)
        .repartition(col("bucket"))
        .writeTo(s"gsql.db.$tbl").overwrite(col("bucket") === 2)
      val v2 = graft.sources.GraftManifest.readVersion(dir, None).get
      val untouched = v1.metas.filterNot(_.partition.exists(_._2 == "2"))
      require(untouched.forall(v2.metas.contains),
        "replaceWhere must keep every untouched file's manifest entry byte-identical")
      require(v2.metas.forall(_.dv.isEmpty),
        "partition-aligned replaceWhere must be metadata-only (no straddler vectors)")
      require(v2.op.contains("REPLACE WHERE"),
        s"commit must be labeled REPLACE WHERE, got ${v2.op}")
    }
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** COLUMN RENAME via COLUMN MAPPING (VERDICT r9 next #5): the manifest
    * now carries a STABLE FIELD ID per schema position (`#ids=`), so
    * `ALTER TABLE ... RENAME COLUMN` is a METADATA-ONLY commit — cells
    * are positional, the id rides through, no data file is touched. The
    * key REQUIREs the rename commit republishes byte-identical file
    * metas under the new DDL with the SAME ids, that the pre-rename
    * version still serves the OLD name (time travel reads each version
    * under the schema it committed), and that an append under the new
    * name lands normally. Without ids a rename would be read-as-
    * different-column; with them, a later ADD COLUMNS of the old name
    * takes a fresh id and provably never aliases this column's data
    * (SourceSpec pins that half). The oracle recomputes both versions
    * from events. */
  def sinkColumnRename(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "ren_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      val v1 = graft.sources.GraftManifest.readVersion(dir, None).get
      spark.sql(s"ALTER TABLE gsql.db.$tbl RENAME COLUMN sum_cents TO cents")
      val v2 = graft.sources.GraftManifest.readVersion(dir, None).get
      require(v2.metas == v1.metas,
        "rename must be metadata-only: every file meta byte-identical")
      require(v2.ids.isDefined && v2.ids == v1.ids,
        s"rename must carry the stable field ids through: ${v1.ids} -> ${v2.ids}")
      require(v2.op.contains("RENAME COLUMN"), s"audit label: ${v2.op}")
      bucketAgg(events(spark, sf)).withColumnRenamed("sum_cents", "cents")
        .withColumn("n", col("n") + 5000)
        .coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    require(v1.columns.contains("sum_cents"),
      "the pre-rename version must serve the OLD column name")
    val head = spark.read.format("graft-sink").option("path", dir).load()
    require(head.columns.contains("cents") && !head.columns.contains("sum_cents"),
      "the head must serve the NEW column name only")
    v1.select(col("event_type"), col("bucket"), col("n"),
        col("sum_cents").as("cents")).withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"), col("n"))
  }

  /** CHECK/NOT NULL CONSTRAINTS enforced at the writer (VERDICT r9 next
    * #7 — the last data-quality verb a lakehouse format ships):
    * `CALL add_constraint(table, name, expr)` validates the expression
    * against the schema AND against every existing row (a constraint the
    * data already violates is refused, Delta semantics), then records it
    * in the manifest (`#check=`); from then on EVERY task writer
    * enforces it per appended row, so a violating batch aborts with
    * NOTHING committed (the key REQUIREs the head version unchanged
    * after the failed append — all-or-nothing at the commit protocol,
    * not best-effort row dropping). NULL passes a CHECK unless it is
    * spelled IS NOT NULL, the SQL contract. The oracle recomputes the
    * surviving (valid) content from events. */
  def sinkConstraintEnforce(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "ck_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.add_constraint('db.$tbl', 'n_pos', 'n > 0')")
      spark.sql(
        s"CALL gsql.system.add_constraint('db.$tbl', 'et_nn', 'event_type IS NOT NULL')")
      // a valid batch lands normally under both constraints
      bucketAgg(events(spark, sf)).withColumn("n", col("n") + 5000).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
      val headBefore = graft.sources.GraftManifest.versions(dir).max
      // a violating batch must abort with NOTHING committed
      val failed =
        try {
          bucketAgg(events(spark, sf)).withColumn("n", lit(-1L)).coalesce(1)
            .write.format("graft-sink").option("path", dir).mode("append").save()
          false
        } catch { case e: Throwable =>
          e.toString.contains("n_pos") || Option(e.getCause).exists(_.toString.contains("n_pos"))
        }
      require(failed, "a batch violating CHECK n_pos must fail loudly, naming the constraint")
      require(graft.sources.GraftManifest.versions(dir).max == headBefore,
        "a violating append must commit NOTHING")
      // a constraint existing rows violate is refused, not recorded
      val refused =
        try {
          spark.sql(s"CALL gsql.system.add_constraint('db.$tbl', 'bad', 'n > 900000000')")
          false
        } catch { case _: Throwable => true }
      require(refused, "add_constraint over violating data must be refused")
      // SHOW CONSTRAINTS agrees: the refused one was never recorded
      val listed = spark.sql(s"CALL gsql.system.constraints('db.$tbl')")
        .collect().map(_.getString(0)).toSeq
      require(listed == Seq("et_nn", "n_pos"),
        s"the refused constraint must not be recorded; listed: $listed")
    }
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"), col("n"))
  }

  /** AGGREGATE PUSHDOWN TO MANIFEST STATISTICS
    * (SupportsPushDownAggregates): `count(*) / count(c) / min(c) /
    * max(c) / sum(c)` over an unfiltered graft table — optionally GROUP
    * BY the partition column — answers ENTIRELY from the manifest's live
    * row counts, null counts, min/max envelope and per-file exact BIGINT
    * sums (`#sums` lines): the scan degenerates to a
    * driver-side LocalScan, O(manifest) at ANY table size. At 100 TB
    * this is the count-star query that never touches a data byte — the
    * capability Delta/Iceberg ship as metadata-only aggregates. The key
    * REQUIREs both plans (global + grouped) contain a LocalTableScan and
    * NO BatchScan of the connector; any WHERE clause or insufficient
    * per-file facts (unknown nulls, a deletion vector under min/max)
    * falls back to the real scan — correctness never rides on the
    * shortcut. The oracle recomputes everything from events. */
  def sinkAggPushdown(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttagg", sf)
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf))
        .repartition(col("event_type"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "event_type").mode("overwrite").save()
    }
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val global = t.agg(count(lit(1)).as("total_rows"),
      min(col("bucket")).as("min_bucket"), max(col("bucket")).as("max_bucket"),
      max(col("sum_cents")).as("max_cents"), count(col("n")).as("n_nonnull"),
      sum(col("n")).as("sum_n"))
    val grouped = t.groupBy(col("event_type")).agg(count(lit(1)).as("n_rows"),
      sum(col("sum_cents")).as("cents"))
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    require(planOf(global).contains("LocalTableScan") &&
        !planOf(global).contains("BatchScan"),
      s"global aggregate must answer from the manifest:\n${planOf(global).take(600)}")
    require(planOf(grouped).contains("LocalTableScan") &&
        !planOf(grouped).contains("BatchScan"),
      s"grouped aggregate must answer from the manifest:\n${planOf(grouped).take(600)}")
    grouped.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_rows"), col("cents"), col("total_rows"),
        col("min_bucket"), col("max_bucket"), col("max_cents"), col("n_nonnull"),
        col("sum_n"))
      .orderBy(col("event_type"))
  }

  /** SORTED (RANGE-CLUSTERED) WRITES — `sortBy=user_id` on an
    * unpartitioned graft write requests an ORDERED distribution
    * (RequiresDistributionAndOrdering), so Spark range-partitions the
    * batch and each task's file owns a DISJOINT slice of the sort key:
    * the manifest min/max envelopes tile the domain instead of all
    * spanning it, and a range predicate prunes to O(1) files at plan
    * time — the clustered-table layout (Delta OPTIMIZE ZORDER's 1-D
    * case / Iceberg sort orders) that turns stats skipping from "maybe"
    * into arithmetic. `writePartitions=4` pins the shuffle width so the
    * fixture is scale-independent. The key REQUIREs the envelopes are
    * pairwise disjoint AND that a bottom-eighth range predicate plans at
    * most half the files (it plans 1 of 4 in practice); the returned
    * aggregate is oracled on the same predicate recomputed from events. */
  def sinkSortedWrite(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttsortw", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(8) // adversarial input layout; the WRITE re-ranges it
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "user_id").option("writePartitions", "4")
        .option("distributionStrict", "true") // pin 4 range files at any sf
        .mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val uidIdx = 1 // (event_id, user_id, event_type, cents)
    val envs = head.metas.flatMap(_.stats.get(uidIdx))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
    require(envs.size == head.metas.size, s"every file needs user_id stats: $head")
    require(envs.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax <= bMin
      case _                         => true
    }, s"range distribution must land disjoint user_id envelopes: $envs")
    val hi = envs.last._2 / 8 // bottom eighth of the key domain
    val filtered = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("user_id") <= hi)
    val planned = filtered.rdd.getNumPartitions
    require(planned * 2 <= head.metas.size,
      s"disjoint envelopes must prune: planned $planned of ${head.metas.size}")
    filtered.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        max(col("user_id")).as("max_uid"))
      .orderBy(col("event_type"))
  }

  /** Shared fixture for the LIMIT/TopN pushdown keys: events
    * range-clustered on the unique `event_id` into 4 disjoint-envelope
    * files (the same sorted-write machinery sink_sorted_write pins). */
  private def cappedTable(spark: SparkSession, sf: String): String = {
    val dir = tmpDir("ttcap", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(8)
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "event_id").option("writePartitions", "4")
        .option("distributionStrict", "true")
        .mode("overwrite").save()
    }
    dir
  }
  private def graftScanParts(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
    require(scans.size == 1, s"want exactly one graft scan, got ${scans.size}")
    scans.head.inputRDD.getNumPartitions
  }

  /** REPORTED SORT ORDER (VERDICT r11 next #5,
    * [[graft.sources.GraftSinkScan.outputOrdering]]): under a declared
    * `#sortspec` every data file is internally sorted, so the scan
    * reports per-partition ASC ordering on the sort column and Catalyst
    * ELIMINATES per-partition Sort nodes above it — the sort half of the
    * range-clustered layout's read dividend (a 100 TB sorted table pays
    * zero re-sort for sortWithinPartitions / merge-join shapes). The
    * in-closure REQUIREs pin both directions: no Sort node over the
    * sorted table, and the same query over a hash-scattered CONTROL copy
    * (no `#sortspec`) keeps its Sort. Returned rows oracle the scan's
    * values against DuckDB. */
  def scanOrderReport(spark: SparkSession, sf: String): DataFrame = {
    val dir = cappedTable(spark, sf) // events range-clustered on event_id
    def swp(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .sortWithinPartitions(col("event_id"))
        .select(col("event_id"), col("event_type"), col("cents"))
    def sortNodes(df: DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Sort "))
    val sorted = swp(dir)
    require(sortNodes(sorted) == 0,
      s"reported ordering must elide the per-partition Sort:\n" +
        sorted.queryExecution.executedPlan)
    val ctl = tmpDir("ordctl", sf)
    graft.util.Scratch.once(ctl) {
      spark.read.format("graft-sink").option("path", dir).load()
        .repartition(4) // hash-scattered, NO declared sort
        .write.format("graft-sink").option("path", ctl).mode("overwrite").save()
    }
    require(sortNodes(swp(ctl)) >= 1,
      "an undeclared layout must keep its per-partition Sort (control)")
    sorted
  }

  /** LIMIT pushdown to manifest row counts
    * ([[graft.sources.GraftSinkScanBuilder.pushLimit]]): `LIMIT k` over
    * a graft table plans only the FIRST FILES whose live rows cover k —
    * O(k) IO regardless of table size, where an unpushed limit scans
    * (or at best short-circuits) every file. Spark keeps its own Limit
    * above the capped scan (isPartiallyPushed), so correctness never
    * depends on the cap — the REQUIREs pin the plan: 1 of the 4 files
    * planned, and exactly k rows returned. The oracle is the evidence
    * row (counts are exact; a limit's row CONTENT is inherently
    * arbitrary, so the contract is the count + the plan shape). */
  def scanLimitPushdown(spark: SparkSession, sf: String): DataFrame = {
    val dir = cappedTable(spark, sf)
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    require(nFiles == 4, s"fixture: want 4 range files, got $nFiles")
    val limited = spark.read.format("graft-sink").option("path", dir).load().limit(150)
    val got = limited.collect().length
    val planned = graftScanParts(limited)
    require(planned == 1,
      s"pushed LIMIT 150 must plan 1 of $nFiles files (first file covers it), planned $planned")
    require(got == 150, s"limit must still return exactly 150 rows, got $got")
    import spark.implicits._
    Seq((got.toLong, nFiles.toLong, planned.toLong))
      .toDF("n_rows", "n_files", "n_planned")
  }

  /** TopN (ORDER BY + LIMIT) pushdown to the range-clustered layout
    * ([[graft.sources.GraftSinkScanBuilder.pushTopN]]): on a table
    * sorted by `event_id` the scan takes files in envelope order until
    * k rows are covered and proves every top-k row lies under the taken
    * envelopes' bound — `ORDER BY event_id LIMIT 200` reads ONE of the
    * 4 files. That is the head-of-a-billion-row-time-series query made
    * O(k): sorted layout + manifest stats turn a full TakeOrdered scan
    * into single-file IO. Spark still sorts the surviving rows
    * (partial push), so the returned rows are exact and fully oracled
    * (unique sort key ⇒ deterministic), with the plan REQUIREd. */
  def scanTopnPushdown(spark: SparkSession, sf: String): DataFrame = {
    val dir = cappedTable(spark, sf)
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    require(nFiles == 4, s"fixture: want 4 range files, got $nFiles")
    val top = spark.read.format("graft-sink").option("path", dir).load()
      .orderBy(col("event_id")).limit(200)
    val cp = top.localCheckpoint()
    val planned = graftScanParts(top)
    require(planned == 1,
      s"pushed TopN(200) must plan 1 of $nFiles range files, planned $planned")
    cp.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("n_planned", lit(planned.toLong))
      .orderBy(col("event_id"))
  }

  /** BLOOM-FILTER FILE SKIPPING ([[graft.sources.GraftBloom]], the
    * Delta bloom-filter-index / Parquet column-bloom role): on an
    * UNSORTED table every file's min/max envelope spans the whole key
    * domain, so a point lookup on a high-cardinality column scans every
    * file — the case range clustering can't help because the table is
    * clustered on something else (or nothing). `bloomFor=event_id`
    * makes each task record a ~2-bytes/row bloom of its canonical cell
    * strings in the commit message; the manifest carries it per
    * (file, column) and the skipper probes it on =/IN. The key writes
    * the SAME interleaved data twice — with and without blooms — and
    * REQUIREs the control scan plans ALL 4 files (proving the
    * envelopes genuinely overlap and min/max alone prunes nothing)
    * while the bloomed scan plans at most half (exactly 1 absent false
    * positives). The returned row is the probed event, fully oracled. */
  def sinkBloomManifest(spark: SparkSession, sf: String): DataFrame = {
    def write(dir: String, bloom: Boolean): Unit =
      graft.util.Scratch.once(dir) {
        val w = events(spark, sf)
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 100).cast("long").as("cents"))
          .repartition(4) // round-robin: every file spans the id domain
          .write.format("graft-sink").option("path", dir)
        (if (bloom) w.option("bloomFor", "event_id") else w)
          .mode("overwrite").save()
      }
    val dir = tmpDir("ttbloom", sf)
    val ctl = tmpDir("ttbloomctl", sf)
    write(dir, bloom = true)
    write(ctl, bloom = false)
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    require(nFiles == 4, s"fixture: want 4 interleaved files, got $nFiles")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("event_id") === 247L)
    val control = probe(ctl).rdd.getNumPartitions
    require(control == nFiles,
      s"control (no bloom, overlapping envelopes) must plan all $nFiles files, " +
        s"planned $control")
    val bloomed = probe(dir)
    val planned = bloomed.rdd.getNumPartitions
    require(planned * 2 <= nFiles,
      s"bloom skipping must prune the point lookup: planned $planned of $nFiles")
    bloomed
      .withColumn("n_files", lit(nFiles.toLong))
      .orderBy(col("event_id"))
  }

  /** WRITE-TIME NDV STATISTICS → COST-BASED OPTIMIZER
    * ([[graft.sources.GraftHll]]): `ndvFor=*` makes every task fold a
    * HyperLogLog sketch per column into its commit message; the scan
    * merges the per-file sketches (register max — mergeability is the
    * whole point) and reports distinctCount/nullCount/min-max as DSv2
    * column statistics, which Spark folds into per-attribute ColumnStat
    * under CBO. The payoff: join reordering and selectivity estimation
    * on graft tables with ZERO ANALYZE pass — the statistics were
    * collected by the writes themselves, can never go stale, and cost
    * O(files) to merge at ANY table size (the Iceberg-puffin/Delta-
    * ANALYZE role done incrementally). The key REQUIREs Spark actually
    * CONSUMED the report (attributeStats non-empty under CBO, min/max
    * present for the id column) and emits a per-column within-10%%
    * accuracy verdict against the exact distinct counts (HLL at 2^12
    * registers is ±1.6%% SE plus the documented raw-regime bias hump
    * near 2.5m; the hash is fixed, so the verdict is deterministic). */
  def sinkNdvStats(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttndv", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(4) // 4 files ⇒ the scan must MERGE sketches
        .write.format("graft-sink").option("path", dir)
        .option("ndvFor", "*").mode("overwrite").save()
    }
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val reported: Map[String, (BigInt, Boolean)] = withConfs(spark,
      "spark.sql.cbo.enabled" -> "true") {
      val as = t.queryExecution.optimizedPlan.stats.attributeStats
      require(as.nonEmpty, "CBO must consume the scan's column statistics")
      as.map { case (attr, cs) =>
        require(cs.distinctCount.isDefined,
          s"merged NDV sketch missing for ${attr.name}")
        attr.name -> (cs.distinctCount.get, cs.min.isDefined && cs.max.isDefined)
      }.toMap
    }
    require(reported("event_id")._2,
      "numeric min/max must ride the column statistics")
    val ex = events(spark, sf).agg(
      count_distinct(col("event_id")).as("event_id"),
      count_distinct(col("user_id")).as("user_id"),
      count_distinct(col("event_type")).as("event_type"),
      count_distinct(floor(col("value") * 100).cast("long")).as("cents")).head()
    import spark.implicits._
    val rows = Seq("cents", "event_id", "event_type", "user_id").map { c =>
      val exact = ex.getAs[Long](c)
      val est = reported(c)._1.toLong
      val ok = math.abs(est - exact) <= math.max(1L, (exact * 0.10).toLong)
      require(ok, s"NDV estimate for $c off by >10%: est=$est exact=$exact")
      (c, if (ok) 1L else 0L)
    }
    rows.toDF("c", "ndv_ok").orderBy(col("c"))
  }

  /** TIMESTAMP/DATE columns through the versioned connector — event
    * time as a FIRST-CLASS lakehouse type: cells encode as internal
    * micros/days, so the SAME numeric stats machinery gives range
    * clustering (`sortBy=ts`), envelope skipping for pushed
    * Timestamp/Date predicates ([[graft.sources.GraftSinkScan.canon]]
    * bridges java.sql/java.time filter values to cell form), and
    * min/max aggregate pushdown over event time. The key range-clusters
    * events by `ts` into 4 disjoint files, REQUIREs a one-week
    * timestamp predicate plans at most half of them, and returns a
    * per-day aggregate the oracle recomputes from the raw parquet. */
  def sinkTimestampTypes(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttts", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("ts"), to_date(col("ts")).as("d"),
          col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
        .repartition(8)
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "ts").option("writePartitions", "4")
        .option("distributionStrict", "true")
        .mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.files.size == 4, s"fixture: want 4 range files, got ${head.files.size}")
    require(head.metas.forall(_.stats.contains(1)),
      "every file must carry a ts stats envelope")
    val filtered = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
    val planned = filtered.rdd.getNumPartitions
    require(planned * 2 <= head.files.size,
      s"ts range clustering must prune: planned $planned of ${head.files.size}")
    filtered
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        max(unix_timestamp(col("ts"))).as("last_es"))
      .orderBy(col("day"))
  }

  /** RUNTIME FILE PRUNING VIA BLOOM FILTERS — DPP's reach extended to
    * any INDEXED column: the fact is hash-clustered (not partitioned,
    * not range-sorted) on `user_id` with a per-file bloom, so neither
    * partition values nor envelopes can prune it; the scan advertises
    * the bloomed column as runtime-filterable and the broadcast dim's
    * actual key set probes each file's bloom AT EXECUTION — the
    * fact ⋈ tiny-dim point join reads one file of four. The key
    * REQUIREs the DPP filter planned, bloom pruning to at most half
    * the files, and a DPP-off control reading all of them. */
  def joinDppBloom(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("dppbloom", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(4, col("user_id")) // hash-clustered: envelopes overlap
        .write.format("graft-sink").option("path", dir)
        .option("bloomFor", "user_id").mode("overwrite").save()
    }
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.files.size
    require(nFiles == 4, s"fixture: want 4 clustered files, got $nFiles")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def joined(): DataFrame = {
      val fact = spark.read.format("graft-sink").option("path", dir).load()
      // the dim predicate sits on a DERIVED column ('u<user_id>'): the
      // literal user id is not statically derivable on the fact side
      // (constraint inference transits only an unpushable expression
      // filter), so only the RUNTIME key set can prune fact files —
      // exactly the situation bloom DPP exists for
      val dim = events(spark, sf).select(col("user_id")).distinct()
        .withColumn("uname", concat(lit("u"), col("user_id")))
        .where(col("uname") === "u7").select(col("user_id"))
      fact.join(broadcast(dim), Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }
    def plannedParts(j: DataFrame, wantDpp: Boolean): (DataFrame, Int) = {
      val cp = j.localCheckpoint()
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftSinkScan] => b }
      require(scans.size == 1, s"want exactly one graft scan, got ${scans.size}")
      require(scans.head.runtimeFilters.nonEmpty == wantDpp,
        s"fact scan runtime filters planned=${scans.head.runtimeFilters.nonEmpty}, " +
          s"want $wantDpp")
      (cp, scans.head.inputRDD.getNumPartitions)
    }
    val out = withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val (cp, planned) = plannedParts(joined(), wantDpp = true)
      require(planned * 2 <= nFiles,
        s"bloom runtime pruning must plan at most half of $nFiles files, " +
          s"planned $planned")
      val (_, control) = withConfs(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
        plannedParts(joined(), wantDpp = false)
      }
      require(control == nFiles,
        s"no-DPP control must plan all $nFiles files, planned $control")
      // planned rides only as a REQUIRE, not an output column: a bloom
      // false positive could make it 2 at some future sf — sound, but
      // not a number an oracle can recompute
      cp.withColumn("n_files", lit(nFiles.toLong))
    }
    out.orderBy(col("event_type"))
  }

  /** METADATA TABLES — `CALL gsql.system.files/partitions(t)` (the
    * Iceberg `t.files`/`t.partitions` read): per-file and per-partition
    * facts (file count, physical rows, live rows after deletion vectors)
    * straight from the folded head manifest, O(manifest) with zero data
    * bytes read — how an operator finds fragmentation or outstanding
    * merge-on-read debt on a 100 TB table. The fixture writes a
    * partitioned table (hash write distribution → exactly ONE file per
    * value, which the oracle pins), row-level-DELETEs one bucket so
    * physical and live counts genuinely diverge, and REQUIREs the files
    * view to reconcile with the partitions view before returning the
    * latter. */
  def sinkPartitionsMetadata(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "pm_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "event_type").mode("overwrite").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE bucket = 2")
    }
    val files = spark.sql(s"CALL gsql.system.files('db.$tbl')")
      .groupBy(col("partition_value")).agg(
        count(lit(1)).as("nf"), sum(col("rows")).as("r"),
        sum(col("live_rows")).as("lr"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val parts = spark.sql(s"CALL gsql.system.partitions('db.$tbl')")
    val fromParts = parts.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    require(files == fromParts,
      s"files and partitions metadata must reconcile: $files vs $fromParts")
    parts.select(col("partition").as("event_type"), col("n_files"),
        col("rows").as("n_rows"), col("live_rows").as("n_live"))
      .orderBy(col("event_type"))
  }

  /** ROW-LEVEL MERGE committed as a VERSION (VERDICT r7 missing #2 — the
    * DML-in-the-commit-log capstone): version 1 is the keyed aggregate of
    * the bucket<3 slice; an updates batch (buckets 2-3) MERGEs in —
    * matched keys replaced, new keys inserted — via one full-outer join
    * on the snapshot key, and the merged table commits through the
    * connector as version 2 WITH `expectedBaseVersion=1`: had a
    * concurrent writer advanced the head past the version this merge
    * planned against, the commit would throw instead of truncating away
    * the interloper's rows (the rewrite-vs-append conflict rule; the
    * PropertySpec appender-vs-compactor race pins it). Both snapshots
    * stay readable; the oracle recomputes each from events. */
  def sinkMergeVersion(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttmerge", sf)
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf).where(col("user_id") % 4 < 3))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      val updates = bucketAgg(events(spark, sf).where(col("user_id") % 4 > 1))
        .select(col("event_type"), col("bucket"),
          col("n").as("n_u"), col("sum_cents").as("c_u"))
      val target = spark.read.format("graft-sink").option("path", dir).load()
        .select(col("event_type"), col("bucket"),
          col("n").as("n_t"), col("sum_cents").as("c_t"))
      target.join(updates, Seq("event_type", "bucket"), "full_outer")
        .select(col("event_type"), col("bucket"),
          coalesce(col("n_u"), col("n_t")).as("n"),
          coalesce(col("c_u"), col("c_t")).as("sum_cents"))
        .write.format("graft-sink").option("path", dir)
        .option("expectedBaseVersion", "1").mode("overwrite").save()
    }
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** ROW-LEVEL DELETE committed as a VERSION — the GDPR-erasure shape on
    * the connector's own commit log: version 2 is version 1 minus the
    * erased cohort (bucket 2), written back through the connector as an
    * overwrite conditioned on `expectedBaseVersion=1` (same conflict rule
    * as [[sinkMergeVersion]]). The erased rows remain readable at the
    * pinned pre-delete version — which is exactly how snapshot tables
    * behave until VACUUM reclaims the old files ([[sinkCompactVacuum]]'s
    * half of the lifecycle completes the erasure). */
  def sinkDeleteWhere(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttdel", sf)
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.read.format("graft-sink").option("path", dir).load()
        .where(col("bucket") =!= 2)
        .write.format("graft-sink").option("path", dir)
        .option("expectedBaseVersion", "1").mode("overwrite").save()
    }
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** SCHEMA EVOLUTION through the connector's own manifest (VERDICT r7
    * missing #6 — `meta_catalog_describe` evolves over parquet via
    * Spark's catalog; this is the same contract on the graft-sink commit
    * log): version 1 commits (event_type, n); version 2 APPENDS a wider
    * frame (event_type, n, sum_cents) under `evolveSchema=true`. The
    * manifest schema becomes the union with the NEW column forced
    * nullable, each file records the width it was written with, and the
    * head read resolves pre-evolution files' missing trailing column as
    * NULL — old versions stay readable, nothing is rewritten (the
    * add-column evolution every warehouse table format supports without
    * touching data). The oracle recomputes both slices with the
    * pre-evolution one carrying a NULL sum_cents. */
  def sinkSchemaEvolve(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttevo", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf).where(col("user_id") % 2 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      events(spark, sf).where(col("user_id") % 2 === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
        .write.format("graft-sink").option("path", dir)
        .option("evolveSchema", "true").mode("append").save()
    }
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("n"))
  }

  // ---- round 9: SQL row-level DML + merge-on-read deletion vectors ----

  /** Catalog bootstrap shared by the SQL-DML keys: the same `gsql`
    * catalog the travel/restore keys register, rooted in scratch. */
  private def gsqlRoot(spark: SparkSession): String = {
    val root = graft.util.Scratch.dir("sqlcat_root", "all")
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    root
  }

  /** SQL `DELETE FROM` planned MERGE-ON-READ (VERDICT r8 missing #1 + #2
    * in one mechanism): the predicate mixes live and dead rows inside the
    * single committed file, so the metadata-only path cannot decide it
    * and Spark rewrites the statement to the connector's SupportsDelta
    * plan — deleted rows land as a DELETION-VECTOR sidecar keyed by the
    * (_file, _pos) row id, the data file is NOT rewritten (REQUIREd from
    * the manifest: v2 names exactly v1's file, now carrying a `#dv`
    * entry), and the commit is a full snapshot conditioned on the version
    * the operation planned against. Both versions stay readable — phase 1
    * pins the pre-delete snapshot, phase 2 reads the head through the
    * vector. The oracle recomputes both phases from events. */
  def sqlDmlDelete(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "del_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE event_type = 'click' AND bucket >= 2")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    require(v2m.metas.map(_.name) == v1m.metas.map(_.name),
      s"merge-on-read DELETE must not rewrite data files: v1=${v1m.files} v2=${v2m.files}")
    require(v2m.metas.exists(_.dv.isDefined),
      "merge-on-read DELETE must record a deletion vector")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** SQL `UPDATE` planned merge-on-read as DELETE + RE-INSERT
    * (SupportsDelta.representUpdateAsDeleteAndInsert): the matched rows'
    * old images become deletion-vector positions on the original file
    * (REQUIREd: v1's file survives into v2 with a `#dv` entry) and their
    * new images land as a fresh data file through the ordinary
    * task-commit protocol (REQUIREd: v2 adds at least one file) — the
    * O(changed rows) update every copy-on-write format pays O(file) for.
    * The oracle recomputes the head with a CASE. */
  def sqlDmlUpdate(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "upd_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"UPDATE gsql.db.$tbl SET sum_cents = sum_cents + n WHERE bucket = 1")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    val v1names = v1m.metas.map(_.name).toSet
    require(v2m.metas.exists(m => v1names(m.name) && m.dv.isDefined),
      "merge-on-read UPDATE must vector the old images on the original file")
    require(v2m.metas.exists(m => !v1names(m.name)),
      "merge-on-read UPDATE must land the new images as a fresh file")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** SQL `MERGE INTO` with all three clause kinds, planned merge-on-read:
    * matched-and-even-cents rows DELETE (vector positions), the other
    * matched rows UPDATE (vector + re-insert), unmatched source rows
    * INSERT (fresh file) — one WriteDelta job, one conditioned
    * full-snapshot commit. Target = buckets 0-2 of the keyed aggregate;
    * source = buckets 2-3, so bucket 2 exercises the matched clauses and
    * bucket 3 the insert clause deterministically. The oracle rebuilds
    * the post-merge state with joins. */
  def sqlMergeInto(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "mrg_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    val srcView = s"mrg_src_${sfTag(sf)}"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf).where(col("user_id") % 4 < 3)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      bucketAgg(events(spark, sf).where(col("user_id") % 4 > 1))
        .createOrReplaceTempView(srcView)
      spark.sql(
        s"""MERGE INTO gsql.db.$tbl t USING $srcView s
           |ON t.event_type = s.event_type AND t.bucket = s.bucket
           |WHEN MATCHED AND s.sum_cents % 2 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n = s.n, sum_cents = s.sum_cents
           |WHEN NOT MATCHED THEN INSERT (event_type, bucket, n, sum_cents)
           |  VALUES (s.event_type, s.bucket, s.n, s.sum_cents)""".stripMargin)
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    val v1names = v1m.metas.map(_.name).toSet
    require(v2m.metas.exists(m => v1names(m.name)),
      "MERGE must keep the un-rewritten target file")
    require(v2m.metas.exists(m => !v1names(m.name)),
      "MERGE must land inserted/updated rows as fresh files")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** SQL `MERGE INTO ... WHEN NOT MATCHED BY SOURCE THEN DELETE` — the
    * FULL-SYNC verb (make the target equal the source in one atomic
    * statement), the fourth MERGE clause kind sql_merge_into doesn't
    * exercise: target rows whose key the source lacks are DELETED (as
    * deletion-vector positions through the same SupportsDelta plan),
    * matched rows update, unmatched source rows insert. Target =
    * buckets 0-2, source = buckets 1-3 with shifted n, so every clause
    * fires deterministically: bucket 0 deletes, 1-2 update, 3 inserts —
    * and the post-merge table is EXACTLY the source, which is the
    * oracle (sync semantics stated as an equation). */
  def sqlMergeSync(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "mrgsync_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    val srcView = s"mrgsync_src_${sfTag(sf)}"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf).where(col("user_id") % 4 < 3)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      bucketAgg(events(spark, sf).where(col("user_id") % 4 >= 1))
        .withColumn("n", col("n") + 1000)
        .createOrReplaceTempView(srcView)
      spark.sql(
        s"""MERGE INTO gsql.db.$tbl t USING $srcView s
           |ON t.event_type = s.event_type AND t.bucket = s.bucket
           |WHEN MATCHED THEN UPDATE SET n = s.n, sum_cents = s.sum_cents
           |WHEN NOT MATCHED THEN INSERT (event_type, bucket, n, sum_cents)
           |  VALUES (s.event_type, s.bucket, s.n, s.sum_cents)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    spark.table(s"gsql.db.$tbl")
      .select(col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Misordered 3-way join over GRAFT tables (shared with the key and
    * ScaleFixSpec): event-level fact ⋈ user-level mid first AS WRITTEN,
    * with the selective dim (filtered to one of five types) joined
    * LAST. All three written `ndvFor=*`, so the scans report
    * write-time NDV/null/min-max column statistics. */
  private[graft] def cboGraftPlan(spark: SparkSession, sf: String): DataFrame = {
    def build(name: String)(df: DataFrame): String = {
      val dir = tmpDir(name, sf)
      graft.util.Scratch.once(dir) {
        df.write.format("graft-sink").option("path", dir)
          .option("ndvFor", "*").mode("overwrite").save()
      }
      dir
    }
    val cents = floor(col("value") * 100).cast("long").as("cents")
    val fDir = build("cbog_f")(events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), cents))
    val uDir = build("cbog_u")(events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("u_n")))
    val tDir = build("cbog_t")(events(spark, sf)
      .select(col("event_type")).distinct()
      .withColumn("t_tag", upper(col("event_type"))))
    def rd(d: String) = spark.read.format("graft-sink").option("path", d).load()
    rd(fDir)
      .join(rd(uDir), Seq("user_id"))
      // filter on the NON-join column: a join-key filter would transit
      // onto the fact via constraint inference and equalize the costs —
      // the realistic dim predicate ("this tag") stays dim-local
      .join(rd(tDir).where(col("t_tag") === "PURCHASE"), Seq("event_type"))
      .groupBy(col("t_tag"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("u_n")).as("sum_un"))
  }

  /** COST-BASED JOIN REORDER POWERED BY WRITE-TIME STATISTICS — the
    * consumption proof for [[sinkNdvStats]]'s sketches: with CBO on,
    * the optimizer reads the graft scans' reported row counts and
    * column statistics (NDV 5 on the dim's join key → equality
    * selectivity 1/5) and must flip the deliberately misordered plan so
    * the fact joins the FILTERED DIM before the user-level mid table —
    * on a real cluster the difference between shuffling the whole fact
    * twice and once. ZERO ANALYZE ran: every number the cost model used
    * was collected by the writes themselves. The key REQUIREs the leaf
    * order actually flips (stats-free control keeps written order) and
    * returns the fully oracled aggregate. */
  def joinCboGraft(spark: SparkSession, sf: String): DataFrame = {
    def leafDirs(df: DataFrame): Seq[String] = {
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          r.scan match {
            case g: graft.sources.GraftSinkScan =>
              g.path.substring(g.path.lastIndexOf('/') + 1)
            case _ => "other"
          }
      }
    }
    val off = leafDirs(cboGraftPlan(spark, sf))
    require(off.head.startsWith("cbog_f") && off(1).startsWith("cbog_u"),
      s"stats-free plan must keep the written (misordered) order: $off")
    withConfs(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val q = cboGraftPlan(spark, sf)
      val on = leafDirs(q)
      require(on != off && !on(1).startsWith("cbog_u"),
        s"CBO must join the filtered dim before the mid table: off=$off on=$on")
      q.localCheckpoint()
    }.orderBy(col("t_tag"))
  }

  /** ZERO-COPY SHALLOW CLONE ([[graft.sources.GraftCloneProcedure]]):
    * `CALL system.clone(src, dst)` births the target with one committed
    * version naming the SOURCE's files — hard-linked, zero bytes
    * copied (REQUIREd: same inode) — after which the tables diverge
    * independently: the key row-level-DELETEs one bucket on the CLONE
    * and REQUIREs the source row count unchanged and the clone's
    * delete landed as its own deletion vector (the source file
    * untouched). This is the dev/test-sandbox verb on a 100 TB table:
    * O(files) metadata, no data movement, independent lifecycle.
    * Output = source rows (phase 1) ∪ post-delete clone rows (phase
    * 2), both recomputed by the oracle. */
  def sinkShallowClone(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val src = "clsrc_" + sfTag(sf)
    val dst = "cldst_" + sfTag(sf)
    val srcDir = s"$root/db/$src"
    val dstDir = s"$root/db/$dst"
    graft.util.Scratch.once(dstDir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", srcDir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.clone('db.$src', 'db.$dst')")
      val sm = graft.sources.GraftManifest.readVersion(srcDir, None).get
      val dm = graft.sources.GraftManifest.readVersion(dstDir, None).get
      require(dm.metas.map(_.name) == sm.metas.map(_.name),
        "clone must name exactly the source snapshot's files")
      def ino(d: String, n: String): Any = java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(d, n), "unix:ino")
      sm.metas.foreach { m =>
        require(ino(srcDir, m.name) == ino(dstDir, m.name),
          s"clone must hard-link (zero-copy) ${m.name}, not copy it")
      }
      val srcRows = spark.table(s"gsql.db.$src").count()
      spark.sql(s"DELETE FROM gsql.db.$dst WHERE bucket = 0")
      require(spark.table(s"gsql.db.$src").count() == srcRows,
        "a delete on the clone must never reach the source")
      val dm2 = graft.sources.GraftManifest.readVersion(dstDir, None).get
      require(dm2.metas.exists(_.dv.isDefined),
        "the clone's delete must land merge-on-read in the clone's own dir")
      require(graft.sources.GraftManifest.readVersion(srcDir, None).get
        .metas.forall(_.dv.isEmpty), "the source must stay vector-free")
      // LIFECYCLE INDEPENDENCE: overwrite the source (its original files
      // become orphans there) and VACUUM it with zero grace — the bytes
      // survive under the clone's own links, so the clone still reads
      val cloneRows = spark.table(s"gsql.db.$dst").count()
      bucketAgg(events(spark, sf)).withColumn("n", col("n") * 2).coalesce(1)
        .write.format("graft-sink").option("path", srcDir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.vacuum('db.$src', 1, 0)")
      require(spark.table(s"gsql.db.$dst").count() == cloneRows,
        "the source's vacuum must never reclaim bytes the clone still links")
      // put the source back so the registered phase-1 output is stable
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", srcDir).mode("overwrite").save()
    }
    spark.table(s"gsql.db.$src").withColumn("phase", lit(1L))
      .unionByName(spark.table(s"gsql.db.$dst").withColumn("phase", lit(2L)))
      .select(col("phase"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"), col("bucket"))
  }

  /** PARTITION EVOLUTION ([[graft.sources.GraftSetPartitionSpecProcedure]])
    * — the layout changes, the DATA does not move: v1 lands
    * unpartitioned, `CALL set_partition_spec` declares `event_type`
    * metadata-only, and the next append conforms (one file per value)
    * while v1's file keeps its undeclared layout. The read path
    * resolves layout PER FILE, so a pinned predicate prunes
    * new-generation files by exact partition value and old-generation
    * ones by stats envelope — REQUIREd: 'purchase' plans exactly 2 of
    * 6 files (1 partition file + the legacy file), and an out-of-domain
    * probe plans 0. At 100 TB this is how a table repartitions without
    * rewriting history. Oracle: the union of both generations'
    * aggregates. */
  def sinkPartitionEvolution(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "pevo_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf).where(col("user_id") % 2 === 0)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.set_partition_spec('db.$tbl', 'event_type')")
      bucketAgg(events(spark, sf).where(col("user_id") % 2 === 1))
        .repartition(col("event_type"))
        .write.format("graft-sink").option("path", dir).mode("append").save()
      val head = graft.sources.GraftManifest.readVersion(dir, None).get
      require(head.partSpec.contains("event_type"),
        s"declared spec must ride the head: ${head.partSpec}")
      val (legacy, evolved) = head.metas.partition(_.partition.isEmpty)
      require(legacy.size == 1 && evolved.size == 5 &&
        evolved.forall(_.partition.exists(_._1 == "event_type")),
        s"want 1 legacy + 5 partitioned files, got $head")
      def planned(v: String): Int =
        spark.read.format("graft-sink").option("path", dir).load()
          .where(col("event_type") === v).rdd.getNumPartitions
      require(planned("purchase") == 2,
        s"mixed-generation pruning must plan 1 partition + 1 legacy file, " +
          s"got ${planned("purchase")}")
      require(planned("zzz") == 0,
        s"an out-of-domain probe must plan zero files, got ${planned("zzz")}")
    }
    spark.table(s"gsql.db.$tbl")
      .select(col("event_type"), col("bucket"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"), col("n"))
  }

  /** SORT-LAYOUT LIFECYCLE (`#sortspec`) — the declared range
    * clustering survives ingest AND maintenance: a truncating
    * `sortBy=user_id` write declares the layout, an append with NO
    * options conforms to it (new files tile the key), and
    * `CALL optimize` recompacts to exactly target_files DISJOINT range
    * files instead of hash-scattering the clustering away. REQUIREd:
    * the spec survives the whole lifecycle, post-compaction envelopes
    * are pairwise disjoint, and a bottom-eighth range predicate plans
    * at most half the files. At 100 TB this is what keeps a
    * time-series table's range reads O(answer) across years of
    * compactions. Oracle: the filtered aggregate over both halves. */
  def sinkSortedCompact(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "sortc_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      def slice(m: Int) = events(spark, sf).where(col("user_id") % 2 === m)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(8)
      slice(0).write.format("graft-sink").option("path", dir)
        .option("sortBy", "user_id").option("writePartitions", "4")
        .option("distributionStrict", "true").mode("overwrite").save()
      slice(1).write.format("graft-sink").option("path", dir)
        .mode("append").save()
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 4)")
      val head = graft.sources.GraftManifest.readVersion(dir, None).get
      require(head.sortSpec.contains("user_id"),
        s"the declared sort must survive ingest+OPTIMIZE: ${head.sortSpec}")
      val envs = head.metas.flatMap(_.stats.get(1))
        .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
      require(envs.size == head.metas.size && envs.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) => aMax <= bMin
        case _                         => true
      }, s"compaction must land disjoint user_id envelopes: $envs")
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val hi = head.metas.flatMap(_.stats.get(1)).map(_._2.toLong).max / 8
    val filtered = spark.table(s"gsql.db.$tbl").where(col("user_id") <= hi)
    val planned = filtered.rdd.getNumPartitions
    require(planned * 2 <= head.metas.size,
      s"range pruning must survive compaction: planned $planned of ${head.metas.size}")
    filtered.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        max(col("user_id")).as("max_uid"))
      .orderBy(col("event_type"))
  }

  /** ORPHAN-FILE REPORT ([[graft.sources.GraftOrphansProcedure]]) — the
    * VACUUM dry-run: files referenced by NO version and no pending WAP
    * stage are crashed-task / lost-race debris; `CALL orphans` lists
    * their count and bytes READ-ONLY, so an operator audits the storage
    * leak before choosing retention. The key REQUIREs a clean table
    * reports zero, plants two pieces of debris (a data file and a dv
    * sidecar with fixed bytes), and returns the report the oracle pins
    * exactly; the planted files are untouched (dry-run) and invisible
    * to reads. */
  def sinkOrphanReport(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "orph_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      val clean = spark.sql(s"CALL gsql.system.orphans('db.$tbl', 0)").head()
      require(clean.getLong(0) == 0L,
        s"a freshly committed table must report zero orphans, got $clean")
      val rows = spark.table(s"gsql.db.$tbl").count()
      // plant crashed-task debris: 9 bytes of data file, 3 bytes of dv
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "zz-orphan.csv"),
        "orphan,1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "zz-orphan.dv"),
        Array[Byte](1, 2, 3))
      require(spark.table(s"gsql.db.$tbl").count() == rows,
        "debris must be invisible to manifest-trusting reads")
    }
    // grace 0: the fixture's planted debris is seconds old; production
    // audits keep the default 10-minute window so in-flight task commits
    // never read as debris
    spark.sql(s"CALL gsql.system.orphans('db.$tbl', 0)")
  }

  /** BRANCH → MUTATE → MERGE ([[graft.sources.GraftFastForwardProcedure]])
    * — the arbitrary-rewrite staging workflow (WAP stages only
    * appends): a zero-copy clone IS the writable branch; row-level DML
    * runs on it in isolation (REQUIREd: the source never changes), and
    * `CALL fast_forward` publishes the branch head back as ONE
    * conditioned source commit — refused if the source moved since the
    * branch certificate (strict, like WAP publish). Time travel keeps
    * the pre-merge state readable. The key deletes a bucket on the
    * branch, merges, and returns pre-merge ∪ post-merge phases, both
    * oracled. */
  def sinkBranchMerge(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val src = "bm_" + sfTag(sf)
    val dev = "bmdev_" + sfTag(sf)
    val srcDir = s"$root/db/$src"
    graft.util.Scratch.once(srcDir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", srcDir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.clone('db.$src', 'db.$dev')")
      val srcRows = spark.table(s"gsql.db.$src").count()
      spark.sql(s"DELETE FROM gsql.db.$dev WHERE bucket = 3")
      require(spark.table(s"gsql.db.$src").count() == srcRows,
        "branch DML must never reach the source")
      val r = spark.sql(s"CALL gsql.system.fast_forward('db.$src', 'db.$dev')").head()
      require(r.getInt(0) == 1 && r.getInt(2) == 2,
        s"fast-forward must publish the branch head as source v2: $r")
      val head = graft.sources.GraftManifest.readVersion(srcDir, None).get
      require(head.op.exists(_.startsWith("FAST FORWARD")),
        s"the merge must carry its audit label: ${head.op}")
      require(spark.table(s"gsql.db.$src").count() ==
        spark.table(s"gsql.db.$dev").count(),
        "post-merge source must equal the branch")
      require(spark.sql(s"SELECT * FROM gsql.db.$src VERSION AS OF 1")
        .where(col("bucket") === 3).count() > 0,
        "the pre-merge state must stay time-travelable")
    }
    val v1 = spark.sql(s"SELECT * FROM gsql.db.$src VERSION AS OF 1")
    spark.table(s"gsql.db.$src").withColumn("phase", lit(2L))
      .unionByName(v1.withColumn("phase", lit(1L)))
      .select(col("phase"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"), col("bucket"))
  }

  /** The O(deleted rows) PROOF for merge-on-read (VERDICT r8 missing #2's
    * "done" bar): a POINT delete (one row of twenty) commits a
    * deletion-vector sidecar of a few bytes — REQUIREd: v2 names exactly
    * v1's data file (zero files rewritten), the vector holds exactly ONE
    * position, and the sidecar is under 64 bytes — then
    * `CALL gsql.system.optimize` MATERIALIZES the vector: v3's files are
    * all fresh and carry no `#dv` entry (the merge-on-read debt paid once,
    * by maintenance, not per point delete). Phases 1-3 read all three
    * versions; the oracle recomputes them from events. */
  def sinkDvPointDelete(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "pdel_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE event_type = 'purchase' AND bucket = 3")
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 1)")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    val v3m = graft.sources.GraftManifest.readVersion(dir, Some(3)).get
    require(v2m.metas.map(_.name) == v1m.metas.map(_.name),
      "point delete must not rewrite any data file")
    val dvs = v2m.metas.flatMap(_.dv)
    require(dvs.map(_._2).sum == 1L,
      s"point delete of one row must vector exactly one position, got $dvs")
    dvs.foreach { case (sc, _) =>
      val sz = java.nio.file.Files.size(java.nio.file.Paths.get(dir, sc))
      require(sz < 64, s"a one-position deletion vector must be a few bytes, got $sz") }
    require(v3m.metas.forall(_.dv.isEmpty),
      "OPTIMIZE must materialize and drop deletion vectors")
    require(v3m.metas.map(_.name).toSet.intersect(v1m.metas.map(_.name).toSet).isEmpty,
      "OPTIMIZE must rewrite into fresh files")
    val read = (v: Int) => spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", v.toString).load()
      .withColumn("phase", lit(v.toLong))
    read(1).unionByName(read(2)).unionByName(read(3))
      .select(col("phase"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"), col("bucket"))
  }

  /** THE WIDENED SCALAR SURFACE THROUGH BOTH CODECS (round-11 type
    * coverage): int / float / boolean / decimal(12,2) columns written
    * through the connector as BOTH `format=csv` (text cells) and
    * `format=parquet` (typed chunks), read back and unioned under a
    * `fmt` tag — one oracle proves the two codecs agree with each other
    * AND with DuckDB. REQUIREd: every scalar column carries exact
    * min/max stats in both manifests (the widened cmp/canon machinery),
    * and an int-column range probe prunes files in the parquet table.
    * Decimal stays decimal AT REST; the comparable output carries exact
    * cents (decimal×100 as BIGINT — Shapes bans decimal outputs, not
    * decimal storage). */
  def sinkScalarTypes(spark: SparkSession, sf: String): DataFrame = {
    def src: DataFrame = events(spark, sf).select(
      col("event_id"),
      col("user_id").cast("int").as("i32"),
      col("value").cast("float").as("f32"),
      (col("user_id") % 2 === 0).as("flag"),
      col("value").cast("decimal(12,2)").as("dec"))
    def dirFor(fmt: String): String = {
      val dir = tmpDir(s"ttscalar_$fmt", sf)
      graft.util.Scratch.once(dir) {
        src.repartition(4)
          .write.format("graft-sink").option("path", dir)
          .option("format", fmt).option("sortBy", "event_id")
          .option("writePartitions", "4").option("distributionStrict", "true")
          .mode("overwrite").save()
      }
      dir
    }
    val dirs = Seq("csv", "parquet").map(f => f -> dirFor(f))
    dirs.foreach { case (fmt, dir) =>
      val head = graft.sources.GraftManifest.readVersion(dir, None).get
      require(head.format.contains(fmt), s"$dir must record #format=$fmt")
      (0 to 4).foreach { i =>
        require(head.metas.forall(_.stats.contains(i)),
          s"$fmt: scalar column $i must carry exact stats") }
    }
    // range pruning on the clustered long key still works over the new
    // scalar columns' presence (disjoint envelopes from the sorted write)
    val pq = spark.read.format("graft-sink").option("path", dirs(1)._2).load()
    val hi = pq.agg(min(col("event_id"))).collect().head.getLong(0) + 10
    val probe = pq.where(col("event_id") <= hi)
    require(probe.rdd.getNumPartitions == 1,
      s"disjoint envelopes must prune the range probe to 1 of 4 files")
    dirs.map { case (fmt, dir) =>
      spark.read.format("graft-sink").option("path", dir).load()
        .select(lit(fmt).as("fmt"), col("event_id"),
          col("i32").cast("long").as("i32"),
          // float: exact bit-value comparison via double widening
          col("f32").cast("double").as("f32"),
          col("flag"),
          (col("dec") * 100).cast("long").as("dec_cents"))
    }.reduce(_.unionByName(_))
      .orderBy(col("fmt"), col("event_id"))
  }

  /** WIDE TYPES through the versioned connector (VERDICT r11 next #7):
    * decimal(38,6) — past the INT64 ceiling, stored as the standard
    * FIXED_LEN_BYTE_ARRAY parquet DECIMAL — and `array<struct<scalar>>`
    * (typed per-frame multimodal metadata: one record per frame, typed
    * members, one nesting level). Both land through the ordinary write
    * path, survive the manifest protocol, and read back EXACTLY; the
    * oracle flattens on DuckDB over the raw fixture. Stats discipline:
    * wide decimals are NON-statable (no canonical cell string) — the
    * in-closure REQUIRE pins that their stats are WITHHELD, never a
    * confidently-wrong envelope. */
  def sinkWideTypes(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttwide", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf).select(
        col("event_id"),
        // exercise >18-digit magnitudes: shift user_id up 20 digits
        (col("user_id").cast("decimal(18,0)")
          * lit("100000000000000000000").cast("decimal(21,0)"))
          .cast("decimal(38,6)").as("wide"),
        array(
          struct(col("user_id").as("ts"),
            floor(col("value") * 10).cast("long").as("len")),
          struct((col("user_id") + 1).as("ts"), lit(0L).as("len"))
        ).as("frames"))
        .repartition(4)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.metas.forall(_.stats.contains(0)),
      "the long key keeps exact stats next to wide columns")
    // round 15 (VERDICT r14 next #4): wide decimal is now STATABLE — its
    // canonical cell is the exact plain string, so min/max envelopes
    // cover decimal(38,6); the >19-digit unscaled values of THIS fixture
    // overflow the Long `#sums` fact, which must be WITHHELD (unknown,
    // never wrong) — both facts pinned here
    require(head.metas.forall(_.stats.contains(1)),
      s"wide decimal must keep exact stats: ${head.metas.map(_.stats)}")
    require(head.metas.forall(m => m.sums.forall(!_.contains(1))),
      s"overflowing wide-decimal sums must be withheld: ${head.metas.map(_.sums)}")
    require(head.metas.forall(m => !m.stats.contains(2)),
      s"array<struct> must WITHHOLD stats: ${head.metas.map(_.stats)}")
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("event_id"),
        // compare the wide value as its EXACT decimal text (the parity
        // rule bans DECIMAL output columns; a double round-trip wobbles
        // in the 16th digit)
        col("wide").cast("string").as("wide_str"),
        explode(col("frames")).as("f"))
      .select(col("event_id"), col("wide_str"),
        col("f.ts").as("ts"), col("f.len").as("len"))
      .orderBy(col("event_id"), col("ts"))
  }

  /** ARBITRARY NESTING DEPTH through the versioned connector (closes
    * the "one nesting level only" type ceiling): `array<array<bigint>>`
    * (a per-event token matrix), a struct whose members are a DEEPER
    * struct and an `array<string>` tag list, and
    * `map<string, struct<...>>` — all land through the ordinary write
    * path (Spark's ParquetWriteSupport composes groups to any depth),
    * survive the manifest protocol, and read back exactly through the
    * recursive Group decode / vectorized batch decode. A null element
    * INSIDE the inner array exercises the depth-2 null path. Nested
    * columns stay NON-statable (REQUIREd withheld — an envelope over a
    * group prunes nothing); the scalar key keeps its exact stats. The
    * oracle re-derives every flattened leaf from the raw fixture. */
  def sinkNestedDeep(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttnest", sf)
    graft.util.Scratch.once(dir) {
      events(spark, sf).select(
        col("event_id"),
        array(
          array(col("user_id"), col("user_id") + 1),
          // depth-2 null: the second inner array's element is null
          // unless event_id % 3 = 0
          array(when(col("event_id") % 3 === 0, col("user_id") * 2))
        ).as("aa"),
        struct(
          struct(col("user_id").as("a"), col("event_type").as("b"))
            .as("inner"),
          array(col("event_type"), upper(col("event_type"))).as("tags")
        ).as("meta"),
        map(lit("k"),
          struct(col("user_id").as("v"), col("event_type").as("t")))
          .as("m"))
        .repartition(4)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.metas.forall(_.stats.contains(0)),
      "the long key keeps exact stats next to nested columns")
    require(head.metas.forall(m => Seq(1, 2, 3).forall(i => !m.stats.contains(i))),
      s"nested columns must WITHHOLD stats: ${head.metas.map(_.stats)}")
    val rt = spark.read.format("graft-sink").option("path", dir).load()
    // the declared read schema must keep full depth — a reader that
    // flattened or stringified would still "work" on the leaves below
    Seq("aa" -> "array<array<bigint>>",
      "meta" -> "struct<inner:struct<a:bigint,b:string>,tags:array<string>>",
      "m" -> "map<string,struct<v:bigint,t:string>>").foreach { case (c, t) =>
      require(rt.schema(c).dataType.simpleString == t,
        s"roundtrip schema for $c: ${rt.schema(c).dataType.simpleString}") }
    rt.select(col("event_id"),
      // null-skipping exact sum over the flattened depth-2 matrix
      aggregate(filter(flatten(col("aa")), x => x.isNotNull),
        lit(0L), (acc, x) => acc + x).as("aa_sum"),
      col("meta.inner.a").as("inner_a"), col("meta.inner.b").as("inner_b"),
      concat_ws("|", col("meta.tags")).as("tags_cat"),
      col("m")(lit("k")).getField("v").as("mv"),
      col("m")(lit("k")).getField("t").as("mt"))
      .orderBy(col("event_id"))
  }

  /** MULTIMODAL BLOBS AS A VERSIONED BINARY COLUMN (the round-10
    * "multimodal columns stop at the binary-file source" gap): opaque
    * bytes land as a typed `binary` parquet cell in the versioned
    * connector — time travel, DVs and OPTIMIZE now cover image/audio
    * payloads, not just their metadata. Fixture blobs are the documents'
    * UTF-8 bytes (deterministic and oracle-checkable: DuckDB's md5 over
    * the text hashes the same bytes Spark's md5 hashes over the blob —
    * a byte-true storage proof). One blob is DV-deleted (REQUIREd: no
    * data file rewritten — the bytes are never copied to delete a row)
    * and version 1 still serves it. Binary columns are non-statable
    * (REQUIREd: no stats entry) — envelope bounds over opaque bytes
    * prune nothing. */
  def sinkBinaryColumn(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "blobs_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      documents(spark, sf)
        .select(col("doc_id"), col("lang"),
          encode(col("text"), "UTF-8").as("blob"))
        .coalesce(2)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE doc_id = 3")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    require(v1m.format.contains("parquet") &&
      v1m.metas.forall(_.name.endsWith(".parquet")),
      "blobs must land as parquet parts")
    require(v1m.metas.forall(m => !m.stats.contains(2) && m.stats.contains(0)),
      "binary column must carry no stats; doc_id keeps its envelope")
    require(v2m.metas.map(_.name) == v1m.metas.map(_.name) &&
      v2m.metas.flatMap(_.dv).map(_._2).sum == 1L,
      "DV delete of one blob must not rewrite any data file")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    require(v1.where(col("doc_id") === 3).count() == 1L,
      "version 1 must still serve the deleted blob")
    spark.read.format("graft-sink").option("path", dir).load()
      .select(col("doc_id"), col("lang"), md5(col("blob")).as("h"),
        length(col("blob")).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  /** MULTI-TABLE ATOMIC PUBLISH (VERDICT r10 next #5): a fact+dim pair
    * must advance TOGETHER — a reader observing the new fact against the
    * old dim mis-joins. `CALL gsql.system.txn_publish(tables, ids)`
    * commits N staged WAP batches with per-table CAS claims that stay
    * INVISIBLE (`#txnpending=` manifests) until ONE root marker file —
    * the transaction's single atomic commit point — exists
    * ([[graft.sources.GraftManifest.txnPublish]]). Phase 1 INJECTS a
    * failure: an interfering append moves the dim's head after staging,
    * so the dim claim throws and the already-claimed fact manifest rolls
    * back — REQUIREd: NEITHER table's visible history moved and no
    * pending claim file is left behind. Phase 2 re-stages and publishes
    * cleanly — REQUIREd: both tables advanced exactly once, op-labeled
    * TXN PUBLISH, marker durable. The oracle recomputes both tables'
    * final content from events. */
  def sqlTxnPublish(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val ft = "txf_" + sfTag(sf)
    val dt = "txd_" + sfTag(sf)
    val (fdir, ddir) = (s"$root/db/$ft", s"$root/db/$dt")
    def factSlice(m: Int): DataFrame = events(spark, sf)
      .where(col("user_id") % 2 === m)
      .groupBy(col("event_type"), (col("user_id") % 4).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .withColumn("slice", lit(m.toLong))
    def dimSlice(m: Int): DataFrame = events(spark, sf)
      .where(col("user_id") % 2 === m)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .withColumn("slice", lit(m.toLong))
    graft.util.Scratch.once(fdir) {
      val man = graft.sources.GraftManifest
      factSlice(0).write.format("graft-sink").option("path", fdir).mode("overwrite").save()
      dimSlice(0).write.format("graft-sink").option("path", ddir).mode("overwrite").save()
      def stage(df: DataFrame, dir: String, id: String): Unit =
        df.write.format("graft-sink").option("path", dir)
          .option("wapStage", id).mode("append").save()
      stage(factSlice(1), fdir, "fx1")
      stage(dimSlice(1), ddir, "dx1")
      // inject: the dim head moves past the stage's base
      dimSlice(1).limit(0).write.format("graft-sink").option("path", ddir)
        .mode("append").save()
      val failed = scala.util.Try(spark.sql(
        s"CALL gsql.system.txn_publish('db.$ft,db.$dt', 'fx1,dx1')").collect())
      require(failed.isFailure, "a stale dim stage must fail the transaction")
      require(man.versions(fdir) == Seq(1),
        s"rolled-back txn must not move the fact, got ${man.versions(fdir)}")
      require(man.versions(ddir) == Seq(1, 2),
        s"only the injected append may move the dim, got ${man.versions(ddir)}")
      require(!new java.io.File(fdir).listFiles()
          .exists(_.getName.startsWith("_manifest-v2")),
        "the fact's rolled-back pending claim must be deleted")
      // re-stage the dim against the moved head; the fact stage is intact
      spark.sql(s"CALL gsql.system.wap_abort('db.$dt', 'dx1')")
      stage(dimSlice(1), ddir, "dx2")
      val res = spark.sql(
        s"CALL gsql.system.txn_publish('db.$ft,db.$dt', 'fx1,dx2')").collect()
      require(res.length == 2 && res.map(_.getLong(2)).toSeq == Seq(2L, 3L),
        s"both tables must advance exactly once, got ${res.mkString(",")}")
      Seq(fdir -> 2, ddir -> 3).foreach { case (d, v) =>
        val m = man.readVersion(d, Some(v)).get
        require(m.op.contains("TXN PUBLISH"), s"missing op label at $d v$v: ${m.op}")
      }
      require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(root, "_txncommit-fx1-dx2")),
        "the transaction marker must survive as the durable record")
    }
    val fact = spark.read.format("graft-sink").option("path", fdir).load()
      .select(lit("fact").as("src"), col("event_type"), col("bucket"),
        col("slice"), col("n"), col("cents"))
    val dim = spark.read.format("graft-sink").option("path", ddir).load()
      .select(lit("dim").as("src"), col("event_type"),
        lit(null).cast("long").as("bucket"), col("slice"),
        col("n_users").as("n"), lit(null).cast("long").as("cents"))
    fact.unionByName(dim)
      .orderBy(col("src"), col("event_type"), col("bucket"), col("slice"))
  }

  /** FREE TEXT IN THE VERSIONED LAKEHOUSE (VERDICT r10 next #1): the
    * parquet data-file codec (graft.sources.GraftParquet — the round-11
    * default) stores arbitrary text in the versioned connector, which the
    * v1 CSV cell codec structurally could not (it refused embedded
    * commas/newlines; a documents corpus IS commas). Fixture: the
    * documents table rewritten as comma-riddled prose, committed in two
    * versions (even doc_ids, then the odd append). REQUIREd from the
    * manifest: `#format=parquet`, every data file `.parquet`, and the
    * free-text column reports a truncated BOUND envelope (`#bstats`,
    * flagged in `bounds` — round 12's text-range-pruning design: the
    * 32-char-prefix envelope contains every body, so range probes prune,
    * while the `bounds` flag keeps it out of the exact min/max
    * aggregate-pushdown answers; doc_id keeps its exact envelope,
    * unflagged).
    * Both versions stay readable: v1 time-travels to exactly the even
    * half. The oracle recomputes both phases from documents with DuckDB's
    * own md5 over the same transformed text — a content-hash roundtrip
    * proof, not a row-count smoke. */
  def sinkDocumentsVersioned(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttdocs", sf)
    def body(src: DataFrame): DataFrame = src.select(col("doc_id"), col("lang"),
      regexp_replace(col("text"), " ", ", ").as("body"))
    graft.util.Scratch.once(dir) {
      val docs = body(documents(spark, sf))
      docs.where(col("doc_id") % 2 === 0)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      docs.where(col("doc_id") % 2 === 1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.format.contains("parquet"),
      s"documents table must record #format=parquet, got ${head.format}")
    require(head.metas.nonEmpty && head.metas.forall(_.name.endsWith(".parquet")),
      s"data files must be parquet parts: ${head.metas.map(_.name)}")
    val bodyIdx = 2 // (doc_id, lang, body)
    require(head.metas.forall(m => m.bounds(bodyIdx) && m.stats.contains(bodyIdx)),
      "free-text past 64 chars must carry a truncated #bstats BOUND envelope")
    require(head.metas.forall(m => m.exactStats(bodyIdx).isEmpty),
      "exact consumers must see the bound column as stat-less")
    // the envelope must actually CONTAIN the file's bodies: lower is a
    // <=32-char prefix (<= every value), upper sorts strictly above
    head.metas.foreach { m =>
      val (lo, hi) = m.stats(bodyIdx)
      require(lo.length <= 32 && graft.sources.GraftSinkScan.cmpStats(
          org.apache.spark.sql.types.StringType, lo, hi) < 0,
        s"malformed bound envelope ($lo, $hi)")
    }
    require(head.metas.forall(m => m.stats.contains(0) && !m.bounds(0)),
      "doc_id must keep its exact min/max envelope")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    require(v1.where(col("doc_id") % 2 === 1).isEmpty,
      "version 1 must hold only the even-doc_id half")
    val headRead = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L)).unionByName(
        headRead.withColumn("version", lit(2L)))
      .select(col("version"), col("doc_id"), col("lang"),
        md5(col("body")).as("h"), length(col("body")).cast("long").as("n"))
      .orderBy(col("version"), col("doc_id"))
  }

  /** TEXT-RANGE FILE PRUNING VIA `#bstats` BOUND ENVELOPES (VERDICT r12
    * next #2 — the payoff query the truncated-bound design exists for):
    * free-text columns past the 64-char exact-stat cap carry a 32-char
    * truncated bound envelope (lower = prefix of min, upper = strict
    * successor of max's prefix — the Iceberg `truncate(w)` bound design,
    * re-derived surrogate-safe). On a TEXT-CLUSTERED layout
    * (range-distributed + sorted on the prose column) those ~64 bytes
    * per (file, column) make a string range probe plan O(answer) files:
    * `body >= 'p' AND body < 'q'` over a 100 TB corpus reads the one
    * cluster that can hold p-prefixed bodies. The key writes the SAME
    * >64-char bodies twice — clustered and round-robin interleaved — and
    * REQUIREs the interleaved control plans ALL 4 files (proving prose
    * envelopes span the domain and nothing else prunes) while the
    * clustered probe plans STRICTLY FEWER, with every file-level meta
    * bound-flagged (no exact prose stats leaked). The probe rows are
    * fully oracled; file counts ride along as pinned evidence columns. */
  /** documents with a >64-char `body` (every file meta carries a BOUND
    * envelope, never exact stats) — clustered: text-sorted 4-file range
    * layout; else round-robin interleaved. Shared by the `#bstats`
    * payoff keys. */
  private def textTable(spark: SparkSession, sf: String,
      clustered: Boolean): String = {
    val dir = tmpDir(if (clustered) "txtrange" else "txtrangectl", sf)
    graft.util.Scratch.once(dir) {
      val d = documents(spark, sf).select(col("doc_id"),
        concat(col("text"), lit(" | "), col("text")).as("body"))
      if (clustered)
        d.write.format("graft-sink").option("path", dir)
          .option("sortBy", "body").option("writePartitions", "4")
          .option("distributionStrict", "true")
          .mode("overwrite").save()
      else // round-robin: every file spans the body domain
        d.repartition(4).write.format("graft-sink").option("path", dir)
          .option("distributionMode", "none").mode("overwrite").save()
    }
    dir
  }

  def scanTextRangePrune(spark: SparkSession, sf: String): DataFrame = {
    val dir = textTable(spark, sf, clustered = true)
    val ctl = textTable(spark, sf, clustered = false)
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 range files, got $nFiles")
    val bodyIdx = 1 // (doc_id, body)
    require(head.metas.forall(m =>
        m.bounds(bodyIdx) && m.exactStats(bodyIdx).isEmpty),
      "every >64-char prose file meta must carry a BOUND envelope, never exact stats")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("body") >= "p" && col("body") < "q")
    val control = graftScanParts(probe(ctl))
    require(control == nFiles,
      s"interleaved control must plan all $nFiles files, planned $control")
    val pruned = probe(dir)
    val planned = graftScanParts(pruned)
    require(planned < nFiles,
      s"bound envelopes on the clustered layout must prune: $planned of $nFiles")
    pruned.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("n_planned_lt", lit((planned < nFiles).toString))
      .orderBy(col("doc_id"))
  }

  /** FLOATING-POINT SPECIAL-VALUE CONTRACT (round 14): Spark and DuckDB
    * agree on SQL floating-point comparison semantics — `-0.0 = 0.0`,
    * `NaN = NaN`, NaN greatest — and the connector's fact chain must not
    * break them (`Double.compare` separates zero signs; pre-fix a file
    * holding only -0.0 rows was PRUNED for `= 0.0`, a wrong answer). The
    * key writes NaN/±0.0/±Infinity through the versioned connector with
    * the -0.0 rows ISOLATED in their own partition file (the repro
    * shape) and probes equality/range/NaN — every row fully oracled. */
  def scanFpSpecial(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("fpspecial", sf)
    graft.util.Scratch.once(dir) {
      nation(spark, sf).select(col("n_nationkey"),
          when(col("n_nationkey") % 5 === 0, lit(Double.NaN))
            .when(col("n_nationkey") % 5 === 1, lit(-0.0d))
            .when(col("n_nationkey") % 5 === 2, lit(Double.PositiveInfinity))
            .when(col("n_nationkey") % 5 === 3, lit(Double.NegativeInfinity))
            .otherwise(col("n_nationkey").cast("double")).as("v"),
          when(col("n_nationkey") % 5 === 1, lit("z")).otherwise(lit("o")).as("pt"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "pt").mode("overwrite").save()
    }
    val t = spark.read.format("graft-sink").option("path", dir).load()
    def probe(tag: String, p: Column): DataFrame =
      t.where(p).select(lit(tag).as("probe"), col("n_nationkey"))
    probe("eq0", col("v") === 0.0d)          // must KEEP the -0.0 partition
      .unionByName(probe("ge0", col("v") >= 0.0d)) // -0.0, finites, +Inf, NaN
      .unionByName(probe("nan", col("v") === Double.NaN)) // NaN = NaN is TRUE
      .unionByName(probe("gtmax", col("v") > 1e308))      // +Inf and NaN
      .orderBy(col("probe"), col("n_nationkey"))
  }

  /** PREFIX-PROBE FILE PRUNING (round 14): `body LIKE 'me%'` pushes as
    * `StringStartsWith`, which the skipper answers from the SAME
    * `#bstats` envelopes as a range — every p-prefixed value sits in
    * [p, succ(p)) under cmpUtf8, with succ from the shared
    * surrogate-safe incrementer — so the url-prefix / path-prefix probe
    * every sorted 100 TB corpus runs plans O(answer) files instead of
    * scanning the table. Same evidence protocol as the range key: the
    * interleaved control (every file spans the body domain, prefix
    * inside every envelope) must plan ALL 4 files, the text-clustered
    * layout STRICTLY FEWER; probe rows fully oracled. */
  def scanTextPrefixPrune(spark: SparkSession, sf: String): DataFrame = {
    val dir = textTable(spark, sf, clustered = true)
    val ctl = textTable(spark, sf, clustered = false)
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.metas.size
    require(nFiles == 4, s"fixture: want 4 range files, got $nFiles")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("body").startsWith("me"))
    val control = graftScanParts(probe(ctl))
    require(control == nFiles,
      s"interleaved control must plan all $nFiles files, planned $control")
    val pruned = probe(dir)
    val planned = graftScanParts(pruned)
    require(planned < nFiles,
      s"prefix probe must prune the clustered layout: $planned of $nFiles")
    pruned.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .orderBy(col("doc_id"))
  }

  /** Hash-scattered string fixture (doc_id, ck = md5(doc_id)): written
    * round-robin, so every file's min/max envelope spans the hex domain
    * and NO envelope can prune a prefix probe — the layout where only
    * the prefix bloom helps. `indexed=true` writes `prefixBloomFor=ck:4`.
    * Built once per (JVM, sf). */
  private def pbloomTable(spark: SparkSession, sf: String,
      indexed: Boolean): String = {
    val dir = tmpDir(if (indexed) "pbloomy" else "pbloomn", sf)
    graft.util.Scratch.once(dir) {
      val d = documents(spark, sf)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("ck"))
        .repartition(4)
      val w = d.write.format("graft-sink").option("path", dir)
        .option("distributionMode", "none").mode("overwrite")
      (if (indexed) w.option("prefixBloomFor", "ck:4") else w).save()
    }
    dir
  }

  /** PREFIX-BLOOM FILE SKIPPING on an UNSORTED layout (round 15, VERDICT
    * r14 next #3): `#bstats`/`#stats` envelopes prune prefix probes only
    * when the layout clusters the column — on a hash-scattered 100 TB
    * string column every file spans the domain and `LIKE 'p%'` plans
    * everything. The per-file PREFIX bloom (`prefixBloomFor=ck:4`, fixed
    * 4-char prefixes hashed into the `#pbloom` manifest fact) restores
    * the skip: a file survives only if the probe's 4-prefix is in its
    * prefix set. REQUIREd: the un-indexed control plans all files, the
    * indexed layout plans strictly fewer; rows fully oracled (md5 is
    * identical on both engines; 'c4ca42' = md5('1').take(6), so doc 1
    * is the guaranteed match). */
  def scanPrefixBloom(spark: SparkSession, sf: String): DataFrame = {
    val dir = pbloomTable(spark, sf, indexed = true)
    val ctl = pbloomTable(spark, sf, indexed = false)
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 scattered files, got $nFiles")
    val ckIdx = 1 // (doc_id, ck)
    require(head.metas.forall(m => m.pblooms.get(ckIdx).exists(_._1 == 4)),
      "every file must carry the width-4 ck prefix bloom")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("ck").startsWith("c4ca42"))
    val control = graftScanParts(probe(ctl))
    require(control == nFiles,
      s"scattered control must plan all $nFiles files, planned $control")
    val planned = graftScanParts(probe(dir))
    require(planned < nFiles,
      s"prefix bloom must prune the scattered layout: $planned of $nFiles")
    probe(dir).withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .orderBy(col("doc_id"))
  }

  /** CONTAINS-PROBE FILE SKIPPING via N-GRAM BLOOMS (round 15 — the one
    * string shape with NO order to exploit): `LIKE '%s%'` plans every
    * file on any layout, sorted or not. `ngramBloomFor=ck:4` hashes
    * EVERY 4-char window of each value into a per-file `#ngbloom` set
    * (the pg_trgm idea at file granularity), and a contains probe with
    * ANY absent window provably matches no row — a value containing s
    * contains each of s's windows. Prefix/suffix/equality probes imply
    * contains and reuse the fact. Fixture: md5-shaped strings scattered
    * round-robin (envelopes span the domain, nothing else can prune).
    * REQUIREd: the un-indexed control plans all files, the indexed
    * layout plans strictly fewer for a mid-string probe; rows fully
    * oracled (md5 identical on both engines; '4238a0' sits inside
    * md5('1'), so doc 1 is the guaranteed match). */
  def scanContainsNgram(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ngbloomy", sf)
    graft.util.Scratch.once(dir) {
      documents(spark, sf)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("ck"))
        .repartition(4)
        .write.format("graft-sink").option("path", dir)
        .option("ngramBloomFor", "ck:4")
        .option("distributionMode", "none").mode("overwrite").save()
    }
    val ctl = pbloomTable(spark, sf, indexed = false) // same data, no index
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 scattered files, got $nFiles")
    val ckIdx = 1 // (doc_id, ck)
    // width 4 as configured, or 6 where auto-selection (round 16) found
    // the file's density saturating the 16^4 hex 4-gram space — the
    // 6-char probe below covers both widths
    require(head.metas.forall(m =>
      m.ngblooms.get(ckIdx).exists(f => f._1 == 4 || f._1 == 6)),
      s"every file must carry a ck n-gram bloom at width 4 or 6: " +
        s"${head.metas.map(_.ngblooms.get(ckIdx).map(_._1))}")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("ck").contains("4238a0"))
    val control = graftScanParts(probe(ctl))
    require(control == nFiles,
      s"un-indexed control must plan all $nFiles files, planned $control")
    val planned = graftScanParts(probe(dir))
    require(planned < nFiles,
      s"n-gram bloom must prune the contains probe: $planned of $nFiles")
    probe(dir).withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .orderBy(col("doc_id"))
  }

  /** INDEX-BUNDLE plan I/O (round 16b — the round-16 close's #1 ranked
    * residual made a contract key): lazy per-file sidecars keep the
    * MANIFEST O(files), but an in-alphabet contains probe still pays one
    * sidecar fetch per candidate file — O(10⁵) round trips on a big
    * table. `CALL system.compact_index` concatenates the head's
    * externalized filters into few 16 MB-capped `.idb` bundles
    * referenced as `@bundle:off:len`, and the resolver slurps each
    * bundle ONCE — the same probe pays O(bundles) plan reads. Fixture:
    * documents × 16 salted md5 strings over 4 scattered files (dense
    * enough that every file's n-gram filter externalizes at any width
    * the auto-selection lands); an identical CONTROL table keeps its
    * per-file sidecars. REQUIREd: after compaction every ref is RANGED
    * into ONE shared bundle; a cold contains probe fetches one sidecar
    * PER FILE on the control but exactly ONE bundle on the compacted
    * table; rows fully oracled ('5187d1' sits inside md5('1-0'), so
    * (doc 1, k 0) is the guaranteed match). */
  def scanIdxBundle(spark: SparkSession, sf: String): DataFrame = {
    def shaped(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
          explode(sequence(lit(0L), lit(15L))).as("k"))
        .withColumn("ck", md5(concat(col("doc_id").cast("string"),
          lit("-"), col("k").cast("string"))))
    def writeTo(dir: String): Unit =
      shaped(documents(spark, sf)).repartition(4)
        .write.format("graft-sink").option("path", dir)
        .option("ngramBloomFor", "ck:4")
        .option("distributionMode", "none").mode("overwrite").save()
    val dir = tmpDir("idxbundle", sf)
    graft.util.Scratch.once(dir) {
      writeTo(dir)
      val (pays, bundles, _) = graft.sources.GraftMaintenance.compactIndexes(dir)
      require(pays == 4 && bundles == 1,
        s"fixture: want 4 externalized payloads in one bundle, got ($pays, $bundles)")
    }
    val ctl = tmpDir("idxbundlec", sf)
    graft.util.Scratch.once(ctl)(writeTo(ctl))
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 scattered files, got $nFiles")
    val ckIdx = 2 // (doc_id, k, ck)
    val bundleNames = head.metas.map { m =>
      val (_, pay) = m.ngblooms(ckIdx)
      require(graft.sources.GraftBloomSidecars.isRef(pay) &&
        graft.sources.GraftBloomSidecars.splitRef(pay.drop(1))._2.isDefined,
        s"every fact must be a RANGED bundle ref, got ${pay.take(40)}")
      graft.sources.GraftBloomSidecars.refName(pay).get
    }
    require(bundleNames.distinct.size == 1 && bundleNames.head.endsWith(".idb"),
      s"all 4 refs must share one bundle: $bundleNames")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("ck").contains("5187d1"))
    // COLD plan I/O: the control pays one sidecar read per file, the
    // bundled table exactly one bundle read for the same probe.
    // TOLERANT bounds (ADVICE r16): `loads` is a process-global LongAdder,
    // so any CONCURRENT sidecar resolution in the same JVM (parallel test
    // suites, a second session) adds to the delta — interference can only
    // ADD reads, so the control asserts >= its own nFiles and the bundled
    // probe asserts a small ceiling instead of an exact ==. The ORACLED
    // columns pin the contract constants the requires establish (D3:
    // engine observables leave the plan as sanctioned constants, not raw
    // counter reads a neighbor can perturb).
    graft.sources.GraftBloomSidecars.dropCache()
    val l0 = graft.sources.GraftBloomSidecars.loads.sum()
    probe(ctl).collect()
    val ctlLoads = graft.sources.GraftBloomSidecars.loads.sum() - l0
    require(ctlLoads >= nFiles.toLong,
      s"per-file sidecars must cost one read per candidate file: $ctlLoads")
    val rows = probe(dir)
    graft.sources.GraftBloomSidecars.dropCache()
    val l1 = graft.sources.GraftBloomSidecars.loads.sum()
    rows.collect()
    val bundledLoads = graft.sources.GraftBloomSidecars.loads.sum() - l1
    // ADVICE r18: the published constant is bundle_loads=1 (the fixture
    // PROVED bundles==1 above), so the require must hold the measurement
    // near that constant — `< nFiles` would let a 2-3-read regression
    // pass while the oracle still records 1. Ceiling 2 tolerates at most
    // one LongAdder interference read from a concurrent resolution in
    // the same JVM; any divergence from the constant is logged so a
    // passing-but-noisy run leaves evidence.
    require(bundledLoads >= 1L && bundledLoads <= 2L,
      s"the bundled probe must pay O(bundles)=1 reads, not O(files): $bundledLoads")
    if (bundledLoads != 1L)
      System.err.println(s"[graft] scan_idx_bundle: measured bundled loads " +
        s"$bundledLoads diverge from the published constant 1 " +
        "(in-process interference tolerated once)")
    // ---- AUTO-TRIGGER phase (round 18, VERDICT r17 next #8): the SAME
    // contract established END-TO-END with no hand-issued CALL — a
    // fresh-ingest table whose `compactIndex.autoProbeLoads` property
    // puts the 4-per-file cold probe over threshold must land ONE
    // synchronous COMPACT-INDEX sweep from its FIRST big probe, so its
    // SECOND cold probe pays O(bundles); a third probe must not
    // re-trigger. This pins the whole read-path chain (per-file fetch
    // counting -> threshold resolution through the r18 TTL memo ->
    // pendingSidecars -> sweep -> ranged refs) as one oracled key.
    val root = graft.util.Scratch.dir("sqlcat_root", "all")
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    val atbl = "idxauto_" + sf.replaceAll("[^A-Za-z0-9]", "_")
    val adir = s"$root/db/$atbl"
    graft.util.Scratch.once(adir) {
      writeTo(adir)
      spark.sql(s"ALTER TABLE gsql.db.$atbl SET TBLPROPERTIES " +
        "('compactIndex.autoProbeLoads'='4')")
    }
    val prevAuto = graft.sources.GraftMaintenance.autoProbeEnabled
    graft.sources.GraftMaintenance.autoProbeEnabled = true
    val autoLoads = try {
      val vsBefore = graft.sources.GraftManifest.versions(adir).size
      graft.sources.GraftBloomSidecars.dropCache()
      val firstRows = probe(adir).collect().map(r => (r.getLong(0), r.getLong(1)))
      val vs = graft.sources.GraftManifest.versions(adir)
      require(vs.size == vsBefore + 1 ||
          (vsBefore > 2 && vs.size == vsBefore), // already swept in this JVM
        s"the first over-threshold cold probe must land exactly one " +
          s"sweep commit: $vsBefore -> ${vs.size}")
      require(graft.sources.GraftManifest.headerFacts(adir, vs.max).op
        .contains("COMPACT-INDEX"), "the landed version must be the sweep's")
      // SECOND cold probe: O(bundles), identical rows
      graft.sources.GraftBloomSidecars.dropCache()
      val a0 = graft.sources.GraftBloomSidecars.loads.sum()
      val secondRows = probe(adir).collect().map(r => (r.getLong(0), r.getLong(1)))
      require(secondRows.sorted.sameElements(firstRows.sorted),
        "the auto-bundled probe must answer identically")
      val d = graft.sources.GraftBloomSidecars.loads.sum() - a0
      require(graft.sources.GraftManifest.versions(adir).size == vs.size,
        "the sweep must not re-trigger once everything is bundled")
      d
    } finally graft.sources.GraftMaintenance.autoProbeEnabled = prevAuto
    require(autoLoads >= 1L && autoLoads <= 2L,
      s"the auto-compacted table's second cold probe must pay " +
        s"O(bundles)=1 reads, not O(files): $autoLoads")
    rows.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("ctl_loads", lit(nFiles.toLong))
      .withColumn("bundle_loads", lit(1L))
      .withColumn("auto_loads", lit(1L))
      .orderBy(col("doc_id"), col("k"))
  }

  /** GEO-SPATIAL FILE SKIPPING (`scan_geo_zorder`, round 16b — the geo
    * family's storage rung): a point table laid out by the MORTON code
    * of its 1°-grid cells (bit-interleaved glat/glon — the geohash idea
    * as a sort key) keeps BOTH coordinates' per-file envelopes narrow,
    * so a bbox probe prunes at plan time on either dimension; a
    * lat-sorted control proves the single-key layout cannot prune the
    * longitude side. Coordinates are the Geo family's derived integer
    * microdegrees; the grid/interleave math is all-integer (exact on
    * any engine). REQUIREd: a lon-window probe plans < all files on the
    * Morton layout but ALL files on the lat-sorted control; a
    * lat-window probe prunes on the Morton layout too; the bbox rows
    * are fully oracled. */
  def scanGeoZorder(spark: SparkSession, sf: String): DataFrame = {
    def pts(d: DataFrame): DataFrame = d.select(col("c_custkey"),
      expr("((c_custkey % 1000003) * 2654435761) % 17000000 - 8500000").as("lat"),
      expr("((c_custkey % 999983) * 2654435761) % 36000000 - 18000000").as("lon"))
    val zdir = tmpDir("geoz", sf)
    graft.util.Scratch.once(zdir) {
      val cells = pts(customer(spark, sf))
        .withColumn("glat", expr("(lat + 90000000) div 1000000"))
        .withColumn("glon", expr("(lon + 180000000) div 1000000"))
      val z = (0 until 9).map(i =>
        shiftleft(shiftright(col("glat"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
          shiftleft(shiftright(col("glon"), i).bitwiseAND(lit(1L)), 2 * i))
        .reduce(_ + _)
      cells.withColumn("zval", z.cast("long"))
        .repartitionByRange(8, col("zval")).sortWithinPartitions("zval")
        .select(col("c_custkey"), col("lat"), col("lon"))
        .write.format("graft-sink").option("path", zdir)
        .option("distributionMode", "none").mode("overwrite").save()
    }
    val ldir = tmpDir("geozctl", sf)
    graft.util.Scratch.once(ldir) {
      pts(customer(spark, sf))
        .write.format("graft-sink").option("path", ldir)
        .option("sortBy", "lat").option("writePartitions", "8")
        .option("distributionStrict", "true").mode("overwrite").save()
    }
    val nZ = graft.sources.GraftManifest.readVersion(zdir, None).get.metas.size
    val nL = graft.sources.GraftManifest.readVersion(ldir, None).get.metas.size
    require(nZ == 8 && nL == 8, s"fixture: want 8 files each, got z=$nZ ctl=$nL")
    def t(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
    val lonWin = col("lon").between(0L, 6000000L)
    val latWin = col("lat").between(0L, 4000000L)
    val zLon = graftScanParts(t(zdir).where(lonWin))
    val zLat = graftScanParts(t(zdir).where(latWin))
    val cLon = graftScanParts(t(ldir).where(lonWin))
    require(cLon == nL,
      s"lat-sorted control must plan all $nL files for a lon window, planned $cLon")
    require(zLon < nZ,
      s"the Morton layout must prune the lon window: $zLon of $nZ")
    require(zLat < nZ,
      s"the Morton layout must prune the lat window too: $zLat of $nZ")
    t(zdir).where(latWin && lonWin)
      .withColumn("n_files", lit(nZ.toLong))
      .withColumn("pruned", lit((zLon < nZ && zLat < nZ).toString))
      .orderBy(col("c_custkey"))
  }

  /** SUFFIX-PROBE FILE SKIPPING on a REVERSED-column layout (round 15,
    * VERDICT r14 next #6 — residual #2 made actionable): `LIKE '%.jpg'`
    * has no order to exploit on a plain layout, so every file plans. The
    * table-design answer is `sortBy=reverse(path)`: the table clusters
    * on the CHAR-REVERSED string (pre-shaped write or OPTIMIZE — like
    * zorder, the spec requests no V2 distribution), and the writer
    * records a `#rvstats` bound envelope over the reversed cells, which
    * turns a suffix probe into a prefix window on the reversed order
    * (`v endsWith s` ⟺ `rev(v) startsWith rev(s)`). Fixture: documents
    * as `lang/doc-<id><ext>` paths, ext cycling .jpg/.txt/.pdf, reversed-
    * range-clustered 4 ways. REQUIREd: the spec is declared, every file
    * carries `#rvstats`, the un-indexed control plans all 4 files and
    * the reversed layout plans strictly fewer for `LIKE '%.jpg'`; rows
    * fully oracled. */
  def scanSuffixPrune(spark: SparkSession, sf: String): DataFrame = {
    val ext = element_at(
      array(lit(".jpg"), lit(".txt"), lit(".pdf")),
      (col("doc_id") % 3 + 1).cast("int"))
    def paths(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
        concat(col("lang"), lit("/doc-"), col("doc_id"), ext).as("path"))
    val dir = tmpDir("ttsufy", sf)
    graft.util.Scratch.once(dir) {
      paths(documents(spark, sf))
        .repartitionByRange(4, reverse(col("path")))
        .sortWithinPartitions(reverse(col("path")))
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "reverse(path)").mode("overwrite").save()
    }
    val ctl = tmpDir("ttsufn", sf)
    graft.util.Scratch.once(ctl) {
      paths(documents(spark, sf)).repartition(4)
        .write.format("graft-sink").option("path", ctl)
        .option("distributionMode", "none").mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 reversed-range files, got $nFiles")
    require(head.sortSpec.contains("reverse(path)"),
      s"the reversed layout must be declared: ${head.sortSpec}")
    require(head.metas.forall(_.rvstats.contains(1)),
      s"every file must carry its #rvstats envelope: ${head.metas.map(_.rvstats)}")
    def probe(d: String): DataFrame =
      spark.read.format("graft-sink").option("path", d).load()
        .where(col("path").endsWith(".jpg"))
    val control = graftScanParts(probe(ctl))
    require(control == nFiles,
      s"plain control must plan all $nFiles files, planned $control")
    val planned = graftScanParts(probe(dir))
    require(planned < nFiles,
      s"suffix probe must prune the reversed layout: $planned of $nFiles")
    probe(dir).withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .orderBy(col("doc_id"))
  }

  /** COMPOUND SORT LAYOUT (`sortBy=lang,doc_id`, round 13): the write
    * range-distributes on the KEY PAIR — files tile the compound key, so
    * the leading-key envelopes stay disjoint (touching only at boundary
    * values a big lang spans across files) AND a file holding one lang's
    * middle segment carries a NARROW doc_id envelope, which a compound
    * probe exploits: `lang = 'en' AND doc_id <= K` prunes pure-en files
    * whose doc_id range sits above K — a skip the single-column lang
    * sort cannot make. REQUIREd: the manifest records the compound
    * `#sortspec`; a leading-key point probe plans a strict subset; the
    * compound probe plans no more than the leading-key probe. Probe rows
    * fully oracled. */
  def sinkSortedMulti(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("sortmulti", sf)
    graft.util.Scratch.once(dir) {
      documents(spark, sf).select(col("lang"), col("doc_id"), col("n_chars"))
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "lang,doc_id").option("writePartitions", "4")
        .option("distributionStrict", "true").mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.sortSpec.contains("lang,doc_id"),
      s"compound sort must be declared: ${head.sortSpec}")
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 range files, got $nFiles")
    def t(): DataFrame = spark.read.format("graft-sink").option("path", dir).load()
    val de = graftScanParts(t().where(col("lang") === "de"))
    require(de < nFiles,
      s"leading-key probe must prune: planned $de of $nFiles")
    val en = graftScanParts(t().where(col("lang") === "en"))
    val compound = t().where(col("lang") === "en" && col("doc_id") <= 100L)
    val enNarrow = graftScanParts(compound)
    require(enNarrow <= en && en < nFiles,
      s"compound probe must not plan more than the leading probe: $enNarrow vs $en of $nFiles")
    compound.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((de < nFiles && enNarrow <= en).toString))
      .orderBy(col("doc_id"))
  }

  /** MIN/MAX OVER A BOUND PROSE COLUMN (the r12 wrong-answer path, now a
    * driver-surface contract): the manifest's `#bstats` envelope for the
    * body column is a truncated bound — values that are NOT in the table —
    * so the aggregate pushdown must BAIL to a real scan for min/max while
    * unfiltered count(*) still answers from the manifest's live counts.
    * Both plan shapes are REQUIREd; the returned extremes are the true
    * full-length bodies, oracled byte-exactly against DuckDB. */
  def scanTextMinmax(spark: SparkSession, sf: String): DataFrame = {
    val dir = textTable(spark, sf, clustered = true)
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val agg = t.agg(min(col("body")).as("lo"), max(col("body")).as("hi"),
      count(lit(1)).as("n"))
    require(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "min/max over a bound prose column must bail to a real scan")
    val cnt = t.agg(count(lit(1)).as("n"))
    require(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "unfiltered count(*) must still answer from the manifest")
    agg
  }

  /** TopN PUSHDOWN ON PROSE ([[graft.sources.GraftSinkScanBuilder
    * .pushTopN]] composed with `#bstats` bound envelopes): `ORDER BY
    * body LIMIT 100` on the text-clustered corpus takes files in
    * lower-bound order until 100 live rows are covered and proves every
    * top-100 body sorts under the taken envelopes' upper bound — a
    * BOUND upper is strict (> every value), so the proof holds exactly
    * as with exact stats, just one notch wider. The head-of-corpus
    * probe ("first alphabetical documents of a billion") reads ONE of
    * the 4 files, REQUIREd; rows are exact (doc_id tiebreak) and fully
    * oracled. */
  def scanTopnText(spark: SparkSession, sf: String): DataFrame = {
    val dir = textTable(spark, sf, clustered = true)
    val nFiles = graft.sources.GraftManifest.readVersion(dir, None).get.metas.size
    require(nFiles == 4, s"fixture: want 4 text-range files, got $nFiles")
    val top = spark.read.format("graft-sink").option("path", dir).load()
      .orderBy(col("body"), col("doc_id")).limit(100)
    val cp = top.localCheckpoint()
    val planned = graftScanParts(top)
    require(planned < nFiles,
      s"pushed TopN(100) on a bound prose column must prune: planned $planned of $nFiles")
    cp.withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .orderBy(col("body"), col("doc_id"))
  }

  /** ROW-GROUP FILTER PUSHDOWN (round 11): inside the data files the
    * manifest's file-level stats keep, the graft parquet reader hands the
    * scan's pushed filters to parquet-mr (statistics + dictionary
    * row-group pruning, record-level pre-filter) — the within-file
    * skipping granularity a 1 GB production part needs. Fixture: lineitem
    * range-clustered on l_orderkey into 4 files with deliberately tiny
    * (64 KB) row groups, so a narrow key-range probe must materialize a
    * few hundred records, not a file's worth. The in-closure REQUIRE pins
    * exactly that via [[graft.sources.GraftReadStats]]; the returned rows
    * oracle the probe's correctness against DuckDB on the raw fixture. */
  def sinkRowgroupSkip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("rgskip", sf)
    graft.util.Scratch.once(dir) {
      lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.format("graft-sink").option("path", dir)
        .option("rowGroupBytes", "65536").mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val total = head.metas.map(_.rows).sum
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val lo = t.agg(min(col("l_orderkey"))).head.getLong(0) + 32
    val probe = t.where(col("l_orderkey") <= lit(lo))
    val before = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val hits = probe.count()
    val decoded = graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - before
    // the probe's answer set is ~tens of rows; pushdown must keep the
    // decode bill SUB-FILE. Granularity note (round 12): the vectorized
    // batch reader prunes at row-group/page granularity but does not
    // record-filter (Spark re-applies filters residually), so the floor
    // is the touched groups' row count — at sf0.001 a whole file is ONE
    // 64 KB group and the bill is that file; at production group counts
    // it collapses to the answer set's groups, which the sf0.01 gate
    // (8+ groups per file) exercises for real.
    require(decoded <= hits.max(1L) * 8 + 8192 && decoded < total / 2,
      s"row-group pushdown must bound decode: $decoded records materialized " +
        s"for $hits hits of $total")
    probe.orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** EMBEDDINGS AS A VERSIONED TABLE COLUMN (VERDICT r10 next #2): the
    * connector's widened type surface — `array<float>` cells in parquet
    * parts — lets the LLM-pipeline's vectors live in the SAME versioned,
    * time-traveling, DV-bearing tables as everything else instead of
    * parquet scratch. The fixture embeddings land range-clustered on
    * vec_id (sortBy → disjoint per-file envelopes), one vector is deleted
    * MERGE-ON-READ (REQUIREd: no data file rewritten, exactly one
    * position vectored — the array bytes are never copied to delete a
    * row), a point probe on vec_id REQUIREs the disjoint envelopes prune
    * the file plan, and version 1 still serves the deleted vector (time
    * travel over array data). The oracle replays the surviving vectors
    * ELEMENT BY ELEMENT (DuckDB fixed-dim unnest) — a bit-exact roundtrip
    * proof of every float through write, commit, DV and projected read. */
  def sinkVectorColumn(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "vecs_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      graft.util.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"), col("label"))
        .repartition(8) // adversarial input layout; the write re-ranges it
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "vec_id").option("writePartitions", "4")
        .option("distributionStrict", "true")
        .mode("overwrite").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE vec_id = 123")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    require(v1m.format.contains("parquet") &&
      v1m.metas.forall(_.name.endsWith(".parquet")),
      "embeddings must land as parquet parts")
    require(v2m.metas.map(_.name) == v1m.metas.map(_.name),
      "DV delete of one vector must not rewrite any data file")
    require(v2m.metas.flatMap(_.dv).map(_._2).sum == 1L,
      "exactly one position must be vectored")
    // the array column is NON-STATABLE: no min/max envelope (nothing to
    // range-prune prose or vectors by), while vec_id keeps disjoint ones
    require(v1m.metas.forall(m => !m.stats.contains(1) && m.stats.contains(0)),
      "array column must carry no stats; vec_id must keep its envelope")
    val probe = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("vec_id") === 7)
    require(graftScanParts(probe) == 1,
      s"disjoint vec_id envelopes must prune the point probe to 1 file")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    require(v1.where(col("vec_id") === 123).count() == 1L,
      "version 1 must still serve the deleted vector")
    val headRead = spark.read.format("graft-sink").option("path", dir).load()
    require(headRead.where(org.apache.spark.sql.functions.size(col("embedding"))
        =!= 64).isEmpty, "fixture vectors are 64-dim")
    headRead
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("val"))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** METADATA-ONLY SQL DELETE (VERDICT r8 next #1's fast path): the
    * predicate aligns with the partition layout, so every file is
    * decidable from the manifest alone — provably all-match (the exact
    * partition value, with known-zero null counts) or provably no-match —
    * and Spark's OptimizeMetadataOnlyDeleteFromTable rewrites the
    * row-level plan to the connector's SupportsDelete: the commit drops
    * whole files from the next manifest WITHOUT reading or writing a
    * single data byte. REQUIREd: the EXPLAIN plans the metadata delete
    * (no WriteDelta / ReplaceData), v2's files are exactly v1's minus the
    * matched partition, nothing new was written, and no deletion vector
    * exists. The oracle recomputes both phases. */
  def sinkDeleteMetadataOnly(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "mdel_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).repartition(col("bucket"))
        .write.format("graft-sink").option("path", dir)
        .option("partitionBy", "bucket").mode("overwrite").save()
      val plan = spark.sql(s"EXPLAIN DELETE FROM gsql.db.$tbl WHERE bucket = 2")
        .collect().head.getString(0)
      require(!plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
        s"partition-aligned DELETE must plan metadata-only, got:\n$plan")
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE bucket = 2")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    val v1names = v1m.metas.map(_.name).toSet
    require(v2m.metas.forall(m => v1names(m.name)) && v2m.metas.forall(_.dv.isEmpty),
      "metadata-only DELETE must neither write files nor vector rows")
    require(v2m.metas.map(_.name).toSet ==
      v1m.metas.filter(_.partition.exists(_._2 != "2")).map(_.name).toSet,
      "metadata-only DELETE must drop exactly the matched partition's files")
    val v1 = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", "1").load()
    val head = spark.read.format("graft-sink").option("path", dir).load()
    v1.withColumn("version", lit(1L))
      .unionByName(head.withColumn("version", lit(2L)))
      .select(col("version"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("version"), col("event_type"), col("bucket"))
  }

  /** NULL-COUNT file skipping (VERDICT r8 next #5): the writer records
    * per-column null counts in the manifest (`#nulls`), so `IS NULL`
    * prunes files with a KNOWN-zero count and `IS NOT NULL` prunes files
    * that are known all-null — the missing half of the skipping envelope
    * (min/max cover only non-null values). Fixture: three one-file
    * commits — null-free, mixed, all-null in `maybe` — and each probe
    * REQUIREs it planned exactly 2 of the 3 files. */
  def sinkNullStatsSkip(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("nullskip", sf)
    graft.util.Scratch.once(dir) {
      val base = bucketAgg(events(spark, sf))
      base.withColumn("maybe", col("sum_cents")).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      base.withColumn("maybe",
          when(col("bucket") === 2, lit(null).cast("long")).otherwise(col("sum_cents")))
        .coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
      base.withColumn("maybe", lit(null).cast("long")).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.files.size == 3, s"fixture: want 3 files, got ${head.files.size}")
    val isNull = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("maybe").isNull)
    val p1 = isNull.rdd.getNumPartitions
    require(p1 == 2, s"IS NULL must plan 2 of 3 files (null-free file pruned), planned $p1")
    val notNull = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("maybe").isNotNull)
    val p2 = notNull.rdd.getNumPartitions
    require(p2 == 2, s"IS NOT NULL must plan 2 of 3 files (all-null file pruned), planned $p2")
    isNull.withColumn("probe", lit("is_null"))
      .unionByName(notNull.withColumn("probe", lit("not_null")))
      .select(col("probe"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"), col("maybe"))
      .withColumn("n_planned", lit((p1 + p2).toLong))
      .orderBy(col("probe"), col("event_type"), col("bucket"), col("maybe"))
  }

  /** `CALL gsql.system.optimize(..., zorder_by)` — OPTIMIZE ZORDER as
    * table maintenance (VERDICT r8 next #6): version 1 lands the
    * (cmod, omod) projection round-robin (every file spans the full cmod
    * range); the procedure rewrites the head range-partitioned and sorted
    * on the interleaved curve under the usual conditioned commit, and the
    * REQUIRE reads the manifest's per-file min/max to assert the average
    * per-file cmod span at least ~halved — rows near on the curve are
    * near in every named dimension, so the SAME stats the skipping path
    * uses prove the locality. Output is a content aggregate over the
    * rewritten head (the rewrite must be lossless); the oracle recomputes
    * it from orders. */
  def sinkZorderOptimize(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "zopt_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"),
          pmod(col("o_custkey"), lit(256L)).as("cmod"),
          pmod(col("o_orderkey"), lit(256L)).as("omod"))
        .repartition(4)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 4, 'cmod,omod')")
    }
    val v1m = graft.sources.GraftManifest.readVersion(dir, Some(1)).get
    val v2m = graft.sources.GraftManifest.readVersion(dir, Some(2)).get
    // locality metric = avg per-file JOINT span (cmod idx 2 + omod idx 3):
    // the curve tightens the dimensions TOGETHER — a range cut mid-octant
    // can leave one dimension wide in one file, but never both
    def spread(m: graft.sources.GraftManifest): Double = {
      val spans = m.metas.map(meta => Seq(2, 3).flatMap(meta.stats.get)
        .map { case (mn, mx) => mx.toLong - mn.toLong }.sum)
      spans.sum.toDouble / spans.size
    }
    val (before, after) = (spread(v1m), spread(v2m))
    require(after <= before * 0.7,
      f"ZORDER must tighten per-file (cmod+omod) spans: before=$before%.1f after=$after%.1f")
    // the layout->skipping loop, end to end: a 2-D octant predicate over
    // the z-ordered head prunes files straight from the same min/max
    // stats the rewrite just tightened (the round-robin v1 layout could
    // prune nothing - every file spanned both full ranges)
    val planned = spark.read.format("graft-sink").option("path", dir).load()
      .where(col("cmod") < 64 && col("omod") < 64)
      .rdd.getNumPartitions
    require(planned < v2m.metas.size,
      s"z-ordered stats must prune the octant probe: planned $planned of ${v2m.metas.size}")
    spark.read.format("graft-sink").option("path", dir).load()
      .groupBy((col("cmod") / 64).cast("long").as("cband"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"),
        min(col("omod")).as("min_o"), max(col("omod")).as("max_o"))
      .orderBy(col("cband"))
  }

  /** `CALL gsql.system.history(table)` — the commit AUDIT every table
    * format ships as DESCRIBE HISTORY: one row per committed version with
    * the operation that produced it (the `#op=` label each commit path now
    * records in its manifest), the snapshot file count, and the live row
    * total. The fixture drives one commit through each lifecycle verb —
    * overwrite, append, merge-on-read SQL DELETE, OPTIMIZE — and the key
    * emits the deterministic audit columns (the wall clock stays internal;
    * REQUIREd strictly increasing instead). The oracle recomputes every
    * version's row totals from events: the audit must agree with the data.
    * Cost is O(versions) driver-side manifest reads — bounded by the
    * OPTIMIZE/VACUUM lifecycle, never by table size. */
  def metaTableHistory(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "hist_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      bucketAgg(events(spark, sf).where(col("user_id") % 4 < 2)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("append").save()
      spark.sql(s"DELETE FROM gsql.db.$tbl WHERE bucket = 3")
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 1)")
    }
    val hist = spark.sql(s"CALL gsql.system.history('db.$tbl')")
    val clocks = hist.select(col("version"), col("ts_millis"))
      .orderBy(col("version")).collect().map(_.getLong(1)) // 4 rows: audit metadata
    require(clocks.length == 4 && clocks.sameElements(clocks.sorted.distinct),
      "history must carry strictly increasing commit clocks")
    hist.select(col("version"), col("operation"), col("n_files"), col("total_rows"))
      .orderBy(col("version"))
  }

  /** `CREATE TABLE ... AS SELECT` through the catalog — the ATOMIC V2
    * CTAS path ([[graft.sources.GraftCatalog]] is a StagingTableCatalog):
    * the data write claims version 1 directly, so the whole statement is
    * ONE commit — no reader ever observes an empty created table, and a
    * racing CREATE loses the link(2) CAS instead of interleaving.
    * REQUIREd: exactly one version, labeled CREATE TABLE AS SELECT. The
    * oracle recomputes the aggregate from events. */
  def sqlCtas(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "ctas_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      val srcView = s"ctas_src_${sfTag(sf)}"
      bucketAgg(events(spark, sf)).createOrReplaceTempView(srcView)
      spark.sql(s"CREATE TABLE gsql.db.$tbl AS SELECT * FROM $srcView")
    }
    val m = graft.sources.GraftManifest
    require(m.versions(dir) == Seq(1),
      s"atomic CTAS must be exactly one commit, got ${m.versions(dir)}")
    require(m.readVersion(dir, Some(1)).get.op.contains("CREATE TABLE AS SELECT"),
      "the CTAS version must carry its operation label")
    spark.sql(s"SELECT event_type, bucket, n, sum_cents FROM gsql.db.$tbl")
      .orderBy(col("event_type"), col("bucket"))
  }

  /** `CREATE OR REPLACE TABLE ... AS SELECT` — the operation a
    * non-staging catalog can only fake with drop + create, which on a
    * versioned table DESTROYS history. Staged, the replacement is one
    * OVERWRITE commit conditioned on the head the replace planned
    * against: REQUIREd — v2 is a REPLACE TABLE commit, and v1 (the
    * pre-replace content) STAYS time-travel-readable, which phase 1 of
    * the output proves by reading it. The oracle recomputes both
    * phases from events. */
  def sqlReplaceTable(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "rpl_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      val srcView = s"rpl_src_${sfTag(sf)}"
      bucketAgg(events(spark, sf)).createOrReplaceTempView(srcView)
      spark.sql(s"CREATE TABLE gsql.db.$tbl AS SELECT * FROM $srcView")
      spark.sql(
        s"CREATE OR REPLACE TABLE gsql.db.$tbl AS " +
          s"SELECT * FROM $srcView WHERE bucket >= 2")
    }
    val m = graft.sources.GraftManifest
    require(m.versions(dir) == Seq(1, 2),
      s"staged replace must land as version 2, got ${m.versions(dir)}")
    require(m.readVersion(dir, Some(2)).get.op.contains("REPLACE TABLE"),
      "the replace version must carry its operation label")
    def at(v: Int): DataFrame = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", v.toString).load()
    at(1).withColumn("phase", lit(1L))
      .unionByName(at(2).withColumn("phase", lit(2L)))
      .select(col("phase"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .orderBy(col("phase"), col("event_type"), col("bucket"))
  }

  /** SQL `INSERT OVERWRITE` + `TRUNCATE TABLE` on a catalog graft table —
    * the remaining standard-SQL write verbs: INSERT OVERWRITE plans
    * through [[org.apache.spark.sql.connector.write.SupportsTruncate]]
    * (truncate + append in ONE versioned commit), TRUNCATE TABLE through
    * [[org.apache.spark.sql.connector.catalog.TruncatableTable]] as a
    * METADATA-ONLY commit naming no files (REQUIREd: zero data files and
    * zero vectors at v3 — nothing was read or written to empty the
    * table). Every prior version stays readable — phase 1/2 pin v1/v2,
    * phase 3 proves the head is empty with a count row. */
  def sqlInsertOverwrite(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "iow_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      bucketAgg(events(spark, sf)).coalesce(1)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      val srcView = s"iow_src_${sfTag(sf)}"
      bucketAgg(events(spark, sf)).where(col("bucket") < 2)
        .createOrReplaceTempView(srcView)
      spark.sql(s"INSERT OVERWRITE gsql.db.$tbl SELECT * FROM $srcView")
      spark.sql(s"TRUNCATE TABLE gsql.db.$tbl")
    }
    val m = graft.sources.GraftManifest
    require(m.versions(dir) == Seq(1, 2, 3),
      s"overwrite + truncate must land as v2/v3, got ${m.versions(dir)}")
    val v3m = m.readVersion(dir, Some(3)).get
    require(v3m.metas.isEmpty && v3m.total == 0L && v3m.op.contains("TRUNCATE"),
      "TRUNCATE must commit an empty metadata-only snapshot")
    def at(v: Int): DataFrame = spark.read.format("graft-sink")
      .option("path", dir).option("versionAsOf", v.toString).load()
    at(1).withColumn("phase", lit(1L))
      .unionByName(at(2).withColumn("phase", lit(2L)))
      .select(col("phase"), col("event_type"), col("bucket"),
        col("n"), col("sum_cents"))
      .unionByName(at(3).agg(count(lit(1)).as("n"))
        .select(lit(3L).as("phase"), lit("_truncated").as("event_type"),
          lit(-1L).as("bucket"), col("n"), lit(0L).as("sum_cents")))
      .orderBy(col("phase"), col("event_type"), col("bucket"))
  }

  /** INCREMENTAL (bin-packing) OPTIMIZE — the maintenance mode a 100 TB
    * table actually runs: `CALL gsql.system.optimize(t, 1, '', 8192)`
    * folds only the files SMALLER than the threshold (the streaming-
    * ingest long tail: four tiny appends here) into one fresh file and
    * keeps every well-sized file's manifest entry byte-identical — the
    * big file is REQUIREd to survive with its exact meta (name, stats,
    * null counts), so the compaction cost is O(small files), zero bytes
    * of the bulk rewritten. The procedure reads only its victims via the
    * scan's `files` subset option and publishes kept ∪ compacted as one
    * conditioned full snapshot (files_before=5 → files_after=2,
    * REQUIREd from the CALL result). The oracle recomputes the content —
    * a layout rewrite must never change a row. */
  def sinkOptimizeBinpack(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "bp_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      val big = events(spark, sf).select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      big.coalesce(1).write.format("graft-sink").option("path", dir)
        .mode("overwrite").save()
      (0 until 4).foreach { k =>
        big.where(col("event_id") % 500 === k).coalesce(1)
          .write.format("graft-sink").option("path", dir).mode("append").save()
      }
      // size threshold relative to the ACTUAL big file (codec-agnostic:
      // parquet+zstd compresses the whole-table file under any absolute
      // byte constant that still exceeds the four slivers): `< bigBytes`
      // keeps the big file and folds everything smaller
      val bigBytes = java.nio.file.Files.size(java.nio.file.Paths.get(dir,
        graft.sources.GraftManifest.readVersion(dir, Some(1)).get.metas.head.name))
      val res = spark.sql(
        s"CALL gsql.system.optimize('db.$tbl', 1, '', $bigBytes)").collect().head
      require(res.getInt(0) == 5 && res.getInt(1) == 2,
        s"binpack must fold 4 small files into 1 and keep the big one, got $res")
    }
    val before = graft.sources.GraftManifest.readVersion(dir, Some(5)).get
    val after = graft.sources.GraftManifest.readVersion(dir, Some(6)).get
    require(after.op.contains("OPTIMIZE") && after.metas.size == 2,
      s"binpack head must be a 2-file OPTIMIZE commit, got ${after.op}/${after.metas.size}")
    require(after.metas.contains(before.metas.head),
      "the well-sized file's manifest entry must survive byte-identical")
    require(before.metas.tail.map(_.name).toSet
        .intersect(after.metas.map(_.name).toSet).isEmpty,
      "every small file must be folded away")
    require(after.total == before.total, "compaction must preserve the live total")
    spark.read.format("graft-sink").option("path", dir).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type"))
  }

  /** NAMED TAGS + retention interplay: `CALL gsql.system.tag` names a
    * committed version, `VERSION AS OF 'name'` reads it, and VACUUM
    * RETAINS tagged versions past the count window — the promise a tag
    * makes. Fixture: v1 tagged 'baseline', v2 untagged, v3 head; vacuum
    * retain-1 REQUIREs exactly {1, 3} survive (v2 reclaimed, the tagged
    * v1 kept with its data files). Phase 1 reads the tag from SQL,
    * phase 2 the head; the oracle recomputes both from events. */
  /** Shared tag fixture: v1 tagged 'baseline', v2 untagged (vacuumed
    * away), v3 head — built once per (run, sf), used by both tag keys. */
  private def tagFixture(spark: SparkSession, sf: String): (String, String) = {
    val root = gsqlRoot(spark)
    val tbl = "tg_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    def slice(m: Int): DataFrame = events(spark, sf)
      .where(col("user_id") % 3 === m)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    graft.util.Scratch.once(dir) {
      slice(0).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.tag('db.$tbl', 'baseline', 1)")
      slice(1).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      slice(2).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.vacuum('db.$tbl', 1, 0)")
    }
    (dir, tbl)
  }

  /** `CALL gsql.system.tags(table)` — SHOW TAGS: the fixture's one ref
    * listed as a (tag, version) row, oracle-checked as literals. */
  def metaTableTags(spark: SparkSession, sf: String): DataFrame = {
    val (_, tbl) = tagFixture(spark, sf)
    spark.sql(s"CALL gsql.system.tags('db.$tbl')")
      .orderBy(col("tag"))
  }

  def sinkTagTravel(spark: SparkSession, sf: String): DataFrame = {
    val (dir, tbl) = tagFixture(spark, sf)
    require(graft.sources.GraftManifest.versions(dir) == Seq(1, 3),
      s"vacuum must keep the tagged v1 and the head v3, got " +
        graft.sources.GraftManifest.versions(dir).mkString(","))
    spark.sql(
      s"""SELECT CAST(1 AS BIGINT) AS phase, event_type, n, sum_cents
         |FROM gsql.db.$tbl VERSION AS OF 'baseline'
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), event_type, n, sum_cents FROM gsql.db.$tbl
         |ORDER BY phase, event_type""".stripMargin)
  }

  /** STREAMED SORTED TABLE, SELF-MAINTAINING (round 14, VERDICT r13 next
    * #1 — the measured round-13 papercut: each micro-batch append into a
    * `#sortspec` table lands an unshaped file spanning the whole key
    * domain, so range pruning degrades until a hand-issued OPTIMIZE).
    * The versioned streaming sink's `autoOptimize.smallFiles=N` write
    * option arms a post-commit hook: every N files this writer appends,
    * it runs the procedure-grade incremental binpack
    * ([[graft.sources.GraftMaintenance]] — the SAME kernel `CALL
    * optimize` uses), which under the declared sort range-re-sorts the
    * small-file tail (absorbing overlapping retained files) back into
    * disjoint envelopes. O(1) trigger state per epoch; the sweep itself
    * reads only its victims — the maintenance loop a 100 TB streaming
    * lakehouse table needs to keep its own pruning alive.
    *
    * Fixture: seed a 4-file range layout on event_id (pmod-4 slice 0),
    * stream the other three slices as single-file epochs
    * (maxFilesPerTrigger=1), each spanning the full event_id domain.
    * With smallFiles=2 the hook sweeps after epoch 2 and leaves epoch
    * 3's tail un-swept — the honest steady state. REQUIREd: history
    * contains an AUTO-OPTIMIZE commit (nobody called the procedure) and
    * the sort spec survived it; a narrow probe plans at most 2 files
    * (one range file + the one unswept tail) and strictly fewer than
    * the SAME ingest without the policy, whose history has no compaction
    * at all. Probe rows fully oracled. */
  def streamSortedMaintain(spark: SparkSession, sf: String): DataFrame = {
    def ev = events(spark, sf).select(col("event_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    // 3 single-file source epochs (pmod slices 1..3; slice 0 is the seed)
    val srcDir = tmpDir("ssm_src", sf)
    graft.util.Scratch.once(srcDir) {
      (1 to 3).foreach { r =>
        val stage = tmpDir(s"ssm_stage$r", sf)
        ev.where(pmod(col("event_id"), lit(4)) === r)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        require(part.length == 1, s"want 1 part file in $stage, got ${part.length}")
        java.nio.file.Files.move(part.head.toPath,
          java.nio.file.Paths.get(srcDir, s"epoch$r.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def ingest(prefix: String, auto: Boolean): String = {
      val table = tmpDir(prefix, sf)
      graft.util.Scratch.once(table) { // seed: declared 4-file range layout
        ev.where(pmod(col("event_id"), lit(4)) === 0)
          .write.format("graft-sink").option("path", table)
          .option("sortBy", "event_id").option("writePartitions", "4")
          .option("distributionStrict", "true").mode("overwrite").save()
      }
      val w = spark.readStream
        .schema("event_id LONG, event_type STRING, cents LONG")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.format("graft-sink")
        .option("path", table)
        .option("checkpointLocation", tmpDir(prefix + "_chk", sf))
        .option("commitVersions", "true")
      val armed = if (auto)
        w.option("autoOptimize.smallFiles", "2")
          .option("autoOptimize.maxFileBytes", (1L << 30).toString)
          .option("autoOptimize.targetFiles", "4")
      else w
      val q = armed.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      table
    }
    val m = ingest("ssm_auto", auto = true)
    val c = ingest("ssm_ctl", auto = false)
    import graft.sources.GraftManifest
    def ops(dir: String): Seq[String] =
      GraftManifest.versions(dir).flatMap(v => GraftManifest.headerFacts(dir, v).op)
    require(ops(m).contains("AUTO-OPTIMIZE"),
      s"the policy must have committed an AUTO-OPTIMIZE sweep, ops=${ops(m)}")
    require(!ops(c).exists(_.contains("OPTIMIZE")),
      s"the control ingest must never compact, ops=${ops(c)}")
    val head = GraftManifest.readVersion(m, None).get
    require(head.sortSpec.contains("event_id"),
      s"auto-maintenance must preserve the declared sort, got ${head.sortSpec}")
    val k = events(spark, sf).agg(max(col("event_id"))).head.getLong(0) / 8
    def probe(dir: String): DataFrame =
      spark.read.format("graft-sink").option("path", dir).load()
        .where(col("event_id") <= k)
    val mFiles = head.metas.size
    val mPlanned = graftScanParts(probe(m))
    val cPlanned = graftScanParts(probe(c))
    require(mPlanned < mFiles && mPlanned <= 2,
      s"maintained table must prune: planned $mPlanned of $mFiles (want <= 2)")
    require(cPlanned > mPlanned,
      s"unmaintained control must plan strictly more: $cPlanned vs $mPlanned")
    probe(m).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .withColumn("auto_compacted", lit("true"))
      .withColumn("pruned", lit((mPlanned < cPlanned).toString))
      .orderBy(col("event_type"))
  }

  /** DECIMAL SUM AGGREGATE PUSHDOWN (round 14, VERDICT r13 next #4):
    * `#sums` facts now cover decimal(<=18) columns as exact sums of
    * UNSCALED values (fixed-scale integer math — Math.addExact, overflow
    * → unknown, never wrong), so `sum(decimal)` over an unfiltered graft
    * table answers from the manifest exactly like `sum(bigint)` — the
    * money-column dashboard query at 100 TB. REQUIREd: the whole
    * aggregate (count + min/max keys + sum(decimal(12,2))) plans a
    * LocalTableScan with NO BatchScan. Output casts the decimal to
    * DOUBLE (round-2 rule: final output columns are never DECIMAL — the
    * driver's pandas compare stringifies them differently); the cast
    * sits ABOVE the aggregate, so the pushdown still fires. Oracled on
    * the same cast chain in DuckDB. */
  def sinkAggPushdownDec(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttaggdec", sf)
    graft.util.Scratch.once(dir) {
      orders(spark, sf)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
        .repartition(4)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    }
    val t = spark.read.format("graft-sink").option("path", dir).load()
    val agg = t.agg(count(lit(1)).as("n"),
      min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
      sum(col("price")).as("sum_price"))
    val plan = agg.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"sum(decimal(12,2)) must answer from the manifest:\n${plan.take(600)}")
    agg.select(col("n"), col("min_key"), col("max_key"),
      col("sum_price").cast("double").as("sum_price"))
  }

  /** STRING-DIMENSION Z-ORDER (round 15 — closing the r13 "strings are
    * unrankable" refusal): `CALL optimize(..., zorder_by='lang,doc_id')`
    * now ranks a STRING dimension by its 6-byte UTF-8 prefix read as a
    * big-endian number (order-isomorphic to the code-point stats order
    * up to 6-byte granularity; rpad-zero keeps short values in prefix
    * order), so mixed text/numeric curves cluster BOTH dimensions — the
    * `(tenant, time)` or `(lang, doc_id)` layout a multi-tenant 100 TB
    * corpus wants, where no single-column sort can serve probes on each
    * column at once. REQUIREd: the curve is declared
    * (`#sortspec=zorder(lang,doc_id)`); a lang point probe AND a
    * bottom-eighth doc_id probe each plan < all files against the
    * z-ordered head while the SAME probes against VERSION 1 (the
    * pre-OPTIMIZE round-robin layout — the time-travel control) plan
    * every file. Probe rows fully oracled. */
  def scanZorderString(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "zstr_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(8)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 8, 'lang,doc_id')")
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 8, s"fixture: want 8 z-ordered files, got $nFiles")
    require(head.sortSpec.contains("zorder(lang,doc_id)"),
      s"string-led curve must be declared: ${head.sortSpec}")
    def head8 = spark.read.format("graft-sink").option("path", dir).load()
    def v1 = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", "1").load()
    val idHi = documents(spark, sf).agg(max(col("doc_id"))).head().getLong(0) / 8
    val pLang = head8.where(col("lang") === "de")
    val pId = head8.where(col("doc_id") <= idHi)
    val (zl, zi) = (graftScanParts(pLang), graftScanParts(pId))
    require(zl < nFiles && zi < nFiles,
      s"both curve dimensions must prune: lang $zl, doc_id $zi of $nFiles")
    require(graftScanParts(v1.where(col("lang") === "de")) == nFiles &&
      graftScanParts(v1.where(col("doc_id") <= idHi)) == nFiles,
      "the pre-OPTIMIZE control must plan every file on both probes")
    pLang.select(col("doc_id"), col("lang"), col("n_chars"))
      .unionByName(pId.select(col("doc_id"), col("lang"), col("n_chars")))
      .withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((zl < nFiles && zi < nFiles).toString))
      .orderBy(col("doc_id"), col("lang"))
  }

  /** WIDE-DECIMAL (38,6) STATS, PRUNING AND PUSHDOWN (round 15, VERDICT
    * r14 next #4): decimal(>18) columns — parquet FLBA physical — now
    * carry the full fact surface. The canonical cell is the exact plain
    * string at the column's scale (no binary sign-flip trick needed: the
    * stats comparator is TYPED, BigDecimal, not byte-wise), so `#stats`
    * envelopes prune range probes and `#sums` (Long of unscaled
    * micro-units, overflow → withheld) answers SUM exactly. Fixture:
    * orders' totalprice as decimal(38,6), range-clustered 4 ways on the
    * money column — the finance-lake layout. REQUIREd: every file
    * carries exact stats AND a sums fact for the wide column; a
    * bottom-band range probe plans strictly fewer files than the
    * manifest holds; the unfiltered count/min/max/sum aggregate answers
    * from the manifest (LocalTableScan, no BatchScan). Probe rows and
    * the aggregate are both oracled — decimals compared as their exact
    * string forms (the parity rule bans DECIMAL output columns). */
  def sinkWideStats(spark: SparkSession, sf: String): DataFrame = {
    val dir = tmpDir("ttwstat", sf)
    graft.util.Scratch.once(dir) {
      orders(spark, sf)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(38,6)").as("price"))
        .repartitionByRange(4, col("price"))
        .write.format("graft-sink").option("path", dir)
        .option("distributionMode", "none").mode("overwrite").save()
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 4, s"fixture: want 4 range-clustered files, got $nFiles")
    require(head.metas.forall(_.stats.contains(1)),
      s"decimal(38,6) must carry exact stats: ${head.metas.map(_.stats)}")
    require(head.metas.forall(_.sums.exists(_.contains(1))),
      s"decimal(38,6) must carry unscaled sums: ${head.metas.map(_.sums)}")
    def t(): DataFrame =
      spark.read.format("graft-sink").option("path", dir).load()
    // unfiltered dashboard aggregate: answers entirely from the manifest
    val agg = t().agg(count(lit(1)).as("n"),
      min(col("price")).as("min_p"), max(col("price")).as("max_p"),
      sum(col("price")).as("sum_p"))
    val plan = agg.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"decimal(38,6) count/min/max/sum must answer from the manifest:\n${plan.take(600)}")
    val a = agg.select(col("n"),
      col("min_p").cast("string"), col("max_p").cast("string"),
      col("sum_p").cast("string")).head()
    // bottom-band range probe on the clustered money column
    val probe = t().where(col("price") < lit("5000").cast("decimal(38,6)"))
    val planned = graftScanParts(probe)
    require(planned < nFiles,
      s"range probe must prune the price-clustered layout: $planned of $nFiles")
    probe.select(col("o_orderkey"),
      col("price").cast("string").as("price_str"))
      .withColumn("n_files", lit(nFiles.toLong))
      .withColumn("pruned", lit((planned < nFiles).toString))
      .withColumn("total_n", lit(a.getLong(0)))
      .withColumn("min_str", lit(a.getString(1)))
      .withColumn("max_str", lit(a.getString(2)))
      .withColumn("sum_str", lit(a.getString(3)))
      .orderBy(col("o_orderkey"))
  }

  /** 3-DIMENSIONAL Z-ORDER WITH A TIMESTAMP DIMENSION (round 14, VERDICT
    * r13 next #6): `CALL optimize(..., zorder_by='event_id,user_id,ts')`
    * quantile-ranks each dimension (64 ranks via one approx_percentile
    * prepass; timestamps rank through their double cast — micros cells
    * are order-isomorphic) and interleaves THREE 6-bit rank words into
    * an 18-bit curve. Locality math at k=3: the top bit of each
    * dimension splits space into 8 octants, so a bottom-eighth probe on
    * ANY single dimension overlaps only the 4 octants with that bit 0 —
    * the probe plans ~half the files instead of all of them, on every
    * dimension at once, which no single-column sort can do for three
    * probe columns. REQUIREd: the curve layout is declared
    * (`#sortspec=zorder(event_id,user_id,ts)`); bottom-eighth probes on
    * event_id, user_id AND ts each plan < all files against the
    * z-ordered head, while the SAME probes against VERSION 1 (the
    * pre-OPTIMIZE round-robin layout of the same table — the time-travel
    * control) plan every file. Per-probe aggregates fully oracled. */
  def scanZorder3d(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "z3d_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      events(spark, sf)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(8)
        .write.format("graft-sink").option("path", dir).mode("overwrite").save()
      spark.sql(s"CALL gsql.system.optimize('db.$tbl', 8, 'event_id,user_id,ts')")
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    val nFiles = head.metas.size
    require(nFiles == 8, s"fixture: want 8 z-ordered files, got $nFiles")
    require(head.sortSpec.contains("zorder(event_id,user_id,ts)"),
      s"3-D curve must be declared: ${head.sortSpec}")
    // bottom-eighth thresholds as pushable literals (1-row driver fetch)
    val mm = events(spark, sf).agg(
      min(col("event_id")), max(col("event_id")),
      min(col("user_id")), max(col("user_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val eHi = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 8
    val uHi = mm.getLong(2) + (mm.getLong(3) - mm.getLong(2)) / 8
    val tHi = mm.getLong(4) + (mm.getLong(5) - mm.getLong(4)) / 8
    def t(v: Option[Int]): DataFrame = {
      val r = spark.read.format("graft-sink").option("path", dir)
      v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
    }
    val probes: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("event", _.where(col("event_id") <= eHi)),
      ("ts", _.where(col("ts") <= timestamp_micros(lit(tHi)))),
      ("user", _.where(col("user_id") <= uHi)))
    probes.foreach { case (name, p) =>
      val ctl = graftScanParts(p(t(Some(1))))
      require(ctl == nFiles,
        s"control: $name probe on the round-robin v1 must plan all $nFiles, planned $ctl")
      val planned = graftScanParts(p(t(None)))
      require(planned < nFiles,
        s"3-D curve must prune the $name probe: planned $planned of $nFiles")
    }
    probes.map { case (name, p) =>
      p(t(None)).agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
        .withColumn("probe", lit(name))
    }.reduce(_ unionByName _)
      .select(col("probe"), col("n"), col("sum_cents"), col("min_id"))
      .orderBy(col("probe"))
  }

  /** TABLE PROPERTIES (round 14): durable free-form table metadata as
    * `#prop=` manifest header facts — CREATE TABLE TBLPROPERTIES sets
    * them, ALTER TABLE SET/UNSET TBLPROPERTIES commits a metadata-only
    * version replacing the set, every data commit carries them forward
    * (checks/ids rule), SHOW TBLPROPERTIES reads them O(header). This is
    * the DURABLE half of the auto-maintenance policy surface (a
    * property-carrying table sweeps under ANY writer — pinned in
    * Round14Spec) and the ordinary Delta/Iceberg TBLPROPERTIES role.
    * REQUIREd: the full lifecycle (create+set+unset+insert) lands the
    * expected set on the head AFTER a data commit; output is the shown
    * properties, oracled as constants. */
  def metaTableProps(spark: SparkSession, sf: String): DataFrame = {
    val root = gsqlRoot(spark)
    val tbl = "props_" + sfTag(sf)
    val dir = s"$root/db/$tbl"
    graft.util.Scratch.once(dir) {
      spark.sql(s"""CREATE TABLE gsql.db.$tbl (k BIGINT, v STRING)
        TBLPROPERTIES ('owner.team'='curation', 'quality.tier'='gold')""")
      spark.sql(s"""ALTER TABLE gsql.db.$tbl SET TBLPROPERTIES
        ('quality.tier'='platinum', 'retention.days'='30')""")
      spark.sql(s"ALTER TABLE gsql.db.$tbl UNSET TBLPROPERTIES ('owner.team')")
      spark.sql(s"INSERT INTO gsql.db.$tbl VALUES (1, 'a'), (2, 'b')")
    }
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(head.props ==
        Map("quality.tier" -> "platinum", "retention.days" -> "30"),
      s"properties must survive set/unset/insert: ${head.props}")
    require(head.op.contains("APPEND"),
      s"the head must be the data commit (carry, not re-set): ${head.op}")
    spark.sql(s"SHOW TBLPROPERTIES gsql.db.$tbl")
      .select(col("key"), col("value")).orderBy(col("key"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sorted_maintain" -> streamSortedMaintain,
    "sink_agg_pushdown_dec" -> sinkAggPushdownDec,
    "sink_wide_stats" -> sinkWideStats,
    "meta_table_props" -> metaTableProps,
    "scan_zorder_3d" -> scanZorder3d,
    "scan_zorder_string" -> scanZorderString,
    "sink_tag_travel" -> sinkTagTravel,
    "meta_table_tags" -> metaTableTags,
    "meta_table_history" -> metaTableHistory,
    "sql_ctas" -> sqlCtas,
    "sql_replace_table" -> sqlReplaceTable,
    "sql_insert_overwrite" -> sqlInsertOverwrite,
    "sink_optimize_binpack" -> sinkOptimizeBinpack,
    "sql_dml_delete" -> sqlDmlDelete,
    "sql_dml_update" -> sqlDmlUpdate,
    "sql_merge_into" -> sqlMergeInto,
    "sink_dv_point_delete" -> sinkDvPointDelete,
    "sink_documents_versioned" -> sinkDocumentsVersioned,
    "scan_text_range_prune" -> scanTextRangePrune,
    "scan_text_prefix_prune" -> scanTextPrefixPrune,
    "scan_prefix_bloom" -> scanPrefixBloom,
    "scan_contains_ngram" -> scanContainsNgram,
    "scan_idx_bundle" -> scanIdxBundle,
    "scan_geo_zorder" -> scanGeoZorder,
    "scan_suffix_prune" -> scanSuffixPrune,
    "scan_fp_special" -> scanFpSpecial,
    "scan_topn_text" -> scanTopnText,
    "scan_text_minmax" -> scanTextMinmax,
    "sink_sorted_multi" -> sinkSortedMulti,
    "scan_zorder_prune" -> scanZorderPrune,
    "sink_rowgroup_skip" -> sinkRowgroupSkip,
    "sink_vector_column" -> sinkVectorColumn,
    "sql_txn_publish" -> sqlTxnPublish,
    "sink_binary_column" -> sinkBinaryColumn,
    "sink_scalar_types" -> sinkScalarTypes,
    "sink_wide_types" -> sinkWideTypes,
    "sink_nested_deep" -> sinkNestedDeep,
    "sink_delete_metadata_only" -> sinkDeleteMetadataOnly,
    "sink_null_stats_skip" -> sinkNullStatsSkip,
    "sink_zorder_optimize" -> sinkZorderOptimize,
    "source_csv_roundtrip" -> sourceCsvRoundtrip,
    "source_avro_roundtrip" -> sourceAvroRoundtrip,
    "source_json_roundtrip" -> sourceJsonRoundtrip,
    "source_orc_roundtrip" -> sourceOrcRoundtrip,
    "source_text_roundtrip" -> sourceTextRoundtrip,
    "join_shuffle_hash_hint" -> joinShuffleHashHint,
    "join_aqe_bhj_switch" -> joinAqeBhjSwitch,
    "sink_dynamic_overwrite" -> sinkDynamicOverwrite,
    "sink_partitioned_prune" -> sinkPartitionedPrune,
    "sink_bloom_skip" -> sinkBloomSkip,
    "join_cbo_reorder" -> joinCboReorder,
    "join_dpp_prune" -> joinDppPrune,
    "sink_zorder" -> sinkZorder,
    "etl_compact_files" -> etlCompactFiles,
    "etl_schema_evolution" -> etlSchemaEvolution,
    "join_bucketed" -> joinBucketed,
    "join_skew_salted" -> joinSkewSalted,
    "join_range_bucketed" -> joinRangeBucketed,
    "agg_moments" -> aggMoments,
    "agg_gini_diversity" -> aggGiniDiversity,
    "agg_weighted_median" -> aggWeightedMedian,
    "agg_corr_spearman" -> aggCorrSpearman,
    "agg_multi_distinct" -> aggMultiDistinct,
    "agg_distinct_rewrite_rule" -> aggDistinctRewriteRule,
    "agg_aqe_coalesce" -> aggAqeCoalesce,
    "stats_equi_depth_hist" -> statsEquiDepthHist,
    "agg_hll_merge" -> aggHllMerge,
    "agg_cms_freq" -> aggCmsFreq,
    "join_bloom_prune" -> joinBloomPrune,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "join_skew_aqe" -> joinSkewAqe,
    "source_custom_v2" -> sourceCustomV2,
    "sink_custom_v2" -> sinkCustomV2,
    "sink_time_travel" -> sinkTimeTravel,
    "sink_time_travel_ts" -> sinkTimeTravelTs,
    "sink_change_feed" -> sinkChangeFeed,
    "sink_change_feed_upsert" -> sinkChangeFeedUpsert,
    "sink_struct_column" -> sinkStructColumn,
    "sink_map_column" -> sinkMapColumn,
    "sql_catalog_travel" -> sqlCatalogTravel,
    "sink_restore_version" -> sinkRestoreVersion,
    "sink_compact_vacuum" -> sinkCompactVacuum,
    "sink_snapshot_diff" -> sinkSnapshotDiff,
    "sink_stats_skip" -> sinkStatsSkip,
    "sink_partitioned_write" -> sinkPartitionedWrite,
    "join_spj_graft" -> joinSpjGraft,
    "join_spj_bucket" -> joinSpjBucket,
    "join_spj_skew" -> joinSpjSkew,
    "join_dpp_graft" -> joinDppGraft,
    "join_dpp_bloom" -> joinDppBloom,
    "sink_ddl_partitioned" -> sinkDdlPartitioned,
    "sink_wap_publish" -> sinkWapPublish,
    "sink_drop_column" -> sinkDropColumn,
    "sink_replace_where" -> sinkReplaceWhere,
    "sink_column_rename" -> sinkColumnRename,
    "sink_constraint_enforce" -> sinkConstraintEnforce,
    "sink_agg_pushdown" -> sinkAggPushdown,
    "sink_partitions_metadata" -> sinkPartitionsMetadata,
    "sink_sorted_write" -> sinkSortedWrite,
    "scan_order_report" -> scanOrderReport,
    "scan_limit_pushdown" -> scanLimitPushdown,
    "scan_topn_pushdown" -> scanTopnPushdown,
    "sink_bloom_manifest" -> sinkBloomManifest,
    "sink_ndv_stats" -> sinkNdvStats,
    "sql_merge_sync" -> sqlMergeSync,
    "join_cbo_graft" -> joinCboGraft,
    "sink_shallow_clone" -> sinkShallowClone,
    "sink_partition_evolution" -> sinkPartitionEvolution,
    "sink_sorted_compact" -> sinkSortedCompact,
    "sink_orphan_report" -> sinkOrphanReport,
    "sink_branch_merge" -> sinkBranchMerge,
    "sink_timestamp_types" -> sinkTimestampTypes,
    "sink_merge_version" -> sinkMergeVersion,
    "sink_delete_where" -> sinkDeleteWhere,
    "sink_schema_evolve" -> sinkSchemaEvolve,
    "meta_catalog_describe" -> metaCatalogDescribe,
    "window_distinct_running" -> windowDistinctRunning
  )

  def oracle: Map[String, String] = Map(
    "stream_sorted_maintain" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id,
        |  'true' AS auto_compacted, 'true' AS pruned
        |FROM events
        |WHERE event_id <= (SELECT max(event_id)//8 FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sink_agg_pushdown_dec" ->
      """SELECT count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin,

    "sink_wide_stats" ->
      """WITH w AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,6)) AS price
        |  FROM orders)
        |SELECT o_orderkey, CAST(price AS VARCHAR) AS price_str,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned,
        |  (SELECT count(*) FROM w) AS total_n,
        |  (SELECT CAST(min(price) AS VARCHAR) FROM w) AS min_str,
        |  (SELECT CAST(max(price) AS VARCHAR) FROM w) AS max_str,
        |  (SELECT CAST(CAST(sum(price) AS DECIMAL(38,6)) AS VARCHAR) FROM w)
        |    AS sum_str
        |FROM w WHERE price < CAST(5000 AS DECIMAL(38,6))
        |ORDER BY o_orderkey""".stripMargin,

    "meta_table_props" ->
      """SELECT * FROM (VALUES ('quality.tier', 'platinum'),
        |  ('retention.days', '30')) t(key, value)
        |ORDER BY key""".stripMargin,

    "scan_zorder_3d" ->
      """WITH b AS (
        |  SELECT min(event_id) + (max(event_id) - min(event_id)) // 8 AS e_hi,
        |         min(user_id) + (max(user_id) - min(user_id)) // 8 AS u_hi,
        |         min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 8 AS t_hi
        |  FROM events),
        |c AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |             CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT 'event' AS probe, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents, min(event_id) AS min_id
        |FROM c, b WHERE event_id <= e_hi
        |UNION ALL
        |SELECT 'ts', count(*), CAST(sum(cents) AS BIGINT), min(event_id)
        |FROM c, b WHERE tus <= t_hi
        |UNION ALL
        |SELECT 'user', count(*), CAST(sum(cents) AS BIGINT), min(event_id)
        |FROM c, b WHERE user_id <= u_hi
        |ORDER BY probe""".stripMargin,
    "meta_table_tags" ->
      "SELECT 'baseline' AS tag, CAST(1 AS BIGINT) AS version",

    "sink_documents_versioned" ->
      """WITH d AS (
        |  SELECT doc_id, lang, replace(text, ' ', ', ') AS body FROM documents)
        |SELECT CAST(1 AS BIGINT) AS version, doc_id, lang,
        |  md5(body) AS h, CAST(length(body) AS BIGINT) AS n
        |FROM d WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, doc_id, lang,
        |  md5(body) AS h, CAST(length(body) AS BIGINT) AS n
        |FROM d
        |ORDER BY version, doc_id""".stripMargin,

    "scan_text_range_prune" ->
      """SELECT doc_id, text || ' | ' || text AS body,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS n_planned_lt
        |FROM documents
        |WHERE text || ' | ' || text >= 'p' AND text || ' | ' || text < 'q'
        |ORDER BY doc_id""".stripMargin,

    "scan_fp_special" ->
      """WITH s AS (
        |  SELECT n_nationkey,
        |    CASE n_nationkey % 5
        |      WHEN 0 THEN 'NaN'::DOUBLE
        |      WHEN 1 THEN -0.0::DOUBLE
        |      WHEN 2 THEN 'Infinity'::DOUBLE
        |      WHEN 3 THEN '-Infinity'::DOUBLE
        |      ELSE n_nationkey::DOUBLE END AS v
        |  FROM nation)
        |SELECT probe, n_nationkey FROM (
        |  SELECT 'eq0' AS probe, n_nationkey FROM s WHERE v = 0.0
        |  UNION ALL SELECT 'ge0', n_nationkey FROM s WHERE v >= 0.0
        |  UNION ALL SELECT 'nan', n_nationkey FROM s WHERE v = 'NaN'::DOUBLE
        |  UNION ALL SELECT 'gtmax', n_nationkey FROM s WHERE v > 1e308)
        |ORDER BY probe, n_nationkey""".stripMargin,

    "scan_text_prefix_prune" ->
      """SELECT doc_id, text || ' | ' || text AS body,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM documents
        |WHERE starts_with(text || ' | ' || text, 'me')
        |ORDER BY doc_id""".stripMargin,

    "scan_prefix_bloom" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ck,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM documents
        |WHERE starts_with(md5(CAST(doc_id AS VARCHAR)), 'c4ca42')
        |ORDER BY doc_id""".stripMargin,

    "scan_zorder_string" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |b AS (SELECT max(doc_id) // 8 AS id_hi FROM d)
        |SELECT doc_id, lang, n_chars,
        |  CAST(8 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM (
        |  SELECT doc_id, lang, n_chars FROM d WHERE lang = 'de'
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM d
        |  WHERE doc_id <= (SELECT id_hi FROM b))
        |ORDER BY doc_id, lang""".stripMargin,

    "scan_contains_ngram" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ck,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM documents
        |WHERE contains(md5(CAST(doc_id AS VARCHAR)), '4238a0')
        |ORDER BY doc_id""".stripMargin,

    "scan_idx_bundle" ->
      """SELECT doc_id, k, ck,
        |  CAST(4 AS BIGINT) AS n_files,
        |  CAST(4 AS BIGINT) AS ctl_loads, CAST(1 AS BIGINT) AS bundle_loads,
        |  CAST(1 AS BIGINT) AS auto_loads
        |FROM (
        |  SELECT doc_id, k,
        |    md5(CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)) AS ck
        |  FROM documents, (SELECT unnest(range(0, 16)) AS k))
        |WHERE contains(ck, '5187d1')
        |ORDER BY doc_id, k""".stripMargin,

    "scan_geo_zorder" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    ((c_custkey % 1000003) * 2654435761) % 17000000 - 8500000 AS lat,
        |    ((c_custkey % 999983) * 2654435761) % 36000000 - 18000000 AS lon
        |  FROM customer)
        |SELECT c_custkey, lat, lon,
        |  CAST(8 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM p
        |WHERE lat BETWEEN 0 AND 4000000 AND lon BETWEEN 0 AND 6000000
        |ORDER BY c_custkey""".stripMargin,

    "scan_suffix_prune" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    lang || '/doc-' || doc_id ||
        |      (CASE doc_id % 3 WHEN 0 THEN '.jpg' WHEN 1 THEN '.txt'
        |        ELSE '.pdf' END) AS path
        |  FROM documents)
        |SELECT doc_id, path,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM p WHERE path LIKE '%.jpg'
        |ORDER BY doc_id""".stripMargin,

    "sink_sorted_multi" ->
      """SELECT lang, doc_id, n_chars,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM documents WHERE lang = 'en' AND doc_id <= 100
        |ORDER BY doc_id""".stripMargin,

    "scan_text_minmax" ->
      """SELECT min(text || ' | ' || text) AS lo,
        |  max(text || ' | ' || text) AS hi,
        |  count(*) AS n FROM documents""".stripMargin,

    "scan_topn_text" ->
      """SELECT doc_id, text || ' | ' || text AS body,
        |  CAST(4 AS BIGINT) AS n_files, 'true' AS pruned
        |FROM documents
        |ORDER BY body, doc_id LIMIT 100""".stripMargin,

    "scan_zorder_prune" ->
      """WITH b AS (
        |  SELECT min(o_custkey) + (max(o_custkey) - min(o_custkey)) // 10 AS ch,
        |         min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 10 AS oh
        |  FROM orders)
        |SELECT 'cust' AS probe, o_orderkey, o_custkey,
        |  'true' AS both_pruned, 'true' AS ctl_full
        |FROM orders, b WHERE o_custkey <= ch
        |UNION ALL
        |SELECT 'ord', o_orderkey, o_custkey, 'true', 'true'
        |FROM orders, b WHERE o_orderkey <= oh
        |ORDER BY probe, o_orderkey""".stripMargin,

    "sink_rowgroup_skip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey <= (SELECT min(l_orderkey) + 32 FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "sink_scalar_types" ->
      """WITH s AS (
        |  SELECT event_id, CAST(CAST(user_id AS INTEGER) AS BIGINT) AS i32,
        |    CAST(CAST(value AS REAL) AS DOUBLE) AS f32,
        |    (user_id % 2 = 0) AS flag,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS dec_cents
        |  FROM events)
        |SELECT 'csv' AS fmt, * FROM s
        |UNION ALL
        |SELECT 'parquet' AS fmt, * FROM s
        |ORDER BY fmt, event_id""".stripMargin,

    "sink_nested_deep" ->
      """SELECT event_id,
        |  user_id + (user_id + 1)
        |    + CASE WHEN event_id % 3 = 0 THEN user_id * 2 ELSE 0 END AS aa_sum,
        |  user_id AS inner_a, event_type AS inner_b,
        |  event_type || '|' || upper(event_type) AS tags_cat,
        |  user_id AS mv, event_type AS mt
        |FROM events ORDER BY event_id""".stripMargin,

    "sink_wide_types" ->
      """WITH s AS (
        |  SELECT event_id,
        |    CAST(CAST(user_id AS DECIMAL(18,0))
        |      * CAST('100000000000000000000' AS DECIMAL(21,0)) AS DECIMAL(38,6))
        |      AS wide,
        |    user_id, CAST(floor(value*10) AS BIGINT) AS len10
        |  FROM events)
        |SELECT event_id,
        |  CAST(wide AS VARCHAR) AS wide_str,
        |  ts, len FROM (
        |  SELECT event_id, wide, user_id AS ts, len10 AS len FROM s
        |  UNION ALL
        |  SELECT event_id, wide, user_id + 1 AS ts, CAST(0 AS BIGINT) FROM s)
        |ORDER BY event_id, ts""".stripMargin,

    "sink_binary_column" ->
      """SELECT doc_id, lang, md5(text) AS h,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id <> 3
        |ORDER BY doc_id""".stripMargin,

    "sql_txn_publish" ->
      """WITH f AS (
        |  SELECT 'fact' AS src, event_type, CAST(user_id % 4 AS BIGINT) AS bucket,
        |    CAST(user_id % 2 AS BIGINT) AS slice, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, user_id % 4, user_id % 2),
        |d AS (
        |  SELECT 'dim' AS src, event_type, CAST(NULL AS BIGINT) AS bucket,
        |    CAST(user_id % 2 AS BIGINT) AS slice,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n,
        |    CAST(NULL AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, user_id % 2)
        |SELECT * FROM f UNION ALL SELECT * FROM d
        |ORDER BY src, event_type, bucket, slice""".stripMargin,

    "sink_vector_column" ->
      """SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
        |  CAST(g.i - 1 AS BIGINT) AS pos, CAST(e.embedding[g.i] AS DOUBLE) AS val
        |FROM embeddings AS e CROSS JOIN generate_series(1, 64) AS g(i)
        |WHERE e.vec_id <> 123
        |ORDER BY e.vec_id, pos""".stripMargin,

    "sink_tag_travel" ->
      """WITH s AS (
        |  SELECT user_id % 3 AS m, event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, n, sum_cents FROM s WHERE m = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, n, sum_cents FROM s WHERE m = 2
        |ORDER BY phase, event_type""".stripMargin,

    "sink_optimize_binpack" ->
      """WITH b AS (
        |  SELECT event_id, event_type, CAST(floor(value*100) AS BIGINT) AS cents
        |  FROM events),
        |u AS (SELECT * FROM b
        |      UNION ALL SELECT * FROM b WHERE event_id % 500 < 4)
        |SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id
        |FROM u GROUP BY 1 ORDER BY event_type""".stripMargin,

    "meta_table_history" ->
      """WITH g AS (
        |  SELECT event_type, user_id % 4 AS bucket FROM events GROUP BY 1, 2),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g WHERE bucket < 2),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g WHERE bucket = 3)
        |SELECT CAST(1 AS BIGINT) AS version, 'OVERWRITE' AS operation,
        |  CAST(1 AS BIGINT) AS n_files, a.c AS total_rows FROM a
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'APPEND', CAST(2 AS BIGINT), a.c + b.c FROM a, b
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'DELETE', CAST(2 AS BIGINT), a.c + b.c - d.c
        |FROM a, b, d
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'OPTIMIZE', CAST(1 AS BIGINT), a.c + b.c - d.c
        |FROM a, b, d
        |ORDER BY version""".stripMargin,

    "sql_ctas" ->
      """SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "sql_replace_table" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM s
        |WHERE bucket >= 2
        |ORDER BY phase, event_type, bucket""".stripMargin,

    "sql_insert_overwrite" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM s
        |WHERE bucket < 2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), '_truncated', CAST(-1 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY phase, event_type, bucket""".stripMargin,
    "sink_restore_version" ->
      """WITH v1 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 2 = 0 GROUP BY 1
        |), v2 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS phase, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), * FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), * FROM v1
        |ORDER BY phase, event_type""".stripMargin,

    "sql_dml_delete" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM s
        |WHERE NOT (event_type = 'click' AND bucket >= 2)
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sql_dml_update" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n,
        |  CASE WHEN bucket = 1 THEN sum_cents + n ELSE sum_cents END
        |FROM s
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sql_merge_into" ->
      """WITH t AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 < 3 GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 > 1 GROUP BY 1, 2),
        |merged AS (
        |  SELECT t.* FROM t WHERE NOT EXISTS (
        |    SELECT 1 FROM s WHERE s.event_type = t.event_type AND s.bucket = t.bucket)
        |  UNION ALL
        |  SELECT s.* FROM s JOIN t ON s.event_type = t.event_type AND s.bucket = t.bucket
        |  WHERE s.sum_cents % 2 <> 0
        |  UNION ALL
        |  SELECT s.* FROM s WHERE NOT EXISTS (
        |    SELECT 1 FROM t WHERE t.event_type = s.event_type AND t.bucket = s.bucket))
        |SELECT CAST(1 AS BIGINT) AS version, event_type, bucket, n, sum_cents FROM t
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM merged
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sink_dv_point_delete" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT * FROM s WHERE NOT (event_type = 'purchase' AND bucket = 3))
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM d
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), event_type, bucket, n, sum_cents FROM d
        |ORDER BY phase, event_type, bucket""".stripMargin,

    "sink_delete_metadata_only" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, event_type, bucket, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM s
        |WHERE bucket <> 2
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sink_null_stats_skip" ->
      """WITH s AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT event_type, bucket, n, sum_cents, sum_cents AS maybe FROM s
        |  UNION ALL
        |  SELECT event_type, bucket, n, sum_cents,
        |    CASE WHEN bucket = 2 THEN NULL ELSE sum_cents END FROM s
        |  UNION ALL
        |  SELECT event_type, bucket, n, sum_cents, CAST(NULL AS BIGINT) FROM s)
        |SELECT 'is_null' AS probe, event_type, bucket, n, sum_cents, maybe,
        |  CAST(4 AS BIGINT) AS n_planned FROM u WHERE maybe IS NULL
        |UNION ALL
        |SELECT 'not_null', event_type, bucket, n, sum_cents, maybe,
        |  CAST(4 AS BIGINT) FROM u WHERE maybe IS NOT NULL
        |ORDER BY probe, event_type, bucket, maybe""".stripMargin,

    "sink_zorder_optimize" ->
      """SELECT CAST(floor((o_custkey % 256) / 64) AS BIGINT) AS cband,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_orderkey % 256) AS min_o, max(o_orderkey % 256) AS max_o
        |FROM orders GROUP BY 1 ORDER BY cband""".stripMargin,

    "sql_catalog_travel" ->
      """WITH s AS (
        |  SELECT user_id % 3 AS m, event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, n, sum_cents FROM s WHERE m = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, n, sum_cents FROM s WHERE m <= 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), event_type, n, sum_cents FROM s
        |ORDER BY phase, event_type, n, sum_cents""".stripMargin,

    "sink_time_travel_ts" ->
      """WITH v1 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1
        |), v2 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 2 = 0 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS phase, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), * FROM v1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), * FROM v2
        |ORDER BY phase, event_type""".stripMargin,

    "sink_change_feed" ->
      """WITH s0 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 = 0 GROUP BY 1, 2
        |), s1 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 = 1 GROUP BY 1, 2
        |), pre AS (
        |  SELECT * FROM s0 UNION ALL SELECT * FROM s1)
        |SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
        |  'insert' AS change_type, * FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'delete', * FROM pre
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'insert', *
        |FROM pre WHERE event_type != 'view'
        |ORDER BY from_v, change_type, event_type, bucket""".stripMargin,

    "sink_struct_column" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |  CAST(o_orderdate AS DATE) AS d
        |FROM orders ORDER BY k""".stripMargin,

    "sink_map_column" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sink_change_feed_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS k,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer
        |), ups AS (
        |  SELECT k, cents + 1 AS cents FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + (SELECT max(k) + 1 FROM base) AS k,
        |    CAST(42 AS BIGINT) AS cents FROM base WHERE k % 97 = 0)
        |SELECT * FROM (
        |  SELECT 'insert' AS change, k, cents FROM ups
        |  UNION ALL
        |  SELECT 'delete' AS change, k, cents FROM base WHERE k % 10 = 0)
        |ORDER BY change, k""".stripMargin,

    "sink_stats_skip" ->
      """SELECT event_type, user_id % 8 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_planned
        |FROM events WHERE user_id % 8 >= 6
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "sink_partitioned_write" ->
      """SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(5 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_planned
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 2""".stripMargin,

    "join_spj_graft" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT a.event_type, a.bucket, a.n, a.sum_cents, b.n_users
        |FROM a JOIN b USING (event_type)
        |ORDER BY event_type, bucket""".stripMargin,

    "join_spj_bucket" ->
      """WITH a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT user_id, CAST(max(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS max_cents
        |  FROM events GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.cents, b.max_cents
        |FROM a JOIN b USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "join_spj_skew" ->
      """WITH g AS (
        |  SELECT CASE WHEN user_id % 10 < 9 THEN 0
        |    ELSE 1 + (CAST(floor(user_id / 10) AS BIGINT) % 4) END AS grp,
        |    user_id, CAST(floor(value*100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM g GROUP BY 1)
        |SELECT g.grp, count(*) AS n, CAST(sum(g.cents) AS BIGINT) AS sum_cents,
        |  max(b.n_users) AS n_users
        |FROM g JOIN b USING (grp)
        |GROUP BY g.grp ORDER BY g.grp""".stripMargin,

    "join_dpp_graft" ->
      """SELECT n.n_name AS nation, count(*) AS n_cust,
        |  CAST(sum(CAST(floor(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  (SELECT count(DISTINCT c_nationkey) FROM customer) AS n_files,
        |  (SELECT count(DISTINCT c2.c_nationkey) FROM customer c2
        |     JOIN nation n2 ON c2.c_nationkey = n2.n_nationkey
        |   WHERE n2.n_regionkey = 1) AS n_planned
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_regionkey = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink_drop_column" ->
      """SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket, n""".stripMargin,

    "sink_wap_publish" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, bucket, n, sum_cents FROM a
        |UNION ALL SELECT event_type, bucket, n + 5000, sum_cents FROM a
        |ORDER BY event_type, bucket, n""".stripMargin,

    "sink_ddl_partitioned" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "sink_replace_where" ->
      """WITH v1 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket,
        |  CASE WHEN bucket = 2 THEN n + 1000 ELSE n END, sum_cents
        |FROM v1
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sink_column_rename" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, * FROM a
        |UNION ALL SELECT CAST(2 AS BIGINT), * FROM a
        |UNION ALL SELECT CAST(2 AS BIGINT), event_type, bucket, n + 5000, cents FROM a
        |ORDER BY version, event_type, bucket, n""".stripMargin,

    "sink_constraint_enforce" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT * FROM a
        |UNION ALL SELECT event_type, bucket, n + 5000, sum_cents FROM a
        |ORDER BY event_type, bucket, n""".stripMargin,

    "sink_agg_pushdown" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2
        |), g AS (SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(sum_cents) AS BIGINT) AS cents FROM a GROUP BY 1),
        |t AS (SELECT count(*) AS total_rows, min(bucket) AS min_bucket,
        |  max(bucket) AS max_bucket, max(sum_cents) AS max_cents,
        |  count(n) AS n_nonnull, CAST(sum(n) AS BIGINT) AS sum_n FROM a)
        |SELECT g.event_type, g.n_rows, g.cents, t.total_rows, t.min_bucket,
        |  t.max_bucket, t.max_cents, t.n_nonnull, t.sum_n
        |FROM g, t ORDER BY g.event_type""".stripMargin,

    "sink_partitions_metadata" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket FROM events
        |  GROUP BY event_type, user_id % 4
        |)
        |SELECT event_type, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN bucket <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sink_sorted_write" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |  max(user_id) AS max_uid
        |FROM events
        |WHERE user_id <= (SELECT max(user_id) FROM events) // 8
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "scan_order_report" ->
      """SELECT event_id, event_type,
        |  CAST(floor(value*100) AS BIGINT) AS cents
        |FROM events""".stripMargin,

    "scan_limit_pushdown" ->
      """SELECT CAST(150 AS BIGINT) AS n_rows, CAST(4 AS BIGINT) AS n_files,
        |  CAST(1 AS BIGINT) AS n_planned""".stripMargin,

    "scan_topn_pushdown" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(floor(value*100) AS BIGINT) AS cents,
        |  CAST(4 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_planned
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,

    "sink_bloom_manifest" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(floor(value*100) AS BIGINT) AS cents,
        |  CAST(4 AS BIGINT) AS n_files
        |FROM events WHERE event_id = 247""".stripMargin,

    "sink_ndv_stats" ->
      """SELECT c, CAST(1 AS BIGINT) AS ndv_ok FROM (VALUES ('cents'),
        |  ('event_id'), ('event_type'), ('user_id')) AS t(c)
        |ORDER BY c""".stripMargin,

    "sql_merge_sync" ->
      """SELECT event_type, user_id % 4 AS bucket,
        |  count(*) + 1000 AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id % 4 >= 1
        |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    "sink_orphan_report" ->
      """SELECT CAST(2 AS BIGINT) AS n_orphans, CAST(12 AS BIGINT) AS orphan_bytes""",

    "sink_branch_merge" ->
      """WITH b AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, bucket, n, sum_cents FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM b
        |WHERE bucket <> 3
        |ORDER BY phase, event_type, bucket""".stripMargin,

    "sink_sorted_compact" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |  max(user_id) AS max_uid
        |FROM events
        |WHERE user_id <= (SELECT max(user_id) FROM events) // 8
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sink_partition_evolution" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1, 2)
        |SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |ORDER BY event_type, bucket, n""".stripMargin,

    "join_dpp_bloom" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_files
        |FROM events WHERE user_id = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink_timestamp_types" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(max(floor(epoch(ts))) AS BIGINT) AS last_es
        |FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink_shallow_clone" ->
      """WITH b AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS phase, event_type, bucket, n, sum_cents FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, bucket, n, sum_cents FROM b
        |WHERE bucket <> 0
        |ORDER BY phase, event_type, bucket""".stripMargin,

    "join_cbo_graft" ->
      """WITH u AS (SELECT user_id, count(*) AS u_n FROM events GROUP BY 1)
        |SELECT upper(e.event_type) AS t_tag, count(*) AS n,
        |  CAST(sum(CAST(floor(e.value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(u.u_n) AS BIGINT) AS sum_un
        |FROM events e JOIN u ON e.user_id = u.user_id
        |WHERE e.event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink_merge_version" ->
      """WITH v1 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 < 3 GROUP BY 1, 2
        |), u AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 > 1 GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), * FROM v1 WHERE bucket < 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), * FROM u
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sink_delete_where" ->
      """WITH v1 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), * FROM v1 WHERE bucket != 2
        |ORDER BY version, event_type, bucket""".stripMargin,

    "sink_schema_evolve" ->
      """SELECT event_type, count(*) AS n, CAST(NULL AS BIGINT) AS sum_cents
        |FROM events WHERE user_id % 2 = 0 GROUP BY 1
        |UNION ALL
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id % 2 = 1 GROUP BY 1
        |ORDER BY 1, 2""".stripMargin,

    "agg_hll_merge" ->
      """SELECT lang, count(DISTINCT doc_id) AS n_exact,
        |  1 AS whole_within_5pct, 1 AS merged_within_5pct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "sink_custom_v2" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sink_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id % 2 = 0 GROUP BY event_type
        |ORDER BY version, event_type""".stripMargin,

    "source_custom_v2" ->
      """SELECT i AS doc_id,
        |  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |       ELSE 'fr' END AS lang,
        |  array_to_string(list_transform(range(0, 40),
        |    j -> substr(md5(i || ':' || j), 1, 6)), ' ') AS text
        |FROM (SELECT unnest(generate_series(100, 199)) AS i)
        |ORDER BY doc_id""".stripMargin,

    "sink_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE user_id % 4 < 3 GROUP BY 1, 2
        |), v2 AS (
        |  SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events
        |  WHERE user_id % 4 > 0 AND (user_id % 4 != 2 OR value < 50)
        |  GROUP BY 1, 2)
        |SELECT coalesce(v1.event_type, v2.event_type) AS event_type,
        |  coalesce(v1.bucket, v2.bucket) AS bucket,
        |  CASE WHEN v1.n IS NULL THEN 'added'
        |       WHEN v2.n IS NULL THEN 'removed'
        |       WHEN v1.n = v2.n AND v1.cents = v2.cents THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  CAST(coalesce(v2.n, 0) - coalesce(v1.n, 0) AS BIGINT) AS delta_n,
        |  CAST(coalesce(v2.cents, 0) - coalesce(v1.cents, 0) AS BIGINT) AS delta_cents
        |FROM v1 FULL OUTER JOIN v2
        |  ON v1.event_type = v2.event_type AND v1.bucket = v2.bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "sink_compact_vacuum" ->
      """SELECT CAST(1 AS BIGINT) AS n_versions, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM (SELECT event_type,
        |        CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |      FROM events GROUP BY event_type)""".stripMargin,

    "meta_catalog_describe" ->
      """SELECT 'nation' AS tbl,
        |  CAST((SELECT count(*) FROM (DESCRIBE nation)) AS BIGINT) AS n_cols,
        |  (SELECT count(*) FROM nation) AS n_rows
        |UNION ALL
        |SELECT 'nation_evolved',
        |  CAST((SELECT count(*) FROM (DESCRIBE nation)) + 1 AS BIGINT),
        |  (SELECT count(*) FROM nation)
        |UNION ALL
        |SELECT 'region',
        |  CAST((SELECT count(*) FROM (DESCRIBE region)) AS BIGINT),
        |  (SELECT count(*) FROM region)
        |UNION ALL
        |SELECT 'supplier',
        |  CAST((SELECT count(*) FROM (DESCRIBE supplier)) AS BIGINT),
        |  (SELECT count(*) FROM supplier)
        |ORDER BY tbl""".stripMargin,

    "join_skew_aqe" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1
        |             ELSE l_orderkey END AS k, l_quantity FROM lineitem) li
        |JOIN orders ON li.k = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_bitmap_distinct" ->
      """WITH w AS (
        |  SELECT event_type, user_id // 62 AS wd,
        |         bit_or(1::BIGINT << (user_id % 62)::INT) AS bits
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct,
        |       CAST(count(*) AS BIGINT) AS n_words
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_bloom_prune" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_cms_freq" ->
      """SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n_exact,
        |  1 AS never_under, 1 AS within_bound
        |FROM lineitem GROUP BY 1
        |ORDER BY n_exact DESC, pk ASC LIMIT 25""".stripMargin,

    "join_range_bucketed" ->
      """SELECT s.event_id AS s_event_id, count(*) AS n_in_window
        |FROM events s JOIN events e
        |  ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 1 HOUR
        |WHERE s.event_type = 'signup'
        |GROUP BY s.event_id ORDER BY s_event_id""".stripMargin,

    "source_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(CAST(o_orderdate AS DATE)) AS first_date,
        |  max(CAST(o_orderdate AS DATE)) AS last_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "source_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "source_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "sink_partitioned_prune" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY month ORDER BY month""".stripMargin,

    "source_text_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "sink_dynamic_overwrite" ->
      """WITH o AS (SELECT *, CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mx AS (SELECT max(yr) AS m FROM o)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN yr = (SELECT m FROM mx) THEN cents * 2
        |                ELSE cents END) AS BIGINT) AS sum_cents
        |FROM o GROUP BY yr ORDER BY yr""".stripMargin,

    "join_aqe_bhj_switch" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 500 = 0""".stripMargin,

    "join_shuffle_hash_hint" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "join_cbo_reorder" ->
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "sink_bloom_skip" ->
      """SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS ck,
        |  CAST(floor(o_totalprice*100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "join_dpp_prune" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus IN (
        |  SELECT DISTINCT o_orderstatus FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |GROUP BY month ORDER BY month""".stripMargin,

    "sink_zorder" -> {
      val zSql = (0 until 8).flatMap { i =>
        Seq(s"(((o_custkey % 256 >> $i) & 1) << ${2 * i})",
          s"(((o_orderkey % 256 >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""SELECT CAST(zval // 4096 AS INT) AS zbucket, count(*) AS n,
         |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
         |  min(o_orderkey) AS min_ord, max(o_orderkey) AS max_ord
         |FROM (SELECT o_orderkey, o_custkey, CAST($zSql AS BIGINT) AS zval
         |      FROM orders)
         |GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },

    "etl_compact_files" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "etl_schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0
        |    THEN CAST(floor(o_totalprice*100) AS BIGINT) END) AS BIGINT) AS sum_cents_v1,
        |  CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_with_prio
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "join_skew_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_distinct_rewrite_rule" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  CAST(1 AS INT) AS within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stats_equi_depth_hist" ->
      """WITH x AS (
        |  SELECT CAST(floor(l_extendedprice*100) AS BIGINT) AS cents,
        |    row_number() OVER (ORDER BY floor(l_extendedprice*100),
        |                       l_orderkey, l_linenumber) - 1 AS r
        |  FROM lineitem),
        |t AS (SELECT count(*) AS n FROM x)
        |SELECT CAST((r * 16) // (SELECT n FROM t) AS INT) AS bucket,
        |  count(*) AS n_rows, CAST(min(cents) AS BIGINT) AS lo_cents,
        |  CAST(max(cents) AS BIGINT) AS hi_cents
        |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,

    "agg_aqe_coalesce" ->
      """SELECT user_id % 64 AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin,

    "agg_multi_distinct" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "agg_corr_spearman" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_quantity) AS BIGINT) AS x,
        |    CAST(floor(l_discount*100) AS BIGINT) AS y
        |  FROM lineitem WHERE l_orderkey % 100 = 0),
        |r AS (
        |  SELECT g,
        |    CAST(rank() OVER (PARTITION BY g ORDER BY x) AS BIGINT) * 2
        |      + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
        |    CAST(rank() OVER (PARTITION BY g ORDER BY y) AS BIGINT) * 2
        |      + count(*) OVER (PARTITION BY g, y) - 1 AS ry
        |  FROM base)
        |SELECT g AS l_returnflag, count(*) AS n,
        |  CAST(count(*)*sum(rx*ry) - sum(rx)*sum(ry) AS BIGINT) AS rho_num,
        |  CAST(count(*)*sum(rx*rx) - sum(rx)*sum(rx) AS BIGINT) AS den_x,
        |  CAST(count(*)*sum(ry*ry) - sum(ry)*sum(ry) AS BIGINT) AS den_y
        |FROM r GROUP BY g ORDER BY g""".stripMargin,

    "agg_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag, cents, CAST(sum(wt) AS BIGINT) AS w
        |  FROM (SELECT l_returnflag,
        |          CAST(floor(l_extendedprice*100) AS BIGINT) AS cents,
        |          CAST(floor(l_quantity) AS BIGINT) AS wt FROM lineitem)
        |  GROUP BY l_returnflag, cents),
        |c AS (
        |  SELECT l_returnflag, cents,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM g)
        |SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS wmedian_cents,
        |  CAST(min(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cum*2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_gini_diversity" ->
      """SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_langs,
        |  CAST(sum(c)*sum(c) - sum(c*c) AS BIGINT) AS gini_num,
        |  CAST(sum(c)*sum(c) AS BIGINT) AS gini_den
        |FROM (SELECT source, lang, count(*) AS c FROM documents
        |      GROUP BY source, lang)
        |GROUP BY source ORDER BY source""".stripMargin,

    "agg_moments" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(q) AS BIGINT) AS sum_q, CAST(sum(q*q) AS BIGINT) AS sum_q2,
        |  CAST(count(*)*sum(q*q) - sum(q)*sum(q) AS BIGINT) AS var_num_q,
        |  CAST(count(*)*sum(q*d) - sum(q)*sum(d) AS BIGINT) AS cov_num_qd
        |FROM (SELECT l_returnflag,
        |        CAST(floor(l_quantity) AS BIGINT) AS q,
        |        CAST(floor(l_discount*100) AS BIGINT) AS d
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "window_distinct_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(first_flag) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS n_prio
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CASE WHEN row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |          ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END AS first_flag
        |      FROM orders)
        |ORDER BY o_custkey, o_orderkey""".stripMargin
  )
}
