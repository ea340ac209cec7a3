package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 operators: plan-shape assertions (bucketed join shuffle-free,
  * partition pruning reaches the scan) and semantic invariants (salted ≡
  * plain join, component labels consistent, chunk coverage exact). */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("join_bucketed: no shuffle exchange below the join") {
    val df = ops.Scale.joinBucketed(spark, sf001)
    df.count() // materialize through AQE so the final plan exists
    val plan = df.queryExecution.executedPlan.toString
    // the only exchanges allowed are AFTER the join (the groupBy/orderBy);
    // assert the join node itself has scans, not shuffles, as children
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
    val below = plan.substring(joinIdx)
    assert(!below.contains("ShuffleExchange") && !below.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs:\n$plan")
    assert(below.contains("SelectedBucketsCount"), s"expected bucketed scans:\n$plan")
  }

  test("sink_partitioned_prune: partition filter reaches the scan") {
    val df = ops.Scale.sinkPartitionedPrune(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected a partition filter on o_orderstatus:\n$plan")
  }

  test("join_skew_salted equals the plain inner join aggregate") {
    val salted = ops.Scale.joinSkewSalted(spark, sf001).collect().toSeq
    val li = graft.util.Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qf"))
    val o = graft.util.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("qf")).as("sum_q"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(salted == plain)
  }

  test("dedup_cc_components: endpoints of every near-dup pair share a component") {
    val comp = ops.Pipeline.dedupCcComponents(spark, sf001)
      .select(col("doc_id"), col("component"))
    val pairs = ops.Text.textJaccardDup(spark, sf001)
      .select(col("doc_a"), col("doc_b"))
    val broken = pairs
      .join(comp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("component", "ca"), "doc_a")
      .join(comp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("component", "cb"), "doc_b")
      .where(col("ca") =!= col("cb")).count()
    assert(broken == 0)
    // component id is the min doc_id of its members
    val badRoot = comp.groupBy(col("component")).agg(min(col("doc_id")).as("m"))
      .where(col("component") =!= col("m")).count()
    assert(badRoot == 0)
  }

  test("etl_chunk_tokens: chunks tile each doc exactly (40-token window, 30 stride)") {
    val rows = ops.Pipeline.etlChunkTokens(spark, sf001)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("k"), sum(col("n_tok")).as("s"),
        max(col("n_tok")).as("mx"))
      .collect()
    val n = graft.util.Tables.documents(spark, sf001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val words = n(r.getLong(0)).toLong
      val k = r.getAs[Number]("k").longValue()
      assert(k == (words - 1) / 30 + 1, s"doc ${r.getLong(0)}: $k chunks for $words words")
      assert(r.getAs[Number]("mx").longValue() <= 40)
      // total tokens across chunks: each chunk i spans min(40, n - 30i)
      val expected = (0L until k).map(i => math.min(40, words - i * 30)).sum
      assert(r.getAs[Number]("s").longValue() == expected)
    }
  }

  test("etl_pack_sequences: bins partition each source's doc stream") {
    val bins = ops.Pipeline.etlPackSequences(spark, sf001).collect()
    val bySource = bins.groupBy(_.getString(0))
    bySource.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      // bin ids are the start-offset // 512 of a monotone cumsum: strictly increasing
      assert(sorted.map(_.getLong(1)).distinct.length == sorted.length)
      // doc ranges don't overlap across consecutive bins
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
    }
  }

  test("zipWithIndex assigns 1M contiguous ids without a global sort") {
    // 1M rows in REVERSED key order across many partitions — the id must
    // equal (key's rank under ascending order), i.e. key itself here.
    val n = 1000000L
    val df = spark.range(n).select((lit(n - 1) - col("id")).as("k"),
      (col("id") % 97).as("payload"))
    val out = graft.util.Ids.zipWithIndex(df, "seq_id", col("k"))
    assert(!out.queryExecution.executedPlan.toString.contains("SinglePartition"))
    val bad = out.where(col("seq_id") =!= col("k")).count()
    assert(bad == 0)
    assert(out.count() == n)
  }

  test("stream_foreach_batch equals batch aggregate") {
    val streamed = ops.Streaming.streamForeachBatch(spark, sf001).collect().toSeq
    val batch = graft.util.Tables.events(spark, sf001)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type")).collect().toSeq
    assert(streamed == batch)
  }

  test("sink_dynamic_overwrite leaves exactly one data file in every yr= directory") {
    ops.Scale.sinkDynamicOverwrite(spark, sf01).collect()
    val years = new java.io.File(graft.util.Scratch.dir("dynover", sf01)).listFiles()
      .filter(_.getName.startsWith("yr="))
    assert(years.nonEmpty)
    years.foreach { y =>
      val data = y.listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(data.length == 1, s"${y.getName}: ${data.mkString(", ")}")
    }
  }
}
