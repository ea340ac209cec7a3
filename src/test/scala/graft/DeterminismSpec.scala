package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 layer 3 — the determinism regression suite: decimal aggregates
  * must be invariant under partitioning (rule D1's whole point), dedup must
  * be idempotent, the custom Expression must rank identically to its HOF
  * twin, and the HLL sketch must sit within its error bound. */
class DeterminismSpec extends AnyFunSuite {
  import TestSpark._

  private def collectWith(partitions: Int, name: String): Seq[Row] = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      SparkEntry.queries(name)(spark, sf001).collect().toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  for (name <- Seq("agg_pricing_summary", "join_broadcast", "etl_sessionize",
      "agg_udaf_weighted_avg")) {
    test(s"$name is invariant under shuffle partitioning (3 vs 7)") {
      assert(collectWith(3, name) == collectWith(7, name))
    }
  }

  test("etl_dedup_exact is idempotent: output keys are unique") {
    val df = SparkEntry.queries("etl_dedup_exact")(spark, sf001)
    assert(df.count() == df.select("event_id").distinct().count())
  }

  test("expr_custom_catalyst (VectorDot) ranks identically to the HOF twin") {
    val a = SparkEntry.queries("vec_knn_cosine")(spark, sf001).collect().toSeq
    val b = SparkEntry.queries("expr_custom_catalyst")(spark, sf001).collect().toSeq
    assert(a == b)
  }

  test("approx_count_distinct stays within 3*rsd of exact") {
    import org.apache.spark.sql.functions._
    val ev = graft.util.Tables.events(spark, sf001)
    val rows = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .collect()
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("VectorDot codegen and interpreted paths agree exactly") {
    val old = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = SparkEntry.queries("dedup_embedding_cosine")(spark, sf001).collect().toSeq
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = SparkEntry.queries("dedup_embedding_cosine")(spark, sf001).collect().toSeq
      assert(gen == interp)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", old)
  }

  test("SortedIntersectSize equals size(array_intersect) on sorted sets") {
    import org.apache.spark.sql.functions._
    val df = spark.range(500).selectExpr(
      "sort_array(array_distinct(transform(sequence(0, int(id % 17 + 3)), x -> int(pmod(x * (id + 7), 50))))) AS a",
      "sort_array(array_distinct(transform(sequence(0, int(id % 13 + 2)), x -> int(pmod(x * (id + 3), 50))))) AS b")
    val bad = df.where(expr("sorted_intersect_size(a, b)") =!=
      size(array_intersect(col("a"), col("b")))).count()
    assert(bad == 0)
  }

  test("SortedIntersectSize codegen and interpreted paths agree exactly") {
    // also covers SortedIntersectFirstSize: the indexed key runs it inside
    // whole-stage codegen and interpreted when codegen is off
    def runIdx() = SparkEntry.queries("text_jaccard_indexed")(spark, sf001)
      .collect().toSeq
    val oldIdx = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val genI = runIdx()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(genI == runIdx())
    } finally spark.conf.set("spark.sql.codegen.wholeStage", oldIdx)

    // the un-memoized kernel: the registered key serves a localCheckpointed
    // memo, which would make the two runs trivially identical
    def run() = graft.ops.Text.jaccardPairsFresh(spark, sf001)
      .orderBy(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b")).collect().toSeq
    val old = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      assert(gen == interp)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", old)
  }

  test("SortedIntersectFirstSize and SortedIntersectPrune codegen and interpreted paths agree on the distributed chain") {
    // the keys above read the driver-built sets at fixture scale; this
    // session's sets take the forced distributed build
    val s = distributedChain(sf001)
    def run() = (SparkEntry.queries("text_jaccard_indexed")(s, sf001).collect().toSeq,
      graft.ops.Text.jaccardPairsFresh(s, sf001)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b")).collect().toSeq)
    try {
      s.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      assert(gen._1.nonEmpty && gen._2.nonEmpty)
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(gen == run())
    } finally s.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("approx_percentile lands within the p40..p60 band of exact order stats") {
    import org.apache.spark.sql.functions._
    // the key's OUTPUT is now rank-bound flags (oracle-checkable); the raw
    // sketch value is asserted here instead, straight off the aggregate.
    val rows = graft.util.Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50")).collect()
    val byType = graft.util.Tables.events(spark, sf001)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    rows.foreach { r =>
      val vs = byType(r.getString(0))
      val p50 = r.getDouble(1)
      val lo = vs((vs.length * 0.4).toInt); val hi = vs((vs.length * 0.6).toInt)
      assert(p50 >= lo && p50 <= hi, s"${r.getString(0)}: $p50 outside [$lo,$hi]")
    }
    // the registered key's flags must all be 1 at both tiers
    for (sf <- Seq(sf001, sf01)) {
      val flags = SparkEntry.queries("agg_approx_percentile")(spark, sf).collect()
      assert(flags.nonEmpty)
      flags.foreach { r =>
        assert(r.getAs[Int]("p50_rank_ok") == 1 && r.getAs[Int]("p90_rank_ok") == 1,
          s"$sf ${r.toString}")
      }
    }
  }

  test("minhash LSH candidates contain every true near-dup pair (recall)") {
    // True pairs from the exact jaccard query (same-lang); LSH candidates
    // are cross-lang capable, so containment is the right direction.
    val exact = SparkEntry.queries("text_jaccard_dup")(spark, sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001)
      .where(org.apache.spark.sql.functions.col("is_dup") === 1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands),
      s"missed pairs: ${exact -- cands}")
  }
}
