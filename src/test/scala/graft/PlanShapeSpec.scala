package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan obligations from SURVEY §4.1: pushdown, pruning, broadcast
  * joins, top-k. These guard the 100 TB posture — a regression here is a
  * performance bug even while results stay correct. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("scan_filter_pushdown pushes predicates into the parquet scan") {
    val p = planOf("scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_returnflag"), p)
  }

  test("scan_project prunes columns at the reader") {
    val p = planOf("scan_project")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_discount"), "unprojected column leaked into scan")
  }

  test("join_broadcast plans BroadcastHashJoin for the dims") {
    assert(planOf("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("sort_multi_nulls plans TakeOrderedAndProject (no full sort)") {
    assert(planOf("sort_multi_nulls").contains("TakeOrderedAndProject"))
  }

  test("join_semi and join_anti stay semi/anti joins") {
    assert(planOf("join_semi").contains("LeftSemi"))
    assert(planOf("join_anti").contains("LeftAnti"))
  }

  test("vec_knn_cosine broadcasts the probe side") {
    assert(planOf("vec_knn_cosine").contains("Broadcast"))
  }

  test("text_segment_dedup never forms doc pairs and shuffles at most twice") {
    val p = planOf("text_segment_dedup")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("Join"), "span dedup must be shuffle-grouping, not a join")
    // segment-keyed window + doc groupBy + presentation sort = 3 exchanges max
    assert("Exchange".r.findAllIn(p).length <= 3, p.take(800))
  }

  test("vec_kmeans_iter assignment is a shuffle-free projection (no join)") {
    val p = planOf("vec_kmeans_iter")
    assert(!p.contains("Join"), "codebook assignment must be inlined literals")
    // one agg exchange + presentation sort only
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(800))
  }

  test("etl_mix_sources is one aggregation over a pure row projection") {
    val p = planOf("etl_mix_sources")
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(800))
  }

  test("window_gaps_islands reuses one user partitioning across its steps") {
    val p = planOf("window_gaps_islands")
    // distinct-days agg, two windows, islands agg, presentation sort — the
    // user_id hash partitioning must be planned once, not per step
    assert("hashpartitioning".r.findAllIn(p).length <= 2, p.take(1200))
  }

  test("ApproxDistinctRewrite swaps count(distinct) for HLL++ only under the flag") {
    import graft.plans.ApproxDistinctRewrite
    def q = graft.util.Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("user_id")).as("u"))
    spark.conf.set(ApproxDistinctRewrite.ConfKey, "true")
    try {
      val p = q.queryExecution.optimizedPlan.toString.toLowerCase
      // HyperLogLogPlusPlus pretty-prints as approx_count_distinct
      assert(p.contains("approx_count_distinct("), p.take(600))
      assert(!p.contains("count(distinct"), p.take(600))
    } finally spark.conf.set(ApproxDistinctRewrite.ConfKey, "false")
    // flag restored → exact plan again, and the key's own run leaks nothing
    val off = q.queryExecution.optimizedPlan.toString.toLowerCase
    assert(off.contains("count(distinct"), off.take(600))
    assert(!off.contains("approx_count_distinct("), off.take(600))
    SparkEntry.queries("agg_distinct_rewrite_rule")(spark, sf001).collect()
    assert(spark.conf.get(ApproxDistinctRewrite.ConfKey) == "false")
  }

  test("agg_aqe_coalesce: AQE folds the 32-wide shuffle after execution") {
    val df = SparkEntry.queries("agg_aqe_coalesce")(spark, sf001)
    df.collect() // AQE re-plans at runtime; assert on the EXECUTED plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead"), p.take(800))
    assert(p.contains("coalesced"), p.take(800))
  }

  test("join_star_multiway broadcasts the dims, never a nested loop") {
    val p = planOf("join_star_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("agg_multi_distinct plans through Expand (the multi-distinct shape)") {
    val p = planOf("agg_multi_distinct")
    assert(p.contains("Expand"), p.take(800))
  }

  test("topk_per_group_exec plans the custom exec, no Window operator") {
    val df = SparkEntry.queries("topk_per_group_exec")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(800))
    assert(!plan.contains("Window"), s"rank window crept back in:\n${plan.take(800)}")
    // and it agrees with the row_number formulation row for row
    val viaWindow = SparkEntry.queries("topk_per_group")(spark, sf001)
      .select(col("o_custkey"), col("o_orderkey"), col("price"))
      .collect().map(_.toSeq).toSet
    val viaExec = df.collect().map(_.toSeq).toSet
    assert(viaExec == viaWindow)
  }

  test("TopKPerKeyExec elides exchange+sort on pre-clustered sorted input") {
    // property-based planning: input already hash-distributed on the key
    // and sorted (key, ord) ⇒ EnsureRequirements must insert NOTHING
    val base = graft.util.Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice").as("price"))
      .repartition(col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"), col("price").desc, col("o_orderkey"))
    val topk = graft.api.Graft.topKPerKey(base, Seq("o_custkey"),
      Seq(("price", true), ("o_orderkey", false)), 3)
    val plan = topk.queryExecution.executedPlan.toString
    def count(marker: String) = marker.r.findAllIn(plan).size
    // exactly the user's own repartition exchange and sort — nothing added
    assert(plan.contains("TopKPerKey"), plan.take(800))
    assert(count("Exchange") == 1 && count("\\bSort\\b") == 1,
      s"planner re-inserted exchange/sort above the prepared child:\n$plan")
  }

  test("whole-stage codegen covers the pricing summary") {
    // AQE hides codegen wrappers in the plan string; the codegen explain
    // mode reports the fused subtrees directly.
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sf001)
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(s.contains("WholeStageCodegen"), s.take(500))
  }
}
