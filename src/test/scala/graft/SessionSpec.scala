package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ApproxDistinctRewrite, FoldIdempotent, LshPrefilter, TopKPerKeyStrategy}

/** What a session carries: the recipe session holds graft's rules,
  * strategy and SQL functions before any key runs, and no key changes
  * them; a session built elsewhere gets them through `SparkEntry.queries`
  * and answers the same. Also the key selection the mains share. */
class SessionSpec extends AnyFunSuite {
  import TestSpark._

  private val functions = Seq("vector_dot", "vector_cosine", "sorted_intersect_size",
    "sorted_intersect_prune", "sorted_intersect_first_size")

  private def carried(s: SparkSession) = (
    s.experimental.extraOptimizations.toList,
    s.experimental.extraStrategies.toList,
    functions.filter(f => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(f))),
    Seq(LshPrefilter.ConfKey, ApproxDistinctRewrite.ConfKey).map(s.conf.getOption))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("the recipe session carries every declared rule, strategy and function, and keys leave them as they are") {
    val before = carried(spark)
    assert(before._1 == List(FoldIdempotent, LshPrefilter, ApproxDistinctRewrite))
    assert(before._2 == List(TopKPerKeyStrategy))
    assert(before._3 == functions)
    Seq("agg_distinct_rewrite_rule", "vec_threshold_pairs", "topk_per_group_exec")
      .foreach(k => SparkEntry.queries(k)(spark, sf001).collect())
    assert(carried(spark) == before)
  }

  test("a bare session runs the declared-function keys through SparkEntry.queries with the recipe session's rows") {
    val bare = spark.newSession()
    assert(!bare.catalog.functionExists("sorted_intersect_prune"))
    Seq("vec_threshold_pairs", "text_jaccard_indexed", "topk_per_group_exec").foreach { k =>
      val want = rows(SparkEntry.queries(k)(spark, sf001))
      assert(want.nonEmpty, k)
      assert(rows(SparkEntry.queries(k)(bare, sf001)) == want, k)
    }
  }

  test("key selection keeps the named keys in order and fails naming every unknown one") {
    assert(SparkEntry.select(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some("topk_per_group_exec,join_broadcast")).map(_._1) ==
      Seq("topk_per_group_exec", "join_broadcast"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("join_broadcast,no_such_key,join_brodcast")))
    assert(e.getMessage.contains("'no_such_key'") && e.getMessage.contains("'join_brodcast'"),
      e.getMessage)
    assert(!e.getMessage.contains("'join_broadcast'"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some("")))
  }
}
