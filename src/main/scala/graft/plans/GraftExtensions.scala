package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.{SortedIntersectFirstSize, SortedIntersectPrune, SortedIntersectSize, VectorCosine, VectorDot}

/** SparkSessionExtensions entry point (SURVEY §4.2) for a user's
  * `spark.sql.extensions=graft.plans.GraftExtensions`: injects the
  * companion's rules and strategy at session build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}

/** What a graft session carries, declared once: the optimizer rules, the
  * planner strategy and the SQL functions. The two opt-in rules stay
  * inert until their conf flag is set ([[LshPrefilter.ConfKey]],
  * [[ApproxDistinctRewrite.ConfKey]]), so carrying them changes no
  * answer. */
object GraftExtensions {
  val rules: Seq[Rule[LogicalPlan]] = Seq(FoldIdempotent, LshPrefilter, ApproxDistinctRewrite)

  val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy)

  /** Each SQL function's name and builder: the codegen'd Catalyst
    * expressions of `graft.functions`, callable from SQL and `expr` —
    * the Spark 4 path for a raw Catalyst Expression, which the Column
    * constructor no longer takes. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vector_dot" -> (a => VectorDot(a(0), a(1))),
    "vector_cosine" -> (a => VectorCosine(a(0), a(1))),
    "sorted_intersect_size" -> (a => SortedIntersectSize(a(0), a(1))),
    "sorted_intersect_prune" -> (a => SortedIntersectPrune(a(0), a(1), a(2), a(3))),
    "sorted_intersect_first_size" -> (a => SortedIntersectFirstSize(a(0), a(1))))

  /** Appends the declared rules and strategy the session lacks to its
    * `experimental` lists — the end-of-optimizer user batch, where a
    * rule cannot move the plan shapes the operator batch settles — and
    * registers each missing function. Idempotent: an installed session
    * stays as it is. `newSession()` starts without any of them. */
  def install(spark: SparkSession): Unit = spark.synchronized {
    val x = spark.experimental
    x.extraOptimizations ++= rules.filterNot(x.extraOptimizations.contains)
    x.extraStrategies ++= strategies.filterNot(x.extraStrategies.contains)
    val registry = spark.sessionState.functionRegistry
    for ((name, build) <- functions if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
  }
}
