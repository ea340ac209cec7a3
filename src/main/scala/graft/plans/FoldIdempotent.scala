package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Abs, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** SURVEY §4.2's demonstration optimizer rule: fold nested applications of
  * idempotent scalar functions (`upper(upper(x))` → `upper(x)`, same for
  * lower/abs). A real—if small—optimization: conformance pipelines built by
  * composing generic cleansing stages routinely stack the same normalizer
  * twice, and each redundant call is per-row work inside codegen.
  *
  * Injection paths: every session [[GraftExtensions.install]] runs on
  * (each in-repo session, and each `SparkEntry.queries` key's) carries
  * it in the end-of-optimizer user batch; a user's
  * `spark.sql.extensions=graft.plans.GraftExtensions` injects it at
  * session build.
  */
object FoldIdempotent extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Upper(inner @ Upper(_))       => inner
      case Lower(inner @ Lower(_))       => inner
      // fold only when the ANSI failOnError flags AGREE: Abs(Int.MinValue)
      // wraps under failOnError=false but throws under true, so dropping
      // the outer flag would change overflow behavior (round-16b review)
      case Abs(inner @ Abs(_, f1), f2) if f1 == f2 => inner
    }
}
