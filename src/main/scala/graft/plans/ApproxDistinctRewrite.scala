package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Opt-in APPROXIMATE-QUERY-PROCESSING rewrite (the third optimizer rule,
  * after FoldIdempotent and LshPrefilter): a user's EXACT
  * `count(DISTINCT x)` becomes a HyperLogLog++ sketch count (rsd 5%)
  * when `spark.graft.approx.distinct=true`.
  *
  * Why an engine gates this behind a flag: exact distinct forces either a
  * two-level shuffle (dedup then count) or, with several distinct clauses,
  * an Expand that multiplies shuffle input per clause
  * (`agg_multi_distinct`'s documented cost). The sketch is one map-side-
  * combinable pass with a few-KB buffer per group — at 100 TB the
  * difference between a report that runs and one that spills — at the
  * price of a bounded relative error, which only the USER can accept;
  * hence opt-in, exactly like [[LshPrefilter]]'s recall trade.
  *
  * Scope guards: only single-argument `Count(x)` with isDistinct and no
  * FILTER clause is touched (composite distinct counts and filtered aggs
  * keep exact semantics); the rewrite clears isDistinct, so it is
  * fixpoint-safe. Injection paths: as [[FoldIdempotent]]'s — declared
  * once in [[GraftExtensions]], carried by every installed session in
  * the end-of-optimizer user batch — so callers must set the flag, run the
  * query to materialization, and restore the flag, because a leaked
  * `true` would silently approximate every later distinct count in the
  * session ([[graft.ops.Scale.aggDistinctRewriteRule]] shows the
  * set/localCheckpoint/restore discipline). */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.approx.distinct"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // lenient parse (see LshPrefilter): toBoolean throws on "1"/"yes";
    // FlagParse warns once on a misspelled opt-in (ADVICE r16)
    if (!FlagParse.enabled(ConfKey, logWarning(_)))
      return plan
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(child)), _, true, None, _) =>
            ae.copy(
              aggregateFunction = HyperLogLogPlusPlus(child, 0.05, 0, 0),
              isDistinct = false)
        }
    }
  }
}
