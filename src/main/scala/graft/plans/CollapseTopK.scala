package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rules over graft's own logical operator (the
  * `injectOptimizerRule` extension tier; the other two tiers —
  * function injection and planner strategy — are exercised by
  * [[graft.functions.GraftExtensions]] and [[TopKPerKeyStrategy]]).
  *
  * Both rewrites are semantics-preserving by construction:
  *  - top-k of top-k on the same (keys, score, tie) collapses to one
  *    operator with min(k₁, k₂) — same argument as combining adjacent
  *    Limits;
  *  - k ≤ 0 can emit no rows → replace the subtree with an empty
  *    relation (lets downstream pruning remove the whole branch).
  */
object CollapseTopK extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case TopKPerKeyPlan(k1, s1, t1, n1,
           TopKPerKeyPlan(k2, s2, t2, n2, child))
        if k1 == k2 && s1.semanticEquals(s2) && t1.semanticEquals(t2) =>
      TopKPerKeyPlan(k1, s1, t1, math.min(n1, n2), child)
    case p @ TopKPerKeyPlan(_, _, _, k, _) if k <= 0 =>
      LocalRelation(p.output)
  }
}
