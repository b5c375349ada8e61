package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expressions.LiveRows

/** Evaluates the in-scan deletion-vector filter
  * ([[graft.expressions.LiveRows]]) AFTER every other conjunct of its
  * `Filter`. The vector's filter sits directly on the scan, and a
  * caller's predicate pushed down onto it is combined BEHIND it
  * (`CombineFilters` keeps the lower condition first), so the probe —
  * and the `_metadata` struct it reads — would run for every scanned
  * row. Moved last, it runs only on the rows the caller's predicate
  * keeps, as the anti-join it replaced did (a predicate is pushed
  * below a left-anti join). Conjunct order never changes a result;
  * the rule is idempotent. Injected through
  * [[graft.expressions.GraftExtensions]]. */
object LiveRowsLast extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if cond.exists(_.isInstanceOf[LiveRows]) =>
      val (dv, rest) = splitConjunctivePredicates(cond)
        .partition(_.isInstanceOf[LiveRows])
      if (dv.isEmpty || rest.isEmpty) f
      else {
        val reordered = (rest ++ dv).reduce(And)
        if (reordered.fastEquals(cond)) f else Filter(reordered, child)
      }
  }
}
