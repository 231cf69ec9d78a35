package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** RULE-2 — a sort over a local relation folds at plan time. Spark plans
  * `localFrame.orderBy(...)` as a range exchange (a sampling job, then the
  * shuffle) over rows the driver already holds; folded, `collect()` runs no
  * job. Fires on non-streaming relations (also under the projection column
  * pruning inserts) with deterministic orders, sorting by an interpreted
  * ordering bound to the relation's output — Spark's own order. */
object LocalSortFold extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(order, _, child, _) if order.forall(_.deterministic) =>
      ConvertToLocalRelation(child) match {
        case r @ LocalRelation(output, data, false, _) =>
          r.copy(data = data.sorted(new InterpretedOrdering(order, output)))
        case _ => s
      }
  }
}
