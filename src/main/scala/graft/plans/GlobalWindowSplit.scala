package graft.plans

import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Split MIXED-family Window nodes so every rescuable frame family
  * reaches its exec.
  *
  * The analyzer groups window expressions by (partitionSpec, orderSpec)
  * — NOT by frame — so one `SELECT` mixing a running total, a remaining
  * total and a rank over the same ORDER BY lands in a SINGLE Window
  * node. [[GlobalWindowStrategy]] plans a node as a family's exec only
  * when that family claims EVERY expression in it, so a mixed node
  * would fall back to the single-task built-in even though each family
  * alone is rescuable — the trap this engine exists to close, reopened
  * by mere adjacency.
  *
  * This rule rewrites a Window node whose expressions span ≥2 families
  * into a STACK of Window nodes, one per family, wrapped in a Project
  * restoring the original column order. Window expressions never
  * reference each other inside one node (SQL forbids nested window
  * functions), so the split is always semantics-preserving; attribute
  * ids are untouched. Each homogeneous node then plans through its own
  * family — and an expression no family claims (e.g. collect_list over
  * a running frame) keeps the built-in WindowExec for JUST that group
  * of a global node, never dragging the rescuable ones down with it.
  *
  * An expression belongs to the first family of
  * [[GlobalWindowStrategy.families]] that claims it — the order the
  * planner tries them in — so running and suffix frames (opposite
  * exchange directions) are separate groups. Cost: stacked Window nodes
  * share one range exchange when their required distribution matches
  * (the common same-ORDER-BY case); a suffix group adds the reversed
  * exchange it would need anyway.
  *
  * A PARTITION BY node passes the same guard and size gate as the
  * planner, and is split ONLY when every expression belongs to a
  * family: a partial split would trade the single hash exchange for a
  * hash AND a range exchange with the hot-key wall still standing in
  * the unclaimed group — worse than either extreme.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalWindowSplit extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: logical.Window
        if w.windowExpressions.length > 1 &&
          GlobalWindowStrategy.open(w) && GlobalWindowStrategy.gated(w) => {
      val groups = w.windowExpressions.groupBy(GlobalWindowStrategy.familyOf(w, _))
      if (groups.size < 2 || (w.partitionSpec.nonEmpty && groups.contains(-1))) w
      else {
        // deterministic stack order; -1 (unclaimed) group goes outermost
        val stacked = groups.toSeq.sortBy(-_._1).foldLeft(w.child) {
          case (c, (_, es)) => w.copy(windowExpressions = es, child = c)
        }
        Project(w.output, stacked)
      }
    }
  }
}
