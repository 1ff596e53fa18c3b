package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Make the silent single-task fallback LOUD.
  *
  * Every window family declines shapes it cannot prove correct
  * (order-sensitive collectors like collect_list, imperative
  * aggregates outside the sketch whitelist, ...), and stock Spark
  * then plans the global Window as a
  * SinglePartition WindowExec — the whole table through one task. At
  * test scale that is invisible; at 100× it is a query that mysteriously
  * never finishes, with nothing in the logs saying why. This post-
  * planner rule changes nothing about the plan: it WARNS (once per
  * distinct expression list per session) and counts whenever a
  * partition-less Window node survived planning while the rescues were
  * enabled, so the operator who owns the cluster sees WHICH window shape
  * fell through and can rewrite it — or file the missing rescue.
  *
  * Scope: empty-partition WindowExec only. Partitioned WindowExec is
  * only a problem under key skew, which is a data property no plan-time
  * check can see — and warning on every partitioned window would train
  * operators to ignore the log line that matters. Suppressed entirely
  * when [[GlobalWindowStrategy.ConfKey]] is false (the rescues were
  * opted out; single-task plans are then the user's explicit choice).
  *
  * `fallbacks` is the session-independent counter a test (or a metrics
  * scraper reading the log) can assert against.
  */
object GlobalWindowFallback extends Rule[SparkPlan] {

  /** Total partition-less WindowExec nodes planned while rescues were
    * on, across all sessions in this JVM. */
  val fallbacks = new AtomicLong

  /** Cap on remembered shapes: on a long-lived cluster an unbounded
    * per-distinct-expression-list set is a slow leak (generated SQL can
    * mint endless distinct shapes). Past the cap, new shapes still
    * COUNT in `fallbacks` but log at most once more (the "overflow"
    * message) — the first 4096 distinct shapes cover any human-authored
    * workload, and the counter stays exact for scrapers. */
  private[plans] val MaxWarnedShapes = 4096

  private val warned =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  override def apply(plan: SparkPlan): SparkPlan = {
    if (GlobalWindowStrategy.enabled) {
      plan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          fallbacks.incrementAndGet()
          val shape =
            if (warned.size < MaxWarnedShapes)
              w.windowExpression.map(_.sql).mkString(", ")
            else "(warning cap reached — further distinct shapes counted, not logged)"
          if (warned.add(shape)) {
            logWarning(
              s"global window [$shape] planned as a SinglePartition " +
                "WindowExec: every row funnels through ONE task, which will " +
                "not finish at scale. No graft window family claimed this " +
                "shape — rewrite the frame (see graft.plans.GlobalWindowStrategy " +
                "for the supported families) or expect a single-task " +
                "stage.")
          }
        case _ => ()
      }
    }
    plan
  }
}
