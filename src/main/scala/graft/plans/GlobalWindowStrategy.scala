package graft.plans

import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** One family of window functions with a scale-safe rescue exec. A
  * family claims single window expressions; a Window node plans as the
  * family's exec when the family claims every expression in it. The
  * guard every family shares lives in [[GlobalWindowStrategy]]. */
private[plans] trait WindowFamily {
  /** Node-level part of the claim: by default the frame needs an ORDER BY. */
  def claimsNode(w: logical.Window): Boolean = w.orderSpec.nonEmpty
  /** Claims `e` in a node with no PARTITION BY. */
  def claims(e: NamedExpression): Boolean
  /** Claims `e` in a PARTITION BY node. */
  def claimsPartitioned(e: NamedExpression): Boolean = claims(e)
  /** The rescue exec for `w`, every expression of which this family
    * claims; None declines the node. */
  def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan]
}

/** The one planner strategy for the window rescues.
  *
  * A window without PARTITION BY plans in stock Spark as a
  * SinglePartition WindowExec — the whole table through one task — and
  * a PARTITION BY window puts every row of a hot key in one task. Each
  * family in [[families]] replaces that with a range exchange over
  * (partition keys ⧺ order key) and the boundary scan of
  * [[GlobalWindowExec]]: a per-partition edge summary, a driver walk and
  * a per-partition pass (the per-family docs say what each carries).
  * This strategy walks the family table in order and plans a
  * node as the first family that claims all of its expressions;
  * [[GlobalWindowSplit]] cuts mixed nodes along the same table.
  *
  * Opt-out: [[ConfKey]]`=false` restores every built-in window plan,
  * turns the split off and silences [[GlobalWindowFallback]].
  */
object GlobalWindowStrategy extends SparkStrategy {

  /** The one switch for every window rescue (default true). The name
    * keeps the ranking family's, the first rescue. */
  val ConfKey = "spark.graft.globalRowNumber.enabled"

  /** The families in claiming order. Claims overlap — `nth_value(x, 1)`
    * over a prefix frame is both a running first_value and an nth_value
    * — so the order decides plans: the planner takes the first family
    * that claims a whole node, the split the first that claims each
    * expression. */
  private[plans] val families: IndexedSeq[WindowFamily] = IndexedSeq(
    GlobalRowNumberStrategy,
    GlobalOffsetWindowStrategy,
    GlobalRunningAggStrategy.Running,
    GlobalRunningAggStrategy.Suffix,
    GlobalSlidingAggStrategy,
    GlobalConstantAggStrategy,
    GlobalRangeFrameStrategy,
    GlobalNthValueStrategy)

  private[plans] def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  /** The node guard every family shares, before its claims: rescues
    * enabled and deterministic partition keys. */
  private[plans] def open(w: logical.Window): Boolean =
    enabled && w.partitionSpec.forall(_.deterministic)

  /** The size gate, after the claims: global windows always rescue,
    * PARTITION BY windows past [[GlobalWindowGate]]'s threshold. */
  private[plans] def gated(w: logical.Window): Boolean =
    w.partitionSpec.isEmpty || GlobalWindowGate.perKeyWorthwhile(w)

  private def claims(f: WindowFamily, w: logical.Window, e: NamedExpression): Boolean =
    f.claimsNode(w) &&
      (if (w.partitionSpec.isEmpty) f.claims(e) else f.claimsPartitioned(e))

  /** Index in [[families]] of the first family claiming `e` in `w`;
    * -1 when none does. */
  private[plans] def familyOf(w: logical.Window, e: NamedExpression): Int =
    families.indexWhere(claims(_, w, e))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: logical.Window if w.windowExpressions.nonEmpty && open(w) =>
      families.iterator
        .filter(f => w.windowExpressions.forall(claims(f, w, _)) && gated(w))
        .flatMap(_.exec(w, planLater(w.child)))
        .take(1).toList
    case _ => Nil
  }
}
