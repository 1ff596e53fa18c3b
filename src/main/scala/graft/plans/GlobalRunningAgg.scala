package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, CurrentRow, Descending, Expression, GenericInternalRow, JoinedRow, NamedExpression, NullsFirst, NullsLast, RangeFrame, SortOrder, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, First, Last}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan

/** Scale-safe planning for naive global RUNNING aggregates.
  *
  * `SUM(x) OVER (ORDER BY ts)` — the canonical cumulative total — and
  * its count/min/max/avg siblings plan as a SinglePartition WindowExec
  * in stock Spark whenever the partition spec is empty: the whole table
  * through one task, the same trap as the ranking family
  * ([[GlobalRowNumberStrategy]]) but hit by the single most common
  * analytics query there is. The distributed shape is the classic
  * PREFIX SCAN: range-shuffle on the order key (fully parallel), one
  * tiny job aggregates each partition into a partial buffer, the driver
  * prefix-MERGES the partials (#partitions buffers — constant work),
  * and each partition then runs its local running aggregation seeded
  * with the merged prefix of everything before it.
  *
  * Generic over Catalyst [[DeclarativeAggregate]]s: the exec drives each
  * function's own initialValues/updateExpressions/mergeExpressions/
  * evaluateExpression through projections — exactly the machinery
  * AggregationIterator uses — so sum/count/min/max/avg (and any other
  * deterministic declarative aggregate) are supported without
  * re-implementing their arithmetic, decimals and all.
  *
  * Frames: both `ROWS` and `RANGE` `UNBOUNDED PRECEDING → CURRENT ROW`
  * (the latter is what a bare ORDER BY means — peers of the current row
  * are INCLUDED, so tied rows share their value). Range semantics are
  * computed per tie run, which is exact per partition because the range
  * exchange co-locates equal sort keys — a tie run never spans a
  * partition boundary. Mixed frames in one node are handled.
  *
  * SUFFIX frames — `CURRENT ROW → UNBOUNDED FOLLOWING`, the "remaining
  * total" query — are the mirror image and reuse this exec verbatim:
  * the [[Suffix]] family flips every sort direction (and its null ordering), so
  * the range exchange enumerates the table in exact reverse order and
  * the same prefix scan computes the suffix. Frame SETS are identical
  * under reversal ([peer-start, end] read backwards is [start,
  * peer-end]), so order-insensitive aggregates match the built-in
  * exactly; `first_value`/`last_value` are enumeration-sensitive and
  * are swapped (the first row of a suffix frame is the LAST row fed in
  * reverse), preserving ignoreNulls. Output rows emit in reverse key
  * order — SQL attaches no meaning to result order, and any outer
  * ORDER BY re-sorts.
  *
  * Values match the built-in for exact types (integral, decimal,
  * count/min/max). For FLOATING-POINT sums the distributed plan
  * associates additions differently than a single sequential scan —
  * last-ulp differences, inherent to any parallel float sum (the same
  * caveat as groupBy sums).
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalRunningAggStrategy {
  import GlobalRunningAggExec.RunningAgg

  private def funcOf(e: NamedExpression): Option[RunningAgg] = e match {
    case Alias(WindowExpression(
          AggregateExpression(f: DeclarativeAggregate, Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _)
        // First/Last declare deterministic=false because they are order-
        // dependent in a groupBy — but a window's frame IS ordered, and
        // this exec feeds them rows in exactly the sort order, so
        // first_value/last_value are deterministic here (that is how
        // WindowExec runs them too)
        if f.deterministic || f.isInstanceOf[First] || f.isInstanceOf[Last] =>
      Some(RunningAgg(f, ft == RangeFrame, e.toAttribute))
    // nth_value(x, 1) over a prefix frame IS a running first_value —
    // and it's what the optimizer rewrites first_value INTO
    // (OptimizeWindowFunctions), so a PARTITION BY node mixing
    // first_value with min/max/sum must be claimable here or the whole
    // node falls back
    case Alias(WindowExpression(
          org.apache.spark.sql.catalyst.expressions.NthValue(
            input, org.apache.spark.sql.catalyst.expressions.IntegerLiteral(1), ign),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _) =>
      Some(RunningAgg(First(input, ign), ft == RangeFrame, e.toAttribute))
    case _ => None
  }

  private def suffixOf(e: NamedExpression): Option[RunningAgg] = e match {
    case Alias(WindowExpression(
          AggregateExpression(f: DeclarativeAggregate, Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(ft, CurrentRow, UnboundedFollowing))), _)
        if f.deterministic || f.isInstanceOf[First] || f.isInstanceOf[Last] =>
      // reverse enumeration: the frame's first row is the last one fed
      val g = f match {
        case First(c, ign) => Last(c, ign)
        case Last(c, ign)  => First(c, ign)
        case other         => other
      }
      Some(RunningAgg(g, ft == RangeFrame, e.toAttribute))
    case _ => None
  }

  private def reversed(s: SortOrder): SortOrder = SortOrder(
    s.child,
    if (s.direction == Ascending) Descending else Ascending,
    if (s.nullOrdering == NullsFirst) NullsLast else NullsFirst,
    s.sameOrderExpressions)

  /** Prefix (running) frames. */
  private[plans] object Running extends WindowFamily {
    override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined
    override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
      Some(GlobalRunningAggExec(w.partitionSpec, w.orderSpec,
        w.windowExpressions.map(funcOf(_).get), child))
  }

  /** Suffix frames: the OPPOSITE exchange direction from running
    * frames, so a family (and a split group) of their own. */
  private[plans] object Suffix extends WindowFamily {
    override def claims(e: NamedExpression): Boolean = suffixOf(e).isDefined
    override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
      Some(GlobalRunningAggExec(w.partitionSpec, w.orderSpec.map(reversed),
        w.windowExpressions.map(suffixOf(_).get), child))
  }
}

object GlobalRunningAggExec {
  /** One running aggregate column; `isRange` = bare-ORDER-BY peer
    * semantics (tied rows share the run-end value). */
  case class RunningAgg(agg: DeclarativeAggregate, isRange: Boolean,
                        attr: Attribute)
}

/** Physical distributed prefix scan over declarative aggregates, on the
  * [[BoundaryScan]]: pass 1 folds each edge group's partial buffer, the
  * driver merges the partials along each chain into each task's
  * first-group seed, and pass 2 runs the local running aggregation from
  * that seed, re-initialized at every later group. Global mode is the
  * classic prefix merge. With a `partition` spec this is the PER-KEY
  * running window (`MIN(x) OVER (PARTITION BY user ORDER BY ts)`) over a
  * range exchange on (partition keys ⧺ order key): a hot key spans tasks
  * instead of pinning one (stock Spark's hash exchange puts every row of
  * a key in ONE task; AQE re-splits skewed joins, never windows). Works
  * for ANY deterministic declarative aggregate: min/max included (no
  * inverse needed, unlike subtraction-based per-key rewrites),
  * first/last, decimals and all.
  */
case class GlobalRunningAggExec(partition: Seq[Expression],
                                order: Seq[SortOrder],
                                funcs: Seq[GlobalRunningAggExec.RunningAgg],
                                child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    // tie runs are per (group, order key): group exprs prepended, so a
    // run can never straddle a key-group boundary
    val keyExprs = partition ++ order.map(_.child)
    val aggs = funcs.map(_.agg)
    val isRange = funcs.map(_.isRange).toArray
    val attrTypes = funcs.map(_.attr.dataType).toArray
    val rdd = input()

    val edges = BoundaryScan.summarize(rdd, partition, childOutput)(
      () => new AggBuffer(aggs, childOutput))
    val merger = new AggBuffer(aggs, childOutput)
    val seeds = BoundaryScan.walk(edges, merger.snapshot(), (c: UnsafeRow, s: UnsafeRow) => {
      merger.load(c); merger.merge(s); merger.snapshot()
    }).seed

    finish(rdd, edges, seeds(_)) { (groups, seed, iter) =>
      val agg = new AggBuffer(aggs, childOutput)
      agg.load(seed)
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val joinOut = new JoinedRow

      if (!isRange.contains(true)) {
        // ROWS frames only: stream — update, then emit after each row
        iter.map { row =>
          if (groups.advance(row)) agg.reset()
          agg.add(row)
          outProj(joinOut(row, agg.eval()))
        }
      } else {
        // RANGE (peer) semantics need the run-end value for every row of
        // a tie run: buffer one run at a time, update through the whole
        // run, then emit. Mixed ROWS funcs keep their own per-row
        // snapshots. Runs are keyed on (group ⧺ order key), so a group
        // change always starts a new run.
        val runs = new Runs(iter, UnsafeProjection.create(keyExprs, childOutput),
          KeyRunEquality.create(keyExprs.map(_.dataType)))
        new Iterator[InternalRow] {
          private val rowSnaps = new ArrayBuffer[UnsafeRow]
          private val vals = new GenericInternalRow(attrTypes.length)
          private var runEnd: UnsafeRow = _

          private def fillRun(): Unit = {
            runs.fill(); rowSnaps.clear()
            val run = runs.rows
            if (groups.advance(run.head)) agg.reset()
            var j = 0
            while (j < run.length) {
              agg.add(run(j))
              rowSnaps += agg.eval().copy() // per-row value for ROWS funcs
              j += 1
            }
            runEnd = rowSnaps.last
          }

          override def hasNext: Boolean = runs.hasNext

          override def next(): InternalRow = {
            if (runs.exhausted) fillRun()
            val snap = rowSnaps(runs.pos)
            val row = runs.next()
            var k = 0
            while (k < attrTypes.length) {
              vals.update(k, (if (isRange(k)) runEnd else snap).get(k, attrTypes(k)))
              k += 1
            }
            outProj(joinOut(row, vals))
          }
        }
      }
    }
  }
}
