package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, CurrentRow, Descending, Expression, JoinedRow, MutableProjection, NamedExpression, NullsFirst, NullsLast, RangeFrame, SortOrder, SpecificInternalRow, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
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
  * Opt-out: shares `spark.graft.globalRowNumber.enabled` — one switch
  * restores every built-in global window.
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

/** Physical distributed prefix scan over declarative aggregates.
  *
  * With a non-empty `partition` spec this is the PER-KEY running
  * window (`MIN(x) OVER (PARTITION BY user ORDER BY ts)` and friends)
  * over a RANGE exchange on (partition keys ⧺ order key) — a hot key
  * spans many tasks instead of pinning one (stock Spark's hash
  * exchange puts every row of a key in ONE task; AQE re-splits skewed
  * joins, never windows). A key's rows are contiguous under that
  * sort, so per-key state is: reset the aggregation buffers at every
  * key-group boundary, and seed each task's FIRST group from the
  * chain of predecessor tasks holding the same group — pass 1 keeps
  * one partial buffer over each task's LAST group only (reset on
  * group change, so memory is one buffer regardless of group sizes),
  * and the driver walks the partials once, carrying a merged buffer
  * along runs of equal edge groups. The empty-partition (global) case
  * is the same walk with every task in one group — the classic prefix
  * merge. Works for ANY deterministic declarative aggregate: min/max
  * included (no inverse needed — unlike subtraction-based per-key
  * rewrites), first/last, decimals and all.
  */
case class GlobalRunningAggExec(partition: Seq[Expression],
                                order: Seq[SortOrder],
                                funcs: Seq[GlobalRunningAggExec.RunningAgg],
                                child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  // concatenated buffer layout across all functions
  private def bufferAttrs = funcs.flatMap(_.agg.aggBufferAttributes)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    // tie runs are per (group, order key): group exprs prepended, so a
    // run can never straddle a key-group boundary
    val keyExprs = partition ++ order.map(_.child)
    val partExprs = partition
    val hasGroups = partExprs.nonEmpty
    val aggsLocal = funcs.map(_.agg)
    val isRangeLocal = funcs.map(_.isRange).toArray
    val anyRange = isRangeLocal.contains(true)
    val bufAttrs = bufferAttrs
    val bufTypes = bufAttrs.map(_.dataType)
    val inputBufAttrs = funcs.flatMap(_.agg.inputAggBufferAttributes)
    val initExprs = aggsLocal.flatMap(_.initialValues)
    val updateExprs = aggsLocal.flatMap(_.updateExpressions)
    val mergeExprs = aggsLocal.flatMap(_.mergeExpressions)
    val evalExprs = funcs.map(_.agg.evaluateExpression)
    val rdd = input()

    def newBuffer(): SpecificInternalRow = {
      val buf = new SpecificInternalRow(bufTypes)
      val p = MutableProjection.create(initExprs, Nil)
      p.target(buf)(InternalRow.empty)
      buf
    }

    // pass 1: per task — (first group, last group, partial buffer over
    // the LAST group's rows only). Reads the materialized shuffle; cost
    // = one streaming aggregation, no extra exchange; memory = one
    // buffer (reset at each group change). With no partition spec every
    // row is one group and the partial covers the whole task.
    val stats: Array[(Option[UnsafeRow], Option[UnsafeRow], UnsafeRow)] =
      rdd.sparkContext.runJob(rdd, (iter: Iterator[InternalRow]) => {
        val buf = newBuffer()
        val update = MutableProjection.create(updateExprs, bufAttrs ++ childOutput)
        update.target(buf)
        val reinit = MutableProjection.create(initExprs, Nil)
        reinit.target(buf)
        val partProj = UnsafeProjection.create(partExprs, childOutput)
        val joinBI = new JoinedRow
        var firstG: UnsafeRow = null
        var curG: UnsafeRow = null
        while (iter.hasNext) {
          val row = iter.next()
          if (hasGroups) {
            val pr = partProj(row)
            if (curG == null) { curG = pr.copy(); firstG = curG }
            else if (!pr.equals(curG)) { curG = pr.copy(); reinit(InternalRow.empty) }
          } else if (curG == null) { curG = partProj(row).copy(); firstG = curG }
          update(joinBI(buf, row))
        }
        (Option(firstG), Option(curG),
          UnsafeProjection.create(bufAttrs, bufAttrs)(buf).copy())
      })

    // driver chain-merge: task p's seed is the merged partials of the
    // chain slices before its first group (the sort guarantees a group
    // spanning tasks fills everything between, so edge-group equality
    // is the only test needed); other tasks start from the empty
    // buffer. A few buffer-sized merges, independent of data size — and
    // with no partition spec this IS the classic prefix merge.
    val nParts = stats.length
    val toUnsafe = UnsafeProjection.create(bufAttrs, bufAttrs)
    val initSeed = toUnsafe(newBuffer()).copy()
    val seeds = Array.fill(nParts)(initSeed)
    locally {
      val carry = newBuffer()
      val merge = MutableProjection.create(mergeExprs, bufAttrs ++ inputBufAttrs)
      merge.target(carry)
      val reinit = MutableProjection.create(initExprs, Nil)
      reinit.target(carry)
      val joinBB = new JoinedRow
      EdgeChains(stats.map(_._1.orNull), stats.map(_._2.orNull)).foreach { chain =>
        reinit(InternalRow.empty)
        chain.foreach { s =>
          if (s.isFirst) seeds(s.p) = toUnsafe(carry).copy()
          // pass 1 keeps the LAST group's partial only: a first-only
          // slice ends its chain, so nothing after it reads its rows
          if (s.isLast) merge(joinBB(carry, stats(s.p)._3))
        }
      }
    }
    val firstGroups: Array[UnsafeRow] = stats.map(_._1.orNull)

    // pass 2: local running aggregation, seeded with the first group's
    // chain carry, buffers re-initialized at every group boundary; each
    // task ships only its own seed ([[PerPartition.stitch]])
    PerPartition.stitch(rdd,
      (0 until nParts).map(p => (seeds(p), firstGroups(p)))) { (slice, iter) =>
      val (seed, firstGroup) = slice
      val buf = new SpecificInternalRow(bufTypes)
      var i = 0
      while (i < bufTypes.length) {
        buf.update(i, seed.get(i, bufTypes(i)))
        i += 1
      }
      val update = MutableProjection.create(updateExprs, bufAttrs ++ childOutput)
      update.target(buf)
      val reinit = MutableProjection.create(initExprs, Nil)
      reinit.target(buf)
      val partProj = UnsafeProjection.create(partExprs, childOutput)
      val evalProj = UnsafeProjection.create(evalExprs, bufAttrs)
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val joinBI = new JoinedRow
      val joinOut = new JoinedRow
      var curG: UnsafeRow = firstGroup

      if (!anyRange) {
        // ROWS frames only: stream — update, then emit after each row
        iter.map { row =>
          if (hasGroups) {
            val pr = partProj(row)
            if (curG == null || !pr.equals(curG)) {
              curG = pr.copy(); reinit(InternalRow.empty)
            }
          }
          update(joinBI(buf, row))
          outProj(joinOut(row, evalProj(buf)))
        }
      } else {
        // RANGE (peer) semantics need the run-end value for every row of
        // a tie run: buffer one run at a time (rows copied — the scan
        // iterator reuses its row), update through the whole run, then
        // emit. Mixed ROWS funcs keep their own per-row snapshots. Runs
        // are keyed on (group ⧺ order key), so a group change always
        // starts a new run — the buffer reset happens between runs.
        val runs = new Runs(iter, UnsafeProjection.create(keyExprs, childOutput),
          KeyRunEquality.create(keyExprs.map(_.dataType)))
        val attrTypes = funcs.map(_.attr.dataType).toArray
        new Iterator[InternalRow] {
          private val rowSnaps = new scala.collection.mutable.ArrayBuffer[UnsafeRow]
          private var runEnd: UnsafeRow = _

          private def fillRun(): Unit = {
            runs.fill(); rowSnaps.clear()
            val run = runs.rows
            if (hasGroups) {
              val pr = partProj(run.head)
              if (curG == null || !pr.equals(curG)) {
                curG = pr.copy(); reinit(InternalRow.empty)
              }
            }
            var j = 0
            while (j < run.length) {
              update(joinBI(buf, run(j)))
              rowSnaps += evalProj(buf).copy() // per-row value for ROWS funcs
              j += 1
            }
            runEnd = rowSnaps.last
          }

          override def hasNext: Boolean = runs.hasNext

          override def next(): InternalRow = {
            if (runs.exhausted) fillRun()
            val snap = rowSnaps(runs.pos)
            val row = runs.next()
            val vals = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(funcs.length)
            var k = 0
            while (k < attrTypes.length) {
              val src = if (isRangeLocal(k)) runEnd else snap
              vals.update(k, src.get(k, attrTypes(k)))
              k += 1
            }
            outProj(joinOut(row, vals))
          }
        }
      }
    }
  }
}
