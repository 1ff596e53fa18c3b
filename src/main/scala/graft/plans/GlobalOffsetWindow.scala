package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, FrameLessOffsetWindowFunction, GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan

/** Scale-safe planning for naive lag()/lead(), in both null modes.
  *
  * `lag(x) OVER (ORDER BY ...)` / `lead(x) OVER (ORDER BY ...)` with no
  * PARTITION BY are frameless OFFSET window functions: like the global
  * ranking family ([[GlobalRowNumberStrategy]]) Spark's WindowExec
  * demands SinglePartition for them, funneling the whole table through
  * one task. But `lag(x, n)` needs only the n-th VALUE before the row:
  * with RESPECT NULLS every row's `x` is a value, with IGNORE NULLS only
  * the non-null ones — the gap-filling query of sparse time series
  * ("previous non-null reading"), whose lookbehind is unbounded in rows
  * but still n values. So the boundary scan ([[GlobalWindowExec]])
  * collects, per edge key group and per function, the first and last n
  * values ([[Ends]]), and the driver's chain walk gives each task the n
  * values before its first group and after its last (bounded by
  * Σ offsets × partitions single-column values, independent of data
  * size and of null-run lengths).
  *
  * Locally, lag is a streaming ring of the last n values. Lead needs
  * lookahead: rows park in a pending FIFO and each arriving value
  * resolves exactly the row whose n-th successor it is (arrival-counter
  * matching — O(1) per value); rows left unresolved when the stitched
  * successor values run out take their default. The pending buffer spans
  * only the distance from a row to its n-th successor value: n rows with
  * RESPECT NULLS, the data-inherent minimum with IGNORE NULLS (the
  * built-in buffers the whole partition). An offset of 0 is the current
  * row's input.
  *
  * PARTITIONED lag/lead — `lag(x) OVER (PARTITION BY user ORDER BY
  * ts)`, sessionization's workhorse, and the per-sensor gap fill — ride
  * the same code over a range exchange on (partition keys ⧺ order key):
  * a key's rows are contiguous under that sort, the walk chains only
  * equal key groups, and pass 2 clears the lag rings and defaults the
  * parked lead rows at every group boundary. Stock Spark's hash exchange
  * puts every row of a hot key in ONE task; here the key spans tasks,
  * and a chain of windows over the same (key, order) — lag for the
  * session break, a running sum for the session id — reuses ONE range
  * exchange end to end.
  *
  * Matches a Window node whose expressions are ALL
  * [[FrameLessOffsetWindowFunction]]s (lag/lead, mixed offsets and null
  * modes fine) with foldable offsets. Defaults are evaluated against the
  * CURRENT row, exactly as WindowExec's offset frame does. Values match
  * WindowExec on any tie-free total order (with ties, neighbor identity
  * is arbitrary in either plan — distributed sorts never promise tie
  * order).
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalOffsetWindowStrategy extends WindowFamily {
  import GlobalOffsetWindowExec.OffsetFunc

  private def funcOf(e: NamedExpression): Option[OffsetFunc] = e match {
    case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _) if f.offset.foldable =>
      f.offset.eval() match {
        case o: Integer =>
          Some(OffsetFunc(f.input, o.intValue(), f.default, f.ignoreNulls, e.toAttribute))
        case _ => None
      }
    case _ => None
  }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
    Some(GlobalOffsetWindowExec(w.partitionSpec, w.orderSpec,
      w.windowExpressions.map(funcOf(_).get), child))
}

object GlobalOffsetWindowExec {
  /** One lag/lead column: `input` on the |offset|-th row (with
    * `ignoreNulls`, the |offset|-th row where `input` is not null) before
    * (offset < 0) or after (offset > 0) the current row in its partition;
    * `default` on the current row when none exists. */
  case class OffsetFunc(input: Expression, offset: Int, default: Expression,
                        ignoreNulls: Boolean, attr: Attribute)
}

/** Physical distributed lag/lead: range-shuffled sorted input, the
  * boundary scan's one job over each edge group's first and last n
  * values per function, then a value ring per lag function and a
  * pending-FIFO resolution per lead function, reset at key-group
  * boundaries. Global mode = one group everywhere. */
case class GlobalOffsetWindowExec(partition: Seq[Expression],
                                  order: Seq[SortOrder],
                                  funcs: Seq[GlobalOffsetWindowExec.OffsetFunc],
                                  child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val nFuncs = funcsLocal.length
    val ignore = funcsLocal.map(_.ignoreNulls)
    val ahead = funcsLocal.map(f => math.max(f.offset, 0))
    val behind = funcsLocal.map(f => math.max(-f.offset, 0))
    val rdd = input()

    val edges = BoundaryScan.summarize(rdd, partition, childOutput)(() =>
      new Ends.Fold(funcsLocal.map(f => Seq(f.input)), childOutput, ignore, ahead, behind))
    val walk = Ends.walk(edges, ahead, behind)

    finish(rdd, edges, p => (walk.seed(p), walk.after(p))) { (groups, carry, iter) =>
      val (before, after) = carry
      val inputProjs = funcsLocal.map(f => UnsafeProjection.create(Seq(f.input), childOutput))
      val defaultProjs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.default), childOutput))
      val dtypes = funcsLocal.map(_.attr.dataType)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      def default(f: Int, row: InternalRow): Any =
        InternalRow.copyValue(defaultProjs(f)(row).get(0, dtypes(f)))

      // one entry per row not yet emitted, in row order
      final class Entry(val row: InternalRow) {
        val vals = new Array[Any](nFuncs)
        var remaining = 0 // unresolved lead slots
      }
      val pending = new ArrayDeque[Entry]
      // per lead function: arrival counter + FIFO of (entry, count at park)
      val arrivals = new Array[Long](nFuncs)
      val waiting = Array.fill(nFuncs)(new ArrayDeque[(Entry, Long)])
      // per lag function: the last n values, seeded with the carry
      val rings = Array.tabulate(nFuncs)(f => ArrayDeque.from[UnsafeRow](before(f)))

      def arrive(f: Int, v: UnsafeRow): Unit = {
        arrivals(f) += 1
        val w = waiting(f)
        // rows separated only by skipped nulls park with the SAME count
        // and share their n-th successor value: resolve the whole
        // matching prefix, not just one entry
        while (w.nonEmpty && w.head._2 + ahead(f) == arrivals(f)) {
          val e = w.removeHead()._1
          e.vals(f) = v.get(0, dtypes(f))
          e.remaining -= 1
        }
      }

      // rows still parked have no n-th successor value in their group
      def defaultWaiting(f: Int): Unit = {
        val w = waiting(f)
        while (w.nonEmpty) {
          val e = w.removeHead()._1
          e.vals(f) = default(f, e.row)
          e.remaining -= 1
        }
      }

      def processRow(raw: InternalRow): Unit = {
        val row = raw.copy()
        if (groups.advance(row)) {
          // a new group has no history, and ends the old group's leads
          var f = 0
          while (f < nFuncs) { defaultWaiting(f); rings(f).clear(); f += 1 }
        }
        val e = new Entry(row)
        var f = 0
        while (f < nFuncs) {
          val v = inputProjs(f)(row)
          val n = ahead(f) + behind(f)
          // lag reads the ring BEFORE this row's value enters it (lag
          // excludes the current row)
          if (ahead(f) == 0) e.vals(f) =
            if (n == 0) InternalRow.copyValue(v.get(0, dtypes(f)))
            else if (rings(f).length == n) rings(f).head.get(0, dtypes(f))
            else default(f, row)
          // this row's value resolves earlier parked rows or joins the
          // lag history
          if (n > 0 && !(ignore(f) && v.isNullAt(0))) {
            val c = v.copy()
            if (ahead(f) > 0) arrive(f, c)
            else {
              rings(f) += c
              if (rings(f).length > n) rings(f).removeHead()
            }
          }
          // lead parks AFTER its own value's arrival (lead excludes the
          // current row): the entry needs n further arrivals
          if (ahead(f) > 0) {
            e.remaining += 1
            waiting(f) += ((e, arrivals(f)))
          }
          f += 1
        }
        pending += e
      }

      // the task's end: the last group's leads take the carried values
      // after it, then their defaults
      def finishTask(): Unit = {
        var f = 0
        while (f < nFuncs) {
          var i = 0
          while (i < after(f).length) { arrive(f, after(f)(i)); i += 1 }
          defaultWaiting(f)
          f += 1
        }
      }

      new Iterator[InternalRow] {
        private var done = false
        override def hasNext: Boolean = {
          while (!done && (pending.isEmpty || pending.head.remaining > 0)) {
            if (iter.hasNext) processRow(iter.next())
            else { finishTask(); done = true }
          }
          pending.nonEmpty
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val e = pending.removeHead()
          outProj(joined(e.row, new GenericInternalRow(e.vals)))
        }
      }
    }
  }
}
