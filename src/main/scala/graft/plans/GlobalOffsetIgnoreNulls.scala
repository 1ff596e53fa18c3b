package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, FrameLessOffsetWindowFunction, GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan

/** Scale-safe planning for naive global lag()/lead() with IGNORE NULLS.
  *
  * `lag(x, n) IGNORE NULLS OVER (ORDER BY ...)` is the gap-filling
  * query of sparse time series ("previous non-null reading") — and like
  * its respect-nulls sibling ([[GlobalOffsetWindowStrategy]]) it plans
  * as a SinglePartition WindowExec in stock Spark. The distributed
  * shape differs in one way: the lookbehind is VARIABLE — the n-th
  * non-null value may be arbitrarily far back — so fixed-size row
  * stitching doesn't work. But the function only ever needs n non-null
  * VALUES per direction, so the boundary job collects, per partition
  * and per function, the first/last n non-null input values; the
  * driver stitches each partition's missing neighbor values (bounded by
  * Σ offsets × partitions single-column values, independent of data
  * size and of null-run lengths).
  *
  * Locally, lag is a streaming ring of the last n non-null values. Lead
  * needs lookahead: rows park in a pending FIFO and each arriving
  * non-null value resolves exactly the row whose n-th successor it is
  * (arrival-counter matching — O(1) per value); rows left unresolved
  * when the stitched successor values run out take their default. The
  * pending buffer spans only the distance from a row to its n-th
  * non-null successor — the data-inherent minimum (the built-in buffers
  * the whole partition).
  *
  * Matches Window nodes whose expressions are ALL frameless offset
  * functions with ignoreNulls = true and foldable non-zero offsets
  * (mixed IGNORE/RESPECT nodes fall back to the built-in). Defaults
  * are evaluated against the current row, exactly as WindowExec's
  * offset frame does.
  *
  * PARTITIONED nodes — "previous non-null reading PER SENSOR", the
  * gap-fill query as actually written — are claimed too: the exchange
  * becomes a range exchange over (partition keys ⧺ order key) so a hot
  * key spans tasks, the boundary job keeps only the FIRST group's head
  * values and the LAST group's tail values (the only slices visible
  * across task edges — groups are contiguous under the sort), the
  * driver's stitch walks the task chain only while the neighbor's edge
  * group matches, and pass 2 resets the lag rings / defaults the parked
  * lead rows at every group boundary. Global mode is the degenerate
  * single-group case of the same code path.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalOffsetIgnoreNullsStrategy extends WindowFamily {

  private def funcOf(e: NamedExpression): Option[(Expression, Int, Expression)] =
    e match {
      case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
          if f.ignoreNulls && f.offset.foldable =>
        f.offset.eval() match {
          case o: Integer if o.intValue() != 0 =>
            Some((f.input, o.intValue(), f.default))
          case _ => None
        }
      case _ => None
    }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] = {
    val funcs = w.windowExpressions.map { e =>
      val (input, off, dflt) = funcOf(e).get
      GlobalOffsetIgnoreNullsExec.NnOffsetFunc(input, off, dflt, e.toAttribute)
    }
    Some(GlobalOffsetIgnoreNullsExec(w.partitionSpec, w.orderSpec, funcs, child))
  }
}

object GlobalOffsetIgnoreNullsExec {
  /** One IGNORE NULLS lag/lead column: the |offset|-th NON-NULL `input`
    * value before (offset < 0) / after (offset > 0) the current row;
    * `default` on the current row when fewer exist. */
  case class NnOffsetFunc(input: Expression, offset: Int, default: Expression,
                          attr: Attribute)

  /** One group's first and last n_f non-null values per function. */
  private[plans] final case class NnEnds(head: Array[Array[UnsafeRow]],
                                         tail: Array[Array[UnsafeRow]])
}

/** Physical distributed IGNORE NULLS lag/lead: range-shuffled sorted
  * input + one boundary job collecting per-partition per-function
  * first/last n non-null input VALUES (1-column UnsafeRows) of the
  * task's EDGE key groups; locally a value ring per lag function and a
  * pending-FIFO resolution per lead function, reset at key-group
  * boundaries. Global mode = one group everywhere. */
case class GlobalOffsetIgnoreNullsExec(
    partition: Seq[Expression],
    order: Seq[SortOrder],
    funcs: Seq[GlobalOffsetIgnoreNullsExec.NnOffsetFunc],
    child: SparkPlan) extends GlobalWindowExec {
  import GlobalOffsetIgnoreNullsExec.NnEnds

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val partExprs = partition
    val funcsLocal = funcs.toArray
    val nFuncs = funcsLocal.length
    val needs = funcsLocal.map(f => math.abs(f.offset)) // values per direction
    val isLead = funcsLocal.map(_.offset > 0)
    val rdd = input()

    // pass 1: per edge group and per function, its first and its last
    // n_f non-null input values (single-column copies) — all a
    // neighbouring task can ever stitch from
    val edges = BoundaryScan.summarize(rdd, partExprs, childOutput) { () =>
      new GroupFold[NnEnds] {
        private val projs = funcsLocal.map(f => UnsafeProjection.create(Seq(f.input), childOutput))
        private val heads = Array.fill(nFuncs)(new ArrayBuffer[UnsafeRow])
        private val tails = Array.fill(nFuncs)(new ArrayDeque[UnsafeRow])
        def reset(): Unit = { heads.foreach(_.clear()); tails.foreach(_.clear()) }
        def add(row: InternalRow): Unit = {
          var i = 0
          while (i < nFuncs) {
            val v = projs(i)(row)
            if (!v.isNullAt(0)) {
              val c = v.copy()
              if (heads(i).length < needs(i)) heads(i) += c
              tails(i) += c
              if (tails(i).length > needs(i)) tails(i).removeHead()
            }
            i += 1
          }
        }
        def snapshot(): NnEnds = NnEnds(heads.map(_.toArray), tails.map(_.toArray))
      }
    }
    // the chain walk: each task's first group gets the newest n_f values
    // of the slices before it (lag), its last group the oldest n_f of the
    // slices after it (lead)
    val walk = BoundaryScan.walk(edges, Array.fill(nFuncs)(Array.empty[UnsafeRow]),
      (c: Array[Array[UnsafeRow]], s: NnEnds) =>
        Array.tabulate(nFuncs)(f => (c(f) ++ s.tail(f)).takeRight(needs(f))),
      (s: NnEnds, c: Array[Array[UnsafeRow]]) =>
        Array.tabulate(nFuncs)(f => (s.head(f) ++ c(f)).take(needs(f))))

    finish(rdd, edges, p => (walk.seed(p), walk.after(p))) { (groups, slice, iter) =>
      val (preValsP, sucValsP) = slice
      val inputProjs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.input), childOutput))
      val defaultProjs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.default), childOutput))
      val dtypes = funcsLocal.map(_.attr.dataType)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)

      // one pending entry per not-yet-emittable row
      final class Entry(val row: InternalRow) {
        val vals = new Array[Any](nFuncs)
        var remaining = 0 // unresolved lead slots
      }
      val pending = new ArrayDeque[Entry]
      // per lead function: arrival counter + FIFO of (entry, seq-at-park)
      val arrivals = new Array[Long](nFuncs)
      val waiting = Array.fill(nFuncs)(
        new ArrayDeque[(Entry, Long)])
      // per lag function: ring of the last n_f non-null values, seeded
      // with the stitched predecessor values
      val rings = Array.tabulate(nFuncs) { i =>
        val d = new ArrayDeque[UnsafeRow]
        if (!isLead(i)) preValsP(i).foreach(d += _)
        d
      }

      def arrive(f: Int, v: UnsafeRow): Unit = {
        arrivals(f) += 1
        val w = waiting(f)
        // rows separated only by nulls park with the SAME counter value
        // and share their n-th non-null successor: resolve the whole
        // matching prefix, not just one entry
        while (w.nonEmpty && w.head._2 + needs(f) == arrivals(f)) {
          val (e, _) = w.removeHead()
          e.vals(f) = v.get(0, dtypes(f))
          e.remaining -= 1
        }
      }

      val emitQueue = new ArrayDeque[InternalRow]
      def drainReady(): Unit =
        while (pending.nonEmpty && pending.head.remaining == 0) {
          val e = pending.removeHead()
          val vr = new GenericInternalRow(e.vals)
          emitQueue += outProj(joined(e.row, vr)).copy()
        }

      // key-group boundary: rows of the OLD group can never be served
      // by values from the new one — default every parked lead slot,
      // clear the lag rings (a new group has no history)
      def groupBoundary(): Unit = {
        var f = 0
        while (f < nFuncs) {
          if (isLead(f)) {
            waiting(f).foreach { case (e, _) =>
              e.vals(f) = defaultProjs(f)(e.row).copy().get(0, dtypes(f))
              e.remaining -= 1
            }
            waiting(f).clear()
          } else rings(f).clear()
          f += 1
        }
        drainReady()
      }

      def processRow(raw: InternalRow): Unit = {
        val row = raw.copy()
        if (groups.advance(row)) groupBoundary()
        val e = new Entry(row)
        // lag slots resolve from the rings BEFORE this row's own value
        // enters them (lag excludes the current row)
        var i = 0
        while (i < nFuncs) {
          if (!isLead(i)) {
            val ring = rings(i)
            e.vals(i) =
              if (ring.length >= needs(i))
                ring(ring.length - needs(i)).get(0, dtypes(i))
              else defaultProjs(i)(row).copy().get(0, dtypes(i))
          }
          i += 1
        }
        // this row's input values resolve EARLIER parked rows and join
        // the lag history
        i = 0
        while (i < nFuncs) {
          val v = inputProjs(i)(row)
          if (!v.isNullAt(0)) {
            val c = v.copy()
            if (isLead(i)) arrive(i, c)
            else {
              rings(i) += c
              if (rings(i).length > needs(i)) rings(i).removeHead()
            }
          }
          i += 1
        }
        // lead slots park AFTER the own-value arrival (lead excludes the
        // current row): the entry needs n_f FURTHER non-null arrivals
        i = 0
        while (i < nFuncs) {
          if (isLead(i)) {
            e.remaining += 1
            waiting(i) += ((e, arrivals(i)))
          }
          i += 1
        }
        pending += e
        drainReady()
      }

      def finish(): Unit = {
        // feed the stitched successor values, then default what's left
        var f = 0
        while (f < nFuncs) {
          if (isLead(f)) {
            sucValsP(f).foreach(arrive(f, _))
            // entries still parked have no n_f-th non-null successor
            // anywhere in the table: default on their own row
            waiting(f).foreach { case (e, _) =>
              e.vals(f) = defaultProjs(f)(e.row).copy().get(0, dtypes(f))
              e.remaining -= 1
            }
            waiting(f).clear()
          }
          f += 1
        }
        drainReady()
      }

      new Iterator[InternalRow] {
        private var finished = false
        override def hasNext: Boolean = {
          while (emitQueue.isEmpty && (iter.hasNext || !finished)) {
            if (iter.hasNext) processRow(iter.next())
            else { finish(); finished = true }
          }
          emitQueue.nonEmpty
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          emitQueue.removeHead()
        }
      }
    }
  }
}
