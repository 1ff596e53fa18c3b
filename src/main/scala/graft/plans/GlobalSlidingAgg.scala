package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, RowFrame, SortOrder, SpecifiedWindowFrame, UnsafeProjection, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, First, Last}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Scale-safe planning for naive global SLIDING aggregates — the moving
  * average: `AVG(x) OVER (ORDER BY ts ROWS BETWEEN k PRECEDING AND
  * CURRENT ROW)`, the centered variant `... k PRECEDING AND j
  * FOLLOWING`, and the lookahead variant `... CURRENT ROW AND j
  * FOLLOWING` — the sliding members of the global-window family
  * ([[GlobalRowNumberStrategy]] ranks, [[GlobalOffsetWindowStrategy]]
  * offsets, [[GlobalRunningAggStrategy]] running frames,
  * [[GlobalConstantAggStrategy]] whole-table constants) that stock
  * Spark funnels through one task.
  *
  * A (k PRECEDING, j FOLLOWING) frame needs exactly k predecessor and j
  * successor rows — the lag/lead problem, solved the same way:
  * range-shuffle, then one tiny job collects each partition's first
  * max-j and last max-k rows and the driver stitches each partition's
  * missing neighbors (bounded by (k + j) × partitions rows). Locally
  * every row re-aggregates its frame from a trailing ring plus a
  * lookahead queue — O(k + j) updates per row, the same work WindowExec
  * does for non-invertible frames, but spread over every core instead
  * of one. Aggregates are generic [[DeclarativeAggregate]]s (sum,
  * count, min, max, avg, first/last), each driven through its own
  * init/update/evaluate projections; mixed frame shapes in one node are
  * fine (each function folds its own slice of the buffers).
  *
  * The floating-point caveat of the running rescue does NOT apply
  * here: each output value is one sequential left-to-right fold over
  * its frame rows — the same association WindowExec uses — so even
  * double sums match the built-in bit-for-bit.
  *
  * Frames that exclude the current row (`5 PRECEDING AND 2 PRECEDING`)
  * are NOT matched: they can be empty, which needs per-function
  * empty-frame null semantics — rare enough to leave to the built-in.
  *
  * PARTITIONED sliding frames — the per-key moving average, `AVG(x)
  * OVER (PARTITION BY user ORDER BY ts ROWS k PRECEDING)` — ride the
  * same machinery over a range exchange on (partition keys ⧺ order
  * key): a key's rows are contiguous under that sort, so the per-key
  * frame is the global frame CLIPPED at the key boundary, and the clip
  * is one byte-equality per fold row (trailing rows of a foreign key
  * are skipped, lookahead stops at the first foreign key). A hot key
  * spans tasks instead of pinning one; frames containing the current
  * row can still never be empty per key.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalSlidingAggStrategy extends WindowFamily {
  import GlobalSlidingAggExec.SlidingAgg

  /** Row-frame boundary as a signed row offset (negative = preceding);
    * None for unbounded or non-literal bounds. */
  private def boundOf(e: Expression): Option[Int] = e match {
    case CurrentRow => Some(0)
    case Literal(i: java.lang.Integer, IntegerType) => Some(i.intValue())
    case Literal(l: java.lang.Long, LongType) => Some(Math.toIntExact(l.longValue()))
    case _ => None
  }

  private def funcOf(e: NamedExpression): Option[SlidingAgg] = e match {
    case Alias(WindowExpression(
          AggregateExpression(f: DeclarativeAggregate, Complete, false, None, _),
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, lo, hi))), _)
        if f.deterministic || f.isInstanceOf[First] || f.isInstanceOf[Last] =>
      (boundOf(lo), boundOf(hi)) match {
        // frame must CONTAIN the current row (lo ≤ 0 ≤ hi): it can then
        // never be empty, so no empty-frame null semantics are needed
        case (Some(l), Some(h)) if l <= 0 && h >= 0 && (l < 0 || h > 0) =>
          Some(SlidingAgg(f, -l, h, e.toAttribute))
        case _ => None
      }
    case _ => None
  }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
    Some(GlobalSlidingAggExec(w.partitionSpec, w.orderSpec,
      w.windowExpressions.map(funcOf(_).get), child))
}

object GlobalSlidingAggExec {
  /** One sliding aggregate column over `(k PRECEDING, j FOLLOWING)`
    * (j = 0 ⇒ `CURRENT ROW` upper bound). */
  case class SlidingAgg(agg: DeclarativeAggregate, k: Int, j: Int,
                        attr: Attribute)
}

/** Physical distributed sliding-frame aggregation: range-shuffled
  * sorted input + the boundary job of [[GlobalOffsetWindowExec]]
  * ([[EdgeRows]]: per-partition heads and tails, driver stitch), then
  * per-row frame folds over an [[EdgeRows.Cursor]]'s trailing ring and
  * lookahead queue. */
case class GlobalSlidingAggExec(partition: Seq[Expression],
                                order: Seq[SortOrder],
                                funcs: Seq[GlobalSlidingAggExec.SlidingAgg],
                                child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val partExprs = partition
    val keyGuard = partExprs.nonEmpty
    val funcsLocal = funcs.toArray
    val maxK = funcsLocal.map(_.k).max // deepest lookbehind
    val maxJ = funcsLocal.map(_.j).max // deepest lookahead
    val rdd = input()

    val (counts, preTails, sucHeads) = EdgeRows(rdd, childOutput, maxK, maxJ)
    val nParts = counts.length

    // each task ships only its own edge rows + count ([[PerPartition.stitch]])
    PerPartition.stitch(rdd, (0 until nParts).map(p =>
      (preTails(p), sucHeads(p), counts(p)))) { (slice, iter) =>
      val (preTail, sucHead, partCount) = slice
      // per-function machinery: own buffer + projections, folded over
      // its own slice of the trailing ring and lookahead queue
      val (buffers, inits, updates, evals) = FrameFolds(funcsLocal.map(_.agg), childOutput)
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val joinBI = new JoinedRow
      val joinOut = new JoinedRow
      val valueRow = new GenericInternalRow(funcsLocal.length)
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      // TWO projection instances (separate buffers) so the current row's
      // key and a fold candidate's key compare without copying; window
      // partition keys are float-normalized upstream, byte equality is
      // exact
      val rowKeyProj = UnsafeProjection.create(partExprs, childOutput)
      val neighKeyProj = UnsafeProjection.create(partExprs, childOutput)

      // emitted rows are only this partition's own (counts(pid) of them)
      val rows = new EdgeRows.Cursor(iter, partCount, preTail, sucHead, maxK, maxJ)
      val lagBuf = rows.lag
      val leadBuf = rows.lead

      new Iterator[InternalRow] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): InternalRow = {
          val row = rows.current()
          val rowKey = if (keyGuard) rowKeyProj(row) else null
          // per-key clip: a key's rows are contiguous, so same-key rows
          // form a SUFFIX of the trailing ring and a PREFIX of the
          // lookahead queue — the first same-key trailing index and the
          // first foreign lookahead index bound every function's fold
          var clipStart = 0
          var clipEnd = leadBuf.length
          if (keyGuard) {
            clipStart = lagBuf.length
            while (clipStart > 0 &&
              neighKeyProj(lagBuf(clipStart - 1)).equals(rowKey)) clipStart -= 1
            var e = 1 // leadBuf(0) is the current row
            while (e < leadBuf.length &&
              neighKeyProj(leadBuf(e)).equals(rowKey)) e += 1
            clipEnd = e
          }
          var i = 0
          while (i < funcsLocal.length) {
            inits(i)(InternalRow.empty)
            // left-to-right fold over the last k_i trailing rows, the
            // current row, then the next j_i lookahead rows — the same
            // association WindowExec uses — clipped at the key boundary
            var p = math.max(clipStart, lagBuf.length - funcsLocal(i).k)
            while (p < lagBuf.length) {
              updates(i)(joinBI(buffers(i), lagBuf(p)))
              p += 1
            }
            var q = 0
            val qEnd = math.min(clipEnd, funcsLocal(i).j + 1)
            while (q < qEnd) {
              updates(i)(joinBI(buffers(i), leadBuf(q)))
              q += 1
            }
            valueRow.update(i, evals(i)(buffers(i)).get(0, attrTypes(i)))
            i += 1
          }
          val out = outProj(joinOut(row, valueRow))
          rows.advance()
          out
        }
      }
    }
  }
}
