package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, RowFrame, SortOrder, SpecifiedWindowFrame, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
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
  * successor rows of its partition: range-shuffle, then the boundary
  * scan ([[GlobalWindowExec]]) keeps each edge key group's first j and
  * last k rows ([[Ends]]) and the driver's chain walk gives each task
  * the k rows before its first group and the j after its last (bounded
  * by (k + j) × partitions rows). Locally every row re-aggregates its
  * frame from a trailing ring plus a lookahead queue ([[RowWindow]]) —
  * O(k + j) updates per row, the same work WindowExec does for
  * non-invertible frames, but spread over every core instead
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
  * same code over a range exchange on (partition keys ⧺ order key): a
  * key's rows are contiguous under that sort, the walk chains only equal
  * key groups, and pass 2 clears the trailing ring at each new group and
  * stops the lookahead at the group's end. A hot key spans tasks instead
  * of pinning one; frames containing the current row can still never be
  * empty per key.
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
  * sorted input + the boundary scan's one job over each edge group's
  * first max-j and last max-k rows, then per-row frame folds over a
  * [[RowWindow]]'s trailing ring and lookahead queue. */
case class GlobalSlidingAggExec(partition: Seq[Expression],
                                order: Seq[SortOrder],
                                funcs: Seq[GlobalSlidingAggExec.SlidingAgg],
                                child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val maxK = Array(funcsLocal.map(_.k).max) // deepest lookbehind
    val maxJ = Array(funcsLocal.map(_.j).max) // deepest lookahead
    val rdd = input()

    // one channel: whole child rows, since a frame may read any column
    val edges = BoundaryScan.summarize(rdd, partition, childOutput)(() =>
      new Ends.Fold(Array(childOutput), childOutput, Array(false), maxJ, maxK))
    val walk = Ends.walk(edges, maxJ, maxK)

    finish(rdd, edges, p => (walk.seed(p)(0), walk.after(p)(0))) { (groups, carry, iter) =>
      val (before, after) = carry
      // per-function machinery: own buffer + projections, folded over
      // its own slice of the trailing ring and lookahead queue
      val (buffers, inits, updates, evals) = FrameFolds(funcsLocal.map(_.agg), childOutput)
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val joinBI = new JoinedRow
      val joinOut = new JoinedRow
      val valueRow = new GenericInternalRow(funcsLocal.length)
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val rows = new RowWindow(iter, groups, before, after, maxK(0), maxJ(0))
      val lagBuf = rows.lag
      val leadBuf = rows.lead

      new Iterator[InternalRow] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): InternalRow = {
          val row = rows.current()
          val reach = rows.reach
          var i = 0
          while (i < funcsLocal.length) {
            inits(i)(InternalRow.empty)
            // left-to-right fold over the last k_i trailing rows, the
            // current row, then the next j_i lookahead rows of its group —
            // the same association WindowExec uses
            var p = math.max(0, lagBuf.length - funcsLocal(i).k)
            while (p < lagBuf.length) {
              updates(i)(joinBI(buffers(i), lagBuf(p)))
              p += 1
            }
            var q = 0
            val qEnd = math.min(reach, funcsLocal(i).j + 1)
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

/** Pass 2's row window over one task's rows: `lag` holds up to `behind`
  * rows of the current row's key group before it (oldest first; in the
  * task's first group, seeded with the carry `before`), `lead` the
  * current row and up to `ahead` rows after it (past the task's last row,
  * the carry `after`, which continues its last group), of which the
  * first [[reach]] are in the current row's group. Memory is
  * (behind + ahead + 1) rows; only the task's own rows are emitted. */
private[plans] final class RowWindow(iter: Iterator[InternalRow], groups: GroupCursor,
                                     before: Array[UnsafeRow], after: Array[UnsafeRow],
                                     behind: Int, ahead: Int) {
  val lag = ArrayDeque.from[InternalRow](before)
  val lead = new ArrayDeque[InternalRow]
  private var taken = 0L   // own rows taken into `lead`
  private var emitted = 0L // own rows emitted
  private var afterPos = 0
  // task positions of the group starts taken but not yet current
  private val starts = new ArrayDeque[Long]

  def hasNext: Boolean = emitted < taken || iter.hasNext

  private def take(): Boolean =
    if (iter.hasNext) {
      val r = iter.next().copy() // the scan iterator reuses its row
      if (groups.advance(r)) starts += taken
      lead += r; taken += 1; true
    } else afterPos < after.length && { lead += after(afterPos); afterPos += 1; true }

  /** Fills the lookahead and returns the current row, `lead.head`. */
  def current(): InternalRow = {
    while (lead.length <= ahead && take()) {}
    // the current row starts a group: the history is another group's
    if (starts.nonEmpty && starts.head == emitted) { starts.removeHead(); lag.clear() }
    lead.head
  }

  /** Rows of `lead` in the current row's group, the current one included. */
  def reach: Int = if (starts.isEmpty) lead.length else (starts.head - emitted).toInt

  /** Moves on: the current row becomes lag history. */
  def advance(): Unit = {
    if (behind > 0) {
      lag += lead.head
      if (lag.length > behind) lag.removeHead()
    }
    lead.removeHead()
    emitted += 1
  }
}
