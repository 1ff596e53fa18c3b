package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, MutableProjection, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical shape shared by the window rescue execs: the child is range
  * exchanged and sorted on (partition keys ⧺ `order`), so each key's
  * rows are contiguous, a hot key spans tasks, and equal full sort keys
  * share a partition — a tie run never crosses a task edge. */
abstract class GlobalWindowExec extends UnaryExecNode {
  def partition: Seq[Expression]
  /** The sort after the partition keys: the window's ORDER BY (reversed
    * for suffix frames; spread keys for per-key constants). */
  def order: Seq[SortOrder]

  protected def partOrders: Seq[SortOrder] = partition.map(SortOrder(_, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(partOrders ++ order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(partOrders ++ order)
  override def outputOrdering: Seq[SortOrder] = partOrders ++ order
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The child's rows, every tie run of the required ordering in one
    * task. Spark's OrderedDistribution is also met by a range
    * partitioning on a LONGER ordering — a rescue over (k) stacked on
    * one over (k, id), or a window over a global sort on (k, id) — which
    * splits ties across tasks; such rows are range-exchanged again here
    * on the required ordering. */
  protected def input(): RDD[InternalRow] =
    (requiredChildDistribution.head, child.outputPartitioning) match {
      case (OrderedDistribution(req), RangePartitioning(o, n)) if o.length > req.length =>
        SortExec(req, global = false,
          ShuffleExchangeExec(RangePartitioning(req, n), child)).execute()
      case _ => child.execute()
    }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    makeCopy(mapProductIterator {
      case _: SparkPlan => newChild
      case arg => arg.asInstanceOf[AnyRef]
    })
}

/** One task's slice of a key group in an [[EdgeChains]] chain: the
  * task's first group, its last group, or both when it holds one. */
private[plans] final case class EdgeSlice(p: Int, isFirst: Boolean, isLast: Boolean)

/** The driver's walk over the tasks' edge key groups. */
private[plans] object EdgeChains {
  /** Chains of equal adjacent edge groups, in task order. `first(p)` and
    * `last(p)` are task p's first and last key groups (null when it is
    * empty; with no partition keys every task is one empty-keyed group).
    * Groups are contiguous under the range sort, so a group that spans
    * tasks is exactly one chain — the last slice of the task where it
    * starts, any one-group tasks after it, the first slice of the task
    * where it ends — and every group inside a task is whole there. At
    * most two slices per task: driver work independent of data size. */
  def apply(first: Array[UnsafeRow], last: Array[UnsafeRow]): Seq[IndexedSeq[EdgeSlice]] = {
    val slices = new ArrayBuffer[(EdgeSlice, UnsafeRow)]
    var p = 0
    while (p < first.length) {
      if (first(p) != null) {
        if (last(p).equals(first(p))) slices += ((EdgeSlice(p, true, true), first(p)))
        else {
          slices += ((EdgeSlice(p, true, false), first(p)))
          slices += ((EdgeSlice(p, false, true), last(p)))
        }
      }
      p += 1
    }
    val chains = new ArrayBuffer[IndexedSeq[EdgeSlice]]
    var i = 0
    while (i < slices.length) {
      var j = i + 1
      while (j < slices.length && slices(j)._2.equals(slices(i)._2)) j += 1
      chains += slices.slice(i, j).map(_._1).toIndexedSeq
      i = j
    }
    chains.toSeq
  }
}

/** Boundary rows for frames that reach a fixed number of rows back and
  * ahead (lag/lead, sliding ROWS frames). */
private[plans] object EdgeRows {
  /** One job collects each partition's row count, first `ahead` and last
    * `behind` rows (full child rows: the frame may read any column); the
    * driver then gives partition p the `behind` rows before it and the
    * `ahead` rows after it, walking through partitions shorter than the
    * reach. Shipped rows are bounded by (behind + ahead) × partitions
    * and may belong to another partition key: callers clip at keys.
    * Returns (counts, predecessor tails oldest first, successor heads). */
  def apply(rdd: RDD[InternalRow], output: Seq[Attribute], behind: Int, ahead: Int)
      : (Array[Long], Array[Array[UnsafeRow]], Array[Array[UnsafeRow]]) = {
    val stats: Array[(Long, Array[UnsafeRow], Array[UnsafeRow])] =
      rdd.sparkContext.runJob(rdd, (iter: Iterator[InternalRow]) => {
        val toUnsafe = UnsafeProjection.create(output, output)
        var cnt = 0L
        val head = new ArrayBuffer[UnsafeRow]
        // ring of the last `behind` rows
        val tail = new Array[UnsafeRow](math.max(behind, 1))
        while (iter.hasNext) {
          val u = toUnsafe(iter.next())
          if (cnt < ahead) head += u.copy()
          if (behind > 0) tail((cnt % behind).toInt) = u.copy()
          cnt += 1
        }
        val tailSeq =
          if (behind == 0 || cnt == 0) Array.empty[UnsafeRow]
          else {
            val n = math.min(cnt, behind).toInt
            // oldest-to-newest of the last n rows
            Array.tabulate(n)(i => tail(((cnt - n + i) % behind).toInt))
          }
        (cnt, head.toArray, tailSeq)
      })
    val nParts = stats.length
    def predecessorTail(p: Int): Array[UnsafeRow] = {
      val out = new ArrayBuffer[UnsafeRow]
      var i = p - 1
      while (i >= 0 && out.length < behind) {
        val t = stats(i)._3
        // newest-missing-first from the end of partition i's tail
        var j = t.length - 1
        while (j >= 0 && out.length < behind) { out += t(j); j -= 1 }
        i -= 1
      }
      out.reverse.toArray // oldest-to-newest
    }
    def successorHead(p: Int): Array[UnsafeRow] = {
      val out = new ArrayBuffer[UnsafeRow]
      var i = p + 1
      while (i < nParts && out.length < ahead) {
        val h = stats(i)._2
        var j = 0
        while (j < h.length && out.length < ahead) { out += h(j); j += 1 }
        i += 1
      }
      out.toArray
    }
    (stats.map(_._1), Array.tabulate(nParts)(predecessorTail),
      Array.tabulate(nParts)(successorHead))
  }

  /** The row window over one partition: `lag` holds up to `behind` rows
    * before the current one (oldest first, seeded with the stitched
    * predecessor tail), `lead` the current row and up to `ahead` rows
    * after it (past the partition end, the stitched successor head).
    * Memory is (behind + ahead + 1) rows; only the partition's own
    * `count` rows are emitted. */
  final class Cursor(iter: Iterator[InternalRow], count: Long,
                     preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow],
                     behind: Int, ahead: Int) {
    val lag = new ArrayDeque[InternalRow]
    preTail.foreach(lag += _)
    val lead = new ArrayDeque[InternalRow]
    // copies: the scan iterator reuses its row
    private val source: Iterator[InternalRow] = iter.map(_.copy()) ++ sucHead.iterator
    /** Rows of this partition emitted so far. */
    var emitted = 0L

    def hasNext: Boolean = emitted < count

    /** Fills the lookahead and returns the current row, `lead.head`. */
    def current(): InternalRow = {
      while (lead.length < ahead + 1 && source.hasNext) lead += source.next()
      lead.head
    }

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
}

/** Per-function fold machinery for frames re-aggregated row by row
  * (sliding ROWS and RANGE-interval frames): each aggregate gets its
  * own buffer, init and update projections bound to it, and an
  * evaluation. Call inside the task (the projections are generated). */
private[plans] object FrameFolds {
  def apply(aggs: Array[DeclarativeAggregate], input: Seq[Attribute])
      : (Array[SpecificInternalRow], Array[MutableProjection],
        Array[MutableProjection], Array[UnsafeProjection]) = {
    val buffers = aggs.map(a =>
      new SpecificInternalRow(a.aggBufferAttributes.map(_.dataType)))
    val inits = aggs.indices.map { i =>
      MutableProjection.create(aggs(i).initialValues, Nil).target(buffers(i))
    }.toArray
    val updates = aggs.indices.map { i =>
      MutableProjection.create(aggs(i).updateExpressions,
        aggs(i).aggBufferAttributes ++ input).target(buffers(i))
    }.toArray
    val evals = aggs.map(a =>
      UnsafeProjection.create(Seq(a.evaluateExpression), a.aggBufferAttributes))
    (buffers, inits, updates, evals)
  }
}

/** A sorted partition cut into runs of rows with equal projected keys —
  * tie runs on the sort key, or key groups on the partition keys — and
  * handed out one run at a time. Rows are copied (the scan iterator
  * reuses its row), so memory is one run: WindowExec's own buffering
  * granularity, per range slice instead of per hash partition. `same`
  * compares two projected keys; null compares their bytes. */
private[plans] final class Runs(iter: Iterator[InternalRow], key: UnsafeProjection,
                                same: (UnsafeRow, UnsafeRow) => Boolean = null) {
  /** The current run. */
  val rows = new ArrayBuffer[InternalRow]
  /** Index in `rows` of the next row to hand out. */
  var pos = 0
  private var loaded = 0
  private var pending: InternalRow = _

  def hasNext: Boolean = pos < rows.length || pending != null || iter.hasNext
  /** The current run is used up: `fill` loads the next. */
  def exhausted: Boolean = pos >= rows.length
  /** The current run is the partition's first. */
  def isFirst: Boolean = loaded == 1
  /** No run follows the current one. */
  def isLast: Boolean = pending == null && !iter.hasNext

  def fill(): Unit = {
    rows.clear(); pos = 0
    if (pending != null) { rows += pending; pending = null }
    else if (iter.hasNext) rows += iter.next().copy()
    else return
    loaded += 1
    val k = key(rows.head).copy()
    var more = true
    while (more && iter.hasNext) {
      val r = iter.next().copy()
      val rk = key(r)
      if (if (same == null) rk.equals(k) else same(rk, k)) rows += r
      else { pending = r; more = false }
    }
  }

  def next(): InternalRow = { val r = rows(pos); pos += 1; r }
}
