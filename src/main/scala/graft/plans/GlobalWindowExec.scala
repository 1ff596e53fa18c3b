package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, MutableProjection, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical shape shared by the window rescue execs: the child is range
  * exchanged and sorted on (partition keys ⧺ `order`), so each key's
  * rows are contiguous, a hot key spans tasks, and equal full sort keys
  * share a partition — a tie run never crosses a task edge.
  *
  * Every family (ranking, lag/lead, running and suffix, sliding ROWS
  * frames, group constants, RANGE frames, nth_value) shares one
  * boundary protocol, written once in [[BoundaryScan]], [[GroupCursor]]
  * and [[finish]]. Under that sort a key group that spans tasks does so
  * only through task edges — the last group of the task where it
  * starts, any one-group tasks after it, the first group of the task
  * where it ends — and every other group is whole inside one task. So:
  *  - fold: one job folds each task's rows group by group with the
  *    family's [[GroupFold]] and returns its first and last group's
  *    summaries ([[Edge]]), all a neighbour can ever need;
  *  - walk: the driver chains equal adjacent edge groups and folds each
  *    chain left to right — each task's first-group seed is the carry
  *    of the slices before it, each edge slot gets the whole chain's
  *    total — and, for the families that read ahead (lead, sliding and
  *    RANGE frames), right to left. At most two slices per task: driver
  *    work is independent of data size;
  *  - cursor: pass 2 starts each task in its first group, which takes
  *    the seed, and the family resets its state at every later group,
  *    which is whole in the task.
  * With no partition keys every task is one empty-keyed group and one
  * chain spans the table: the walk is the classic prefix scan. */
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

  /** Pass 2 of [[BoundaryScan]]: `f` runs over each task's rows with a
    * [[GroupCursor]] on its edge groups and `state(p)`, shipped to task p
    * alone ([[PerPartition.stitch]]). */
  protected def finish[T: ClassTag](rdd: RDD[InternalRow], edges: Array[_ <: Edge[_]],
      state: Int => T)(f: (GroupCursor, T, Iterator[InternalRow]) => Iterator[InternalRow])
      : RDD[InternalRow] = {
    val keys = partition
    val input = child.output
    PerPartition.stitch(rdd, edges.indices.map(p => (edges(p).first, edges(p).last, state(p)))) {
      case ((first, last, t), iter) => f(new GroupCursor(keys, input, first, last), t, iter)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    makeCopy(mapProductIterator {
      case _: SparkPlan => newChild
      case arg => arg.asInstanceOf[AnyRef]
    })
}

/** A family's per-group summary for the boundary scan's pass 1. The
  * scan builds it in the task (projections are generated there) in the
  * reset state, adds each key group's rows in order, snapshots it at the
  * end of the task's first and last group and resets it in between. */
private[plans] trait GroupFold[S] {
  def reset(): Unit
  def add(row: InternalRow): Unit
  /** The current group's summary, sharing no mutable state with the fold. */
  def snapshot(): S
}

/** One task's pass-1 result: its first and last key groups (null when it
  * is empty) and their summaries (the same one when it holds one group). */
private[plans] final case class Edge[S](first: UnsafeRow, last: UnsafeRow,
                                        firstS: S, lastS: S)

/** One task's slice of a key group that may cross task edges: the task's
  * first group, its last group, or both when it holds one. */
private[plans] final case class EdgeSlice(p: Int, isFirst: Boolean, isLast: Boolean)

/** What the driver's chain walk hands each task: the carry of the chain
  * slices before its first group (`seed`), the whole chain of its first
  * and of its last group (`firstTotal`, `lastTotal`) and the back carry
  * of the slices after its last group (`after`). */
private[plans] final class Walk[C](val seed: Array[C], val firstTotal: Array[C],
                                   val lastTotal: Array[C], val after: Array[C])

/** The boundary protocol's fold and walk ([[GlobalWindowExec]]). */
private[plans] object BoundaryScan {
  /** Pass 1, one job over the materialized exchange. */
  def summarize[S](rdd: RDD[InternalRow], keys: Seq[Expression], input: Seq[Attribute])
                  (fold: () => GroupFold[S]): Array[Edge[S]] =
    rdd.sparkContext.runJob(rdd, (iter: Iterator[InternalRow]) => {
      val groupOf = UnsafeProjection.create(keys, input)
      val grouped = keys.nonEmpty
      val f = fold()
      var first: UnsafeRow = null
      var cur: UnsafeRow = null
      var firstS: Option[S] = None
      while (iter.hasNext) {
        val row = iter.next()
        if (cur == null) { cur = groupOf(row).copy(); first = cur }
        else if (grouped) {
          val g = groupOf(row)
          if (!g.equals(cur)) {
            if (firstS.isEmpty) firstS = Some(f.snapshot())
            cur = g.copy(); f.reset()
          }
        }
        f.add(row)
      }
      val lastS = f.snapshot()
      Edge(first, cur, firstS.getOrElse(lastS), lastS)
    })

  /** Chains of equal adjacent edge groups, in task order. */
  private def chains(edges: Array[_ <: Edge[_]]): Seq[IndexedSeq[EdgeSlice]] = {
    val slices = new ArrayBuffer[(EdgeSlice, UnsafeRow)]
    edges.indices.foreach { p =>
      val e = edges(p)
      if (e.first != null) {
        if (e.last.equals(e.first)) slices += ((EdgeSlice(p, true, true), e.first))
        else {
          slices += ((EdgeSlice(p, true, false), e.first))
          slices += ((EdgeSlice(p, false, true), e.last))
        }
      }
    }
    val out = new ArrayBuffer[IndexedSeq[EdgeSlice]]
    var i = 0
    while (i < slices.length) {
      var j = i + 1
      while (j < slices.length && slices(j)._2.equals(slices(i)._2)) j += 1
      out += slices.slice(i, j).map(_._1).toIndexedSeq
      i = j
    }
    out.toSeq
  }

  /** The driver walk: `step` folds a slice's summary into the carry from
    * `zero` along each chain, `back` (when given) from its end. Tasks in
    * no chain (empty ones) get `zero` everywhere. */
  def walk[S, C: ClassTag](edges: Array[Edge[S]], zero: C, step: (C, S) => C,
                           back: (S, C) => C = null): Walk[C] = {
    val w = new Walk(Array.fill(edges.length)(zero), Array.fill(edges.length)(zero),
      Array.fill(edges.length)(zero), Array.fill(edges.length)(zero))
    chains(edges).foreach { chain =>
      val sums = chain.map(s => if (s.isLast) edges(s.p).lastS else edges(s.p).firstS)
      var c = zero
      chain.indices.foreach { i =>
        if (chain(i).isFirst) w.seed(chain(i).p) = c
        c = step(c, sums(i))
      }
      chain.foreach { s =>
        if (s.isFirst) w.firstTotal(s.p) = c
        if (s.isLast) w.lastTotal(s.p) = c
      }
      if (back != null) {
        var b = zero
        chain.indices.reverse.foreach { i =>
          if (chain(i).isLast) w.after(chain(i).p) = b
          b = back(sums(i), b)
        }
      }
    }
    w
  }
}

/** Pass 2's view of key groups: it starts in the task's first group, which
  * keeps its seed, and reports every change to a later group. Build it in
  * the task; with no partition keys the task is one group. */
private[plans] final class GroupCursor(keys: Seq[Expression], input: Seq[Attribute],
                                       first: UnsafeRow, last: UnsafeRow) {
  private val groupOf = if (keys.isEmpty) null else UnsafeProjection.create(keys, input)
  private var cur = first
  /** The current group is the task's first. */
  var inFirst = true

  /** Moves to `row`'s group; true when that is a new group. */
  def advance(row: InternalRow): Boolean = groupOf != null && {
    val g = groupOf(row)
    !g.equals(cur) && { cur = g.copy(); inFirst = false; true }
  }

  /** The current group is the task's last. */
  def inLast: Boolean = groupOf == null || cur.equals(last)
}

/** A key group's first and last rows per channel, projected: what the
  * fixed-reach families (lag/lead, sliding ROWS frames) need of a task's
  * edge groups. */
private[plans] final case class Ends(head: Array[Array[UnsafeRow]],
                                     tail: Array[Array[UnsafeRow]])

private[plans] object Ends {
  /** Pass 1's fold: channel c keeps copies of `exprs(c)` over the group's
    * first `ahead(c)` and last `behind(c)` rows, skipping the rows where
    * it is null when `skipNulls(c)`. Build it in the task. */
  final class Fold(exprs: Array[Seq[Expression]], input: Seq[Attribute],
                   skipNulls: Array[Boolean], ahead: Array[Int], behind: Array[Int])
      extends GroupFold[Ends] {
    private val projs = exprs.map(UnsafeProjection.create(_, input))
    private val heads = Array.fill(exprs.length)(new ArrayBuffer[UnsafeRow])
    private val tails = Array.fill(exprs.length)(new ArrayDeque[UnsafeRow])
    def reset(): Unit = { heads.foreach(_.clear()); tails.foreach(_.clear()) }
    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < projs.length) {
        val v = projs(c)(row)
        val inHead = heads(c).length < ahead(c)
        if ((inHead || behind(c) > 0) && !(skipNulls(c) && v.isNullAt(0))) {
          val u = v.copy()
          if (inHead) heads(c) += u
          if (behind(c) > 0) {
            tails(c) += u
            if (tails(c).length > behind(c)) tails(c).removeHead()
          }
        }
        c += 1
      }
    }
    def snapshot(): Ends = Ends(heads.map(_.toArray), tails.map(_.toArray))
  }

  /** The chain walk over [[Fold]]'s summaries: per channel, each task's
    * first group gets the newest `behind(c)` rows of the slices before it
    * (`seed`), its last group the oldest `ahead(c)` of those after it
    * (`after`). */
  def walk(edges: Array[Edge[Ends]], ahead: Array[Int], behind: Array[Int])
      : Walk[Array[Array[UnsafeRow]]] = {
    val n = ahead.length
    BoundaryScan.walk(edges, Array.fill(n)(Array.empty[UnsafeRow]),
      (c: Array[Array[UnsafeRow]], s: Ends) =>
        Array.tabulate(n)(i => (c(i) ++ s.tail(i)).takeRight(behind(i))),
      (s: Ends, c: Array[Array[UnsafeRow]]) =>
        Array.tabulate(n)(i => (s.head(i) ++ c(i)).take(ahead(i))))
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

/** One buffer over declarative aggregates, their buffers concatenated,
  * with its init, update, merge and evaluate projections — the machinery
  * AggregationIterator drives, for the running and constant families.
  * Build it where it runs (the projections are generated); `input` is the
  * schema of the rows `update` reads. As a [[GroupFold]] it sums a group. */
private[plans] final class AggBuffer(aggs: Seq[DeclarativeAggregate], input: Seq[Attribute])
    extends GroupFold[UnsafeRow] {
  private val attrs = aggs.flatMap(_.aggBufferAttributes)
  private val types = attrs.map(_.dataType).toArray
  private val buf = new SpecificInternalRow(attrs.map(_.dataType))
  private val init = MutableProjection.create(aggs.flatMap(_.initialValues), Nil).target(buf)
  private lazy val upd = MutableProjection.create(
    aggs.flatMap(_.updateExpressions), attrs ++ input).target(buf)
  private lazy val mrg = MutableProjection.create(aggs.flatMap(_.mergeExpressions),
    attrs ++ aggs.flatMap(_.inputAggBufferAttributes)).target(buf)
  private lazy val evalProj = UnsafeProjection.create(aggs.map(_.evaluateExpression), attrs)
  private lazy val toUnsafe = UnsafeProjection.create(attrs, attrs)
  private val join = new JoinedRow
  reset()

  def reset(): Unit = init(InternalRow.empty)
  def add(row: InternalRow): Unit = upd(join(buf, row))
  /** Merges a partial buffer, a [[snapshot]] of another. */
  def merge(partial: InternalRow): Unit = mrg(join(buf, partial))
  /** The aggregates' values (the projection's reused row). */
  def eval(): UnsafeRow = evalProj(buf)
  def snapshot(): UnsafeRow = toUnsafe(buf).copy()
  /** Takes a snapshot's values. */
  def load(s: InternalRow): Unit = {
    var i = 0
    while (i < types.length) { buf.update(i, s.get(i, types(i))); i += 1 }
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
