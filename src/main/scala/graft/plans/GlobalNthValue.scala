package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, Expression, GenericInternalRow, IntegerLiteral, JoinedRow, NamedExpression, NthValue, SortOrder, SpecifiedWindowFrame, RangeFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First, Last}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.internal.SQLConf

/** Scale-safe planning for naive global `nth_value` — the last member
  * of the SQL window-function surface without a rescue: `nth_value(x,
  * n) OVER (ORDER BY …)` plans as a SinglePartition WindowExec in
  * stock Spark, the whole table through one task to look up ONE value.
  *
  * The distributed shape is almost embarrassingly simple: over any
  * prefix frame the n-th frame row IS the global n-th row, so its
  * value `V` is a single driver-computable constant, and each row only
  * needs an ELIGIBILITY test — does my frame reach n rows? So: one
  * tiny job collects, per partition, its row count and its first
  * ≤ min(n, cap) input values per function (non-null ones for IGNORE
  * NULLS, plus the non-null count); the driver prefix-sums the counts,
  * finds the partition holding global position n, and reads V out of
  * its collected head — bounded by cap × #functions values per
  * partition, independent of data size AND of n: when n exceeds the
  * cap, a second job targeted at only the owning partition scans
  * forward to the one needed value (no cap, no fallback — see
  * [[GlobalNthValueStrategy.MaxNKey]]).
  * The second pass attaches V where the frame reaches n
  * (global row index for ROWS, tie-run END index for RANGE — peers
  * share their run-end frame; the n-th NON-NULL prefix count for
  * IGNORE NULLS) and NULL elsewhere — exactly the built-in's
  * semantics, at full parallelism.
  *
  * Matched frames: `UNBOUNDED PRECEDING .. CURRENT ROW` (ROWS and
  * RANGE — the bare-ORDER-BY default) and the whole-table
  * `UNBOUNDED .. UNBOUNDED` (eligibility = the table has n rows).
  * Mixed frames / n / ignoreNulls in one node are fine.
  *
  * The ordered `first_value`/`last_value` over a whole-table frame ride
  * the same machinery: first_value IS nth_value(x, 1) (Spark's own
  * OptimizeWindowFunctions rewrites it; matched here too for safety),
  * and last_value is nth_value(x, 1) FROM THE END — the stats pass
  * keeps each partition's last ≤n candidates instead of its first, and
  * the driver reads the value out of the tail-owning partition. That
  * closes the one window shape that previously kept the single-task
  * built-in (Last has no nth_value rewrite upstream). First/Last
  * declare deterministic=false for groupBy reasons, but a whole-table
  * frame over a sorted exchange feeds them rows in exactly the sort
  * order — the same argument GlobalRunningAgg makes.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalNthValueStrategy extends WindowFamily {
  import GlobalNthValueExec.NthF

  /** Candidate-collection cap. The GLOBAL path is NOT bounded by it in
    * n: its stats pass collects at most min(n, cap) candidates per
    * partition, and a value beyond the collected head is fetched by a
    * SECOND job targeted at the one partition that owns global
    * position n — driver state stays ≤ cap values per function per
    * partition and the fetch ships exactly one value, for ANY n. The
    * PER-KEY path keeps the cap as a claiming bound: its per-group
    * heads live in executor memory un-spillably and its stats pass
    * ships up to n edge-group candidates per task, so past the cap the
    * node falls back to the built-in WindowExec, whose growing frame
    * buffers in spillable storage. */
  val MaxNKey = "spark.graft.globalNthValue.maxN"
  private[plans] def maxN: Int =
    SQLConf.get.getConfString(MaxNKey, "4096").toInt

  private def funcOf(e: NamedExpression): Option[NthF] = e match {
    case Alias(WindowExpression(
          NthValue(input, IntegerLiteral(n), ignoreNulls),
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(ft, lo, hi))), _)
        if n > 0 =>
      (lo, hi) match {
        case (UnboundedPreceding, CurrentRow) =>
          Some(NthF(input, n, ignoreNulls, isRange = ft == RangeFrame,
            isFull = false, e.toAttribute))
        case (UnboundedPreceding, UnboundedFollowing) =>
          Some(NthF(input, n, ignoreNulls, isRange = false,
            isFull = true, e.toAttribute))
        case _ => None
      }
    // ordered last_value over the whole-table frame = nth 1 FROM END
    case Alias(WindowExpression(
          AggregateExpression(Last(input, ign), Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
      Some(NthF(input, 1, ignoreNulls = ign, isRange = false,
        isFull = true, e.toAttribute, fromEnd = true))
    // ordered first_value over the whole-table frame = nth 1 (normally
    // rewritten upstream by OptimizeWindowFunctions; matched for safety)
    case Alias(WindowExpression(
          AggregateExpression(First(input, ign), Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
      Some(NthF(input, 1, ignoreNulls = ign, isRange = false,
        isFull = true, e.toAttribute))
    case _ => None
  }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  /** PARTITION BY-rescuable shapes — all matched ones UP TO the n cap
    * (see [[MaxNKey]]: per-group heads and edge-candidate shipping are
    * O(n), so huge n stays with the spillable built-in). Prefix frames
    * stream (the n-th value is always BEHIND the first eligible row);
    * whole-GROUP frames — per-key ordered first/last_value and full
    * nth_value, whose value and group total may lie in LATER tasks —
    * take the edge-segment route: the driver merges every chain
    * slice's bounded candidate list, so each task knows its edge
    * groups' first/last n values and totals, and interior groups are
    * buffered one at a time (slice-bounded). */
  override def claimsPartitioned(e: NamedExpression): Boolean =
    funcOf(e).exists(_.n <= maxN)

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
    Some(GlobalNthValueExec(w.partitionSpec, w.orderSpec,
      w.windowExpressions.map(funcOf(_).get), child))
}

object GlobalNthValueExec {
  /** One nth_value column: `input` at frame position `n` — counted from
    * the frame's END when `fromEnd` (ordered last_value). */
  case class NthF(input: Expression, n: Int, ignoreNulls: Boolean,
                  isRange: Boolean, isFull: Boolean, attr: Attribute,
                  fromEnd: Boolean = false)

  /** A group (slice) count: rows, per function its non-null inputs and
    * its first (last, for fromEnd) counting candidates. */
  private[plans] final case class Counted(rows: Long, nn: Array[Long],
                                          cand: Array[Array[UnsafeRow]])

  /** Counts a key group's rows: rows, non-null inputs and, per function,
    * its first ≤ `caps(i)` counting values (the last ones, a ring, for
    * fromEnd). Pass 1 folds edge groups with it; pass 2 runs it on from
    * the chain seed, a group's n-th value then being `heads(i)(n - 1)`. */
  private[plans] final class Counter(funcs: Array[NthF], caps: Array[Int],
                                     input: Seq[Attribute]) extends GroupFold[Counted] {
    private val projs = funcs.map(f => UnsafeProjection.create(Seq(f.input), input))
    var rows = 0L
    val nn = new Array[Long](funcs.length)
    val heads: Array[ArrayDeque[UnsafeRow]] = Array.fill(funcs.length)(new ArrayDeque[UnsafeRow])

    def reset(): Unit = { rows = 0L; java.util.Arrays.fill(nn, 0L); heads.foreach(_.clear()) }
    def load(c: Counted): Unit = {
      rows = c.rows
      System.arraycopy(c.nn, 0, nn, 0, nn.length)
      heads.indices.foreach { i => heads(i).clear(); heads(i) ++= c.cand(i) }
    }
    def add(row: InternalRow): Unit = {
      var i = 0
      while (i < funcs.length) {
        val f = funcs(i)
        val v = projs(i)(row)
        val isNull = v.isNullAt(0)
        if (!isNull) nn(i) += 1
        if (caps(i) > 0 && !(f.ignoreNulls && isNull)) {
          if (f.fromEnd) {
            heads(i) += v.copy()
            if (heads(i).length > caps(i)) heads(i).removeHead()
          } else if (heads(i).length < caps(i)) heads(i) += v.copy()
        }
        i += 1
      }
      rows += 1
    }
    def snapshot(): Counted = Counted(rows, nn.clone(), heads.map(_.toArray))

    /** Function i's value over a whole group counted here, or null. */
    def whole(i: Int): UnsafeRow = Counter.whole(funcs(i), rows, nn(i), heads(i).toArray)
  }

  private[plans] object Counter {
    /** `f`'s whole-frame value given its group's counts: the n-th
      * counting candidate from the start (from the end, for fromEnd), or
      * null when the group has fewer than n. */
    def whole(f: NthF, rows: Long, nn: Long, cand: Array[UnsafeRow]): UnsafeRow =
      if ((if (f.ignoreNulls) nn else rows) < f.n) null
      else if (f.fromEnd) cand(cand.length - f.n)
      else cand(f.n - 1)
  }
}

/** Physical distributed nth_value on the [[BoundaryScan]]: pass 1 counts
  * each edge group ([[GlobalNthValueExec.Counter]]). Global mode: the
  * driver prefix-sums the counts, reads each function's ONE value out of
  * the owning task's capped head, and fetches a value past the cap with
  * one job over the owning tasks only. Per key (n within the cap): the
  * driver walks each chain, so a task's first group counts on from the
  * slices before it and its edge groups' whole-frame values come from the
  * chain's merged candidates. Pass 2 is one loop for both modes: a row's
  * value is the n-th one once its reach (group-relative row index,
  * tie-run end or non-null count) hits n. */
case class GlobalNthValueExec(partition: Seq[Expression],
                              order: Seq[SortOrder],
                              funcs: Seq[GlobalNthValueExec.NthF],
                              child: SparkPlan) extends GlobalWindowExec {
  import GlobalNthValueExec.{Counted, Counter}

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val nF = funcsLocal.length
    val perKey = partition.nonEmpty
    val anyRange = funcsLocal.exists(_.isRange)
    // per key, whole-group frames buffer one group at a time; otherwise
    // RANGE frames buffer one tie run (runs never span tasks or groups)
    val byGroup = perKey && funcsLocal.exists(_.isFull)
    val unitKeys = if (byGroup) partition else partition ++ order.map(_.child)
    val keyExprs = order.map(_.child)
    val rdd = input()

    // pass 1: per edge group, its counts and ≤ n candidates per function
    // — capped globally (a value past the cap is fetched below)
    val caps = funcsLocal.map(f =>
      if (perKey) f.n else math.min(f.n, GlobalNthValueStrategy.maxN))
    val edges = BoundaryScan.summarize(rdd, partition, childOutput)(
      () => new Counter(funcsLocal, caps, childOutput))

    // per task: the seed its first group counts on from, each function's
    // fixed value (global mode; per key it is the group's own n-th), and
    // the whole-frame values of its first and last group
    val state: Int => (Counted, Array[UnsafeRow], Array[UnsafeRow], Array[UnsafeRow]) =
      if (perKey) {
        val walk = BoundaryScan.walk(edges,
          Counted(0L, new Array[Long](nF), Array.fill(nF)(Array.empty[UnsafeRow])),
          (c: Counted, s: Counted) => Counted(c.rows + s.rows,
            Array.tabulate(nF)(i => c.nn(i) + s.nn(i)),
            Array.tabulate(nF) { i =>
              val all = c.cand(i) ++ s.cand(i)
              if (funcsLocal(i).fromEnd) all.takeRight(caps(i)) else all.take(caps(i))
            }))
        def wholes(c: Counted) = Array.tabulate(nF)(i =>
          if (funcsLocal(i).isFull) Counter.whole(funcsLocal(i), c.rows, c.nn(i), c.cand(i))
          else null)
        p => (walk.seed(p), null, wholes(walk.firstTotal(p)), wholes(walk.lastTotal(p)))
      } else {
        val rowOffsets = edges.map(_.lastS.rows).scanLeft(0L)(_ + _)
        val nnOffsets = Array.tabulate(nF)(i => edges.map(_.lastS.nn(i)).scanLeft(0L)(_ + _))
        val values = globalValues(rdd, edges, rowOffsets, nnOffsets)
        p => (Counted(rowOffsets(p), Array.tabulate(nF)(i => nnOffsets(i)(p)),
          Array.fill(nF)(Array.empty[UnsafeRow])), values, values, values)
      }

    // pass 2: a function's frame reaches position `reach` = group row
    // index (ROWS) / tie-run END index (RANGE, peers share), counted over
    // non-null inputs for IGNORE NULLS; whole-group frames take their
    // group's value
    finish(rdd, edges, state) { (groups, slice, iter) =>
      val (seed, fixed, firstWhole, lastWhole) = slice
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val counter = new Counter(funcsLocal, if (perKey) caps else new Array[Int](nF), childOutput)
      counter.load(seed)
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val joinOut = new JoinedRow
      val vals = new GenericInternalRow(nF)
      var wholes = firstWhole

      // output values for a row whose reach is (rows, nn) for ROWS frames
      // and (endRows, endNn) for RANGE frames, read at offset o / e
      def emit(row: InternalRow, reach: Array[Long], o: Int, e: Int): InternalRow = {
        var i = 0
        while (i < nF) {
          val f = funcsLocal(i)
          val at = if (f.isRange) e else o
          val v =
            if (f.isFull) wholes(i)
            else if (reach(at + (if (f.ignoreNulls) 1 + i else 0)) < f.n) null
            else if (fixed != null) fixed(i)
            else counter.heads(i)(f.n - 1)
          vals.update(i, if (v == null) null else v.get(0, attrTypes(i)))
          i += 1
        }
        outProj(joinOut(row, vals))
      }
      // the counter's reach after each row of a unit: rows, then nn
      val width = 1 + nF
      var reach = new Array[Long](width)
      def record(j: Int): Unit = {
        if (reach.length < (j + 1) * width)
          reach = java.util.Arrays.copyOf(reach, 2 * (j + 1) * width)
        reach(j * width) = counter.rows
        System.arraycopy(counter.nn, 0, reach, j * width + 1, nF)
      }

      if (!anyRange && !byGroup) {
        iter.map { row =>
          if (groups.advance(row)) counter.reset()
          counter.add(row)
          record(0)
          emit(row, reach, 0, 0)
        }
      } else {
        val units = new Runs(iter, UnsafeProjection.create(unitKeys, childOutput),
          if (byGroup) null else KeyRunEquality.create(unitKeys.map(_.dataType)))
        val rangeInGroup = byGroup && anyRange
        val keyProj = if (rangeInGroup) UnsafeProjection.create(keyExprs, childOutput) else null
        val sameRun = if (rangeInGroup) KeyRunEquality.create(keyExprs.map(_.dataType)) else null
        var ends = new Array[Int](0)
        new Iterator[InternalRow] {
          private def fill(): Unit = {
            units.fill()
            val buf = units.rows
            if (groups.advance(buf.head)) counter.reset()
            var j = 0
            while (j < buf.length) { counter.add(buf(j)); record(j); j += 1 }
            // each row's tie-run end: the unit's end when the unit is a
            // tie run, else found walking the group backwards
            if (ends.length < buf.length) ends = new Array[Int](buf.length)
            j = buf.length - 1
            var next: UnsafeRow = null
            while (j >= 0) {
              if (rangeInGroup) {
                val k = keyProj(buf(j)).copy()
                ends(j) = if (next != null && sameRun(k, next)) ends(j + 1) else j
                next = k
              } else ends(j) = buf.length - 1
              j -= 1
            }
            // whole-group values: the chain's for edge groups, the
            // group's own (whole in this task) for the others
            if (byGroup) wholes =
              if (groups.inFirst) firstWhole
              else if (groups.inLast) lastWhole
              else Array.tabulate(nF)(i => if (funcsLocal(i).isFull) counter.whole(i) else null)
          }

          override def hasNext: Boolean = units.hasNext

          override def next(): InternalRow = {
            if (units.exhausted) fill()
            val j = units.pos
            emit(units.next(), reach, j * width, ends(j) * width)
          }
        }
      }
    }
  }

  /** Global mode's values: V_i, input_i at global (non-null) position
    * n_i — counted from the table END for fromEnd functions — read out of
    * the owning task's capped head (tail), or null when the table is too
    * short. Positions past a capped head are fetched by ONE more job over
    * only the owning tasks, each scanning forward to its targets and
    * returning one value per function, so no n inflates a task result. */
  private def globalValues(rdd: RDD[InternalRow], edges: Array[Edge[Counted]],
                           rowOffsets: Array[Long], nnOffsets: Array[Array[Long]])
      : Array[UnsafeRow] = {
    val childOutput = child.output
    val funcsLocal = funcs.toArray
    val nF = funcsLocal.length
    val nParts = edges.length
    val values = new Array[UnsafeRow](nF)
    // (function, owning task, 0-based counting-candidate index in it)
    val needs = new ArrayBuffer[(Int, Int, Long)]
    var i = 0
    while (i < nF) {
      val f = funcsLocal(i)
      val offs = if (f.ignoreNulls) nnOffsets(i) else rowOffsets
      if (offs.last >= f.n) {
        if (f.fromEnd) {
          // 1-based position from the START of the n-th-from-end candidate
          val pos = offs.last - f.n + 1
          val p = (0 until nParts).find(q => offs(q + 1) >= pos).get
          val tail = edges(p).lastS.cand(i)
          // distance from p's last candidate; < n by construction
          val fromEndIdx = offs(p + 1) - pos
          if (fromEndIdx < tail.length) values(i) = tail(tail.length - 1 - fromEndIdx.toInt)
          else needs += ((i, p, offs(p + 1) - offs(p) - 1 - fromEndIdx))
        } else {
          val p = (0 until nParts).find(q => offs(q + 1) >= f.n).get
          val local = f.n - offs(p) - 1
          val head = edges(p).lastS.cand(i)
          if (local < head.length) values(i) = head(local.toInt)
          else needs += ((i, p, local))
        }
      }
      i += 1
    }
    if (needs.nonEmpty) {
      val byPart: Map[Int, Array[(Int, Long)]] =
        needs.groupBy(_._2).map { case (p, ns) => p -> ns.map(t => (t._1, t._3)).toArray }
      val fetched = rdd.sparkContext.runJob(rdd,
        (ctx: org.apache.spark.TaskContext, iter: Iterator[InternalRow]) => {
          val mine = byPart(ctx.partitionId())
          val projs = mine.map { case (fi, _) =>
            UnsafeProjection.create(Seq(funcsLocal(fi).input), childOutput)
          }
          val res = new Array[UnsafeRow](mine.length)
          val seen = new Array[Long](mine.length)
          var found = 0
          while (iter.hasNext && found < mine.length) {
            val row = iter.next()
            var j = 0
            while (j < mine.length) {
              if (res(j) == null) {
                val v = projs(j)(row)
                if (!(funcsLocal(mine(j)._1).ignoreNulls && v.isNullAt(0))) {
                  if (seen(j) == mine(j)._2) { res(j) = v.copy(); found += 1 }
                  seen(j) += 1
                }
              }
              j += 1
            }
          }
          (ctx.partitionId(), res)
        }, byPart.keys.toSeq.sorted)
      fetched.foreach { case (p, res) =>
        val mine = byPart(p)
        mine.indices.foreach { j =>
          // pass 1 counted enough candidates in p — the target exists
          require(res(j) != null,
            s"nth_value fetch missed candidate ${mine(j)._2} in partition $p")
          values(mine(j)._1) = res(j)
        }
      }
    }
    values
  }
}
