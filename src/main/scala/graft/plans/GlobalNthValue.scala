package graft.plans

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
  * Opt-out: shares `spark.graft.globalRowNumber.enabled`.
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

  /** Per-task edge-group stats: first/last group keys; per function,
    * each edge group's slice (rows, non-nulls, first — last for
    * fromEnd — ≤n counting candidates). With no partition spec the task
    * is one group. Top-level (not method-local) so the serialized task
    * result carries no $outer. */
  private[plans] case class Edge(
      firstG: UnsafeRow, lastG: UnsafeRow,
      rowsFirst: Long, nnFirst: Array[Long],
      candFirst: Array[Array[UnsafeRow]],
      rowsLast: Long, nnLast: Array[Long],
      candLast: Array[Array[UnsafeRow]])
}

/** Physical distributed nth_value: stats pass (row/non-null counts +
  * bounded per-partition heads), driver lookup of the ONE value each
  * function ever emits, then a narrow eligibility pass. PARTITIONED
  * (prefix frames only): the n-th value becomes a per-group HEAD,
  * streamed — each task's first group is seeded with the driver-walked
  * chain of predecessor edge-slice candidates (bounded by n per
  * function per task), interior groups collect their own. */
case class GlobalNthValueExec(partition: Seq[Expression],
                              order: Seq[SortOrder],
                              funcs: Seq[GlobalNthValueExec.NthF],
                              child: SparkPlan) extends GlobalWindowExec {
  import GlobalNthValueExec.Edge

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  /** Pass 1 for both paths: per task, its first and last key group's
    * slice — row and non-null counts, and per function the first (last
    * for fromEnd, a bounded ring) ≤ `caps(f)` counting candidates. */
  private def edgeStats(rdd: RDD[InternalRow], caps: Array[Int]): Array[Edge] = {
    val childOutput = child.output
    val partExprs = partition
    val funcsLocal = funcs.toArray
    val nF = funcsLocal.length
    rdd.sparkContext.runJob(rdd, (iter: Iterator[InternalRow]) => {
      val groupProj = UnsafeProjection.create(partExprs, childOutput)
      val projs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.input), childOutput))
      var firstG: UnsafeRow = null
      var curG: UnsafeRow = null
      var rows = 0L
      var nn = new Array[Long](nF)
      var cand = Array.fill(nF)(
        new scala.collection.mutable.ArrayBuffer[UnsafeRow])
      var rowsFirst = -1L
      var nnFirst: Array[Long] = null
      var candFirst: Array[Array[UnsafeRow]] = null
      while (iter.hasNext) {
        val row = iter.next()
        val g = groupProj(row)
        if (curG == null) { curG = g.copy(); firstG = curG }
        else if (!g.equals(curG)) {
          if (rowsFirst < 0) { // the first group just ended
            rowsFirst = rows; nnFirst = nn; candFirst = cand.map(_.toArray)
          }
          curG = g.copy(); rows = 0L; nn = new Array[Long](nF)
          cand = Array.fill(nF)(
            new scala.collection.mutable.ArrayBuffer[UnsafeRow])
        }
        var i = 0
        while (i < nF) {
          val f = funcsLocal(i)
          val v = projs(i)(row)
          val isNull = v.isNullAt(0)
          if (!isNull) nn(i) += 1
          val counts = if (f.ignoreNulls) !isNull else true
          if (counts) {
            if (f.fromEnd) {
              cand(i) += v.copy()
              if (cand(i).length > caps(i)) cand(i).remove(0)
            } else if (cand(i).length < caps(i)) cand(i) += v.copy()
          }
          i += 1
        }
        rows += 1
      }
      val candArr = cand.map(_.toArray)
      if (rowsFirst < 0) { rowsFirst = rows; nnFirst = nn; candFirst = candArr }
      Edge(firstG, curG, rowsFirst, nnFirst, candFirst, rows, nn, candArr)
    })
  }

  /** Per-key path: one stats job ships each task's edge-group slice
    * candidates (first ≤ n counting values of the FIRST and LAST key
    * group, with row/non-null slice counts); the driver walks the task
    * chain accumulating each first group's seed (candidates + counts);
    * pass 2 streams — per group, the head fills from the seed then
    * from local rows, and a row's value is head(n-1) once its reach
    * (group-relative row index / tie-run end / non-null count) hits n.
    * RANGE functions buffer one tie run (runs never span tasks OR
    * groups: the range exchange keys on the FULL (key ⧺ order) tuple). */
  private def doExecutePartitioned(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val partExprs = partition
    val funcsLocal = funcs.toArray
    val nF = funcsLocal.length
    val keyExprs = order.map(_.child)
    val anyRange = funcsLocal.exists(_.isRange)
    val anyFull = funcsLocal.exists(_.isFull)
    val rdd = input()

    // edge stats: per function ≤ n candidates of each edge group — the
    // only slices neighbors can see
    val stats = edgeStats(rdd, funcsLocal.map(_.n))
    val nParts = stats.length

    // driver chain pass: each chain of equal edge groups
    // ([[EdgeChains]]) is one task-crossing group. One walk yields BOTH
    // products:
    //  - prefix seeds (the carry of PRECEDING slices in the chain) for
    //    the streaming prefix-frame path, and
    //  - whole-chain merges (total rows/non-nulls + the merged bounded
    //    candidate list) for the whole-GROUP-frame functions, assigned
    //    to every member task's first/last slot.
    // Driver state: ≤ 2 slices × (counts + n values per function)
    // per task, independent of data size.
    val seedRows = new Array[Long](nParts)
    val seedNn = Array.fill(nParts)(new Array[Long](nF))
    val seedCand: Array[Array[Array[UnsafeRow]]] =
      Array.fill(nParts)(Array.fill(nF)(Array.empty[UnsafeRow]))
    val fullRowsFirst = new Array[Long](nParts)
    val fullRowsLast = new Array[Long](nParts)
    val fullNnFirst = Array.fill(nParts)(new Array[Long](nF))
    val fullNnLast = Array.fill(nParts)(new Array[Long](nF))
    val fullCandFirst: Array[Array[Array[UnsafeRow]]] =
      Array.fill(nParts)(Array.fill(nF)(Array.empty[UnsafeRow]))
    val fullCandLast: Array[Array[Array[UnsafeRow]]] =
      Array.fill(nParts)(Array.fill(nF)(Array.empty[UnsafeRow]))
    EdgeChains(stats.map(_.firstG), stats.map(_.lastG)).foreach { chain =>
      val run = chain.map { s =>
        val e = stats(s.p)
        if (s.isLast) (s, e.rowsLast, e.nnLast, e.candLast)
        else (s, e.rowsFirst, e.nnFirst, e.candFirst)
      }
      // whole-chain merge
      val mergedRows = run.map(_._2).sum
      val mergedNn = Array.tabulate(nF)(f => run.map(_._3(f)).sum)
      val mergedCand = Array.tabulate(nF) { f =>
        val all = run.flatMap(_._4(f))
        if (funcsLocal(f).fromEnd) all.takeRight(funcsLocal(f).n).toArray
        else all.take(funcsLocal(f).n).toArray
      }
      // prefix carries + assignment
      var accRows = 0L
      val accNn = new Array[Long](nF)
      var accCand: Array[Array[UnsafeRow]] = Array.fill(nF)(Array.empty)
      run.foreach { case (s, rows, nn, cand) =>
        if (s.isFirst) {
          seedRows(s.p) = accRows
          seedNn(s.p) = accNn.clone()
          seedCand(s.p) = accCand.map(identity)
          fullRowsFirst(s.p) = mergedRows
          fullNnFirst(s.p) = mergedNn
          fullCandFirst(s.p) = mergedCand
        }
        if (s.isLast) {
          fullRowsLast(s.p) = mergedRows
          fullNnLast(s.p) = mergedNn
          fullCandLast(s.p) = mergedCand
        }
        accRows += rows
        var f = 0
        while (f < nF) {
          accNn(f) += nn(f)
          if (funcsLocal(f).fromEnd) {
            // prefix seeds are never read by fromEnd (isFull) funcs
          } else if (accCand(f).length < funcsLocal(f).n)
            accCand(f) = (accCand(f) ++ cand(f)).take(funcsLocal(f).n)
          f += 1
        }
      }
    }

    // pass 2: per group, reach counters seeded for the first group,
    // head = seed candidates then local rows; value = head(n-1) once
    // the reach hits n; each task ships only its own seeds/chain
    // merges ([[PerPartition.stitch]])
    PerPartition.stitch(rdd, (0 until nParts).map(p =>
      (seedRows(p), seedNn(p), seedCand(p), fullRowsFirst(p), fullRowsLast(p),
        fullNnFirst(p), fullNnLast(p), fullCandFirst(p), fullCandLast(p)))) {
      (slice, iter) =>
      val (seedRowP, seedNnP, seedCandP, fullRowsFirstP, fullRowsLastP,
        fullNnFirstP, fullNnLastP, fullCandFirstP, fullCandLastP) = slice
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val groupProj = UnsafeProjection.create(partExprs, childOutput)
      val projs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.input), childOutput))
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val joinOut = new JoinedRow
      var curG: UnsafeRow = null
      var relIdx = seedRowP
      var nnRel = seedNnP.clone()
      val heads = Array.tabulate(nF)(i =>
        scala.collection.mutable.ArrayBuffer[UnsafeRow](seedCandP(i): _*))

      def resetGroup(): Unit = {
        relIdx = 0L
        java.util.Arrays.fill(nnRel, 0L)
        heads.foreach(_.clear())
      }
      def groupCheck(row: InternalRow): Unit = {
        val g = groupProj(row)
        if (curG == null) curG = g.copy()
        else if (!g.equals(curG)) { curG = g.copy(); resetGroup() }
      }
      // consume one row into the group state (frame includes CURRENT
      // ROW); fromEnd functions keep the LAST ≤n candidates (ring)
      def consume(row: InternalRow): Unit = {
        var i = 0
        while (i < nF) {
          val f = funcsLocal(i)
          val v = projs(i)(row)
          val isNull = v.isNullAt(0)
          if (!isNull) nnRel(i) += 1
          val counts = if (f.ignoreNulls) !isNull else true
          if (counts) {
            if (f.fromEnd) {
              heads(i) += v.copy()
              if (heads(i).length > f.n) heads(i).remove(0)
            } else if (heads(i).length < f.n) heads(i) += v.copy()
          }
          i += 1
        }
        relIdx += 1
      }
      def mkVals(rowIdx: Long, rowNn: Array[Long],
                 endIdx: Long, endNn: Array[Long]): GenericInternalRow = {
        val vals = new GenericInternalRow(nF)
        var i = 0
        while (i < nF) {
          val f = funcsLocal(i)
          val reach =
            if (f.isRange) { if (f.ignoreNulls) endNn(i) else endIdx }
            else { if (f.ignoreNulls) rowNn(i) else rowIdx }
          vals.update(i,
            if (reach >= f.n) heads(i)(f.n - 1).get(0, attrTypes(i))
            else null)
          i += 1
        }
        vals
      }

      if (anyFull) {
        // whole-GROUP frames present: buffer one group at a time
        // (slice-bounded, WindowExec's own buffering granularity).
        // Edge groups take the driver's whole-chain merge (candidates
        // + totals); interior groups are whole by contiguity, so their
        // own slice IS the group. Prefix functions in the same node
        // ride along: per-row reach snapshots against the final group
        // head (the n-th counting candidate is position-stable).
        val keyProj =
          if (anyRange) UnsafeProjection.create(keyExprs, childOutput) else null
        val sameRun =
          if (anyRange) KeyRunEquality.create(keyExprs.map(_.dataType)) else null
        val groups = new Runs(iter, groupProj)
        new Iterator[InternalRow] {
          private val rowIdxs = new scala.collection.mutable.ArrayBuffer[Long]
          private val rowNns = new scala.collection.mutable.ArrayBuffer[Array[Long]]
          private var endIdxs: Array[Int] = Array.emptyIntArray
          // per-group values of the whole-frame functions (one per func)
          private val fullVals = new Array[Any](nF)

          private def fillGroup(): Unit = {
            groups.fill(); rowIdxs.clear(); rowNns.clear()
            val buf = groups.rows
            val isFirst = groups.isFirst
            val isLast = groups.isLast
            // prefix counters/heads: seeded for the task's first group
            relIdx = if (isFirst) seedRowP else 0L
            nnRel = if (isFirst) seedNnP.clone() else new Array[Long](nF)
            heads.indices.foreach { i =>
              heads(i).clear()
              if (isFirst) heads(i) ++= seedCandP(i)
            }
            var j = 0
            while (j < buf.length) {
              consume(buf(j))
              rowIdxs += relIdx
              rowNns += nnRel.clone()
              j += 1
            }
            // RANGE prefix functions: map each row to its tie-run END
            // (runs never span tasks or groups)
            if (anyRange) {
              if (endIdxs.length < buf.length)
                endIdxs = new Array[Int](buf.length)
              var k = buf.length - 1
              var runEnd = k
              var nextKey: UnsafeRow = null
              while (k >= 0) {
                val key = keyProj(buf(k)).copy()
                if (nextKey == null || !sameRun(key, nextKey)) runEnd = k
                endIdxs(k) = runEnd
                nextKey = key
                k -= 1
              }
            }
            // whole-frame values: merged chain for edge groups, the
            // local slice (complete by contiguity) for interior ones
            val gRows =
              if (isFirst) fullRowsFirstP
              else if (isLast) fullRowsLastP
              else buf.length.toLong
            var i = 0
            while (i < nF) {
              val f = funcsLocal(i)
              if (f.isFull) {
                val gNn =
                  if (isFirst) fullNnFirstP(i)
                  else if (isLast) fullNnLastP(i)
                  else nnRel(i)
                val cand =
                  if (isFirst) fullCandFirstP(i)
                  else if (isLast) fullCandLastP(i)
                  else heads(i).toArray
                val reach = if (f.ignoreNulls) gNn else gRows
                fullVals(i) =
                  if (reach >= f.n) {
                    val c = if (f.fromEnd) cand(cand.length - f.n)
                            else cand(f.n - 1)
                    c.get(0, attrTypes(i))
                  } else null
              }
              i += 1
            }
          }

          override def hasNext: Boolean = groups.hasNext

          override def next(): InternalRow = {
            if (groups.exhausted) fillGroup()
            val j = groups.pos
            val row = groups.next()
            val endJ = if (anyRange) endIdxs(j) else j
            val vals = new GenericInternalRow(nF)
            var i = 0
            while (i < nF) {
              val f = funcsLocal(i)
              if (f.isFull) vals.update(i, fullVals(i))
              else {
                val reach =
                  if (f.isRange) {
                    if (f.ignoreNulls) rowNns(endJ)(i) else rowIdxs(endJ)
                  } else {
                    if (f.ignoreNulls) rowNns(j)(i) else rowIdxs(j)
                  }
                vals.update(i,
                  if (reach >= f.n) heads(i)(f.n - 1).get(0, attrTypes(i))
                  else null)
              }
              i += 1
            }
            outProj(joinOut(row, vals))
          }
        }
      } else if (!anyRange) {
        iter.map { row =>
          groupCheck(row)
          consume(row)
          outProj(joinOut(row, mkVals(relIdx, nnRel, relIdx, nnRel)))
        }
      } else {
        // buffer one tie run at a time; runs are keyed on (group ⧺
        // order key), so a run never spans a group and the group check
        // runs on the head
        val runKeys = partExprs ++ keyExprs
        val runs = new Runs(iter, UnsafeProjection.create(runKeys, childOutput),
          KeyRunEquality.create(runKeys.map(_.dataType)))
        new Iterator[InternalRow] {
          private val rowIdxs = new scala.collection.mutable.ArrayBuffer[Long]
          private val rowNns = new scala.collection.mutable.ArrayBuffer[Array[Long]]

          private def fillRun(): Unit = {
            runs.fill(); rowIdxs.clear(); rowNns.clear()
            groupCheck(runs.rows.head)
            var j = 0
            while (j < runs.rows.length) {
              consume(runs.rows(j))
              rowIdxs += relIdx
              rowNns += nnRel.clone()
              j += 1
            }
          }

          override def hasNext: Boolean = runs.hasNext

          override def next(): InternalRow = {
            if (runs.exhausted) fillRun()
            val vals = mkVals(rowIdxs(runs.pos), rowNns(runs.pos), relIdx, nnRel)
            outProj(joinOut(runs.next(), vals))
          }
        }
      }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    if (partition.nonEmpty) return doExecutePartitioned()
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val nF = funcsLocal.length
    val keyExprs = order.map(_.child)
    val anyRange = funcsLocal.exists(_.isRange)
    val rdd = input()

    // pass 1: per partition (one group) — total rows, and per function
    // its non-null count plus the first ≤ min(n, cap) candidate values
    // (single-column rows); for fromEnd functions the LAST ≤ min(n,
    // cap) candidates instead (a bounded ring — memory identical
    // either way). The cap bounds task-result and driver memory for
    // adversarial n; a value beyond a capped head is fetched by the
    // targeted second job below.
    val stats = edgeStats(rdd, funcsLocal.map(f =>
      math.min(f.n.toLong, GlobalNthValueStrategy.maxN.toLong).toInt))
    val nParts = stats.length
    val rowOffsets = stats.map(_.rowsLast).scanLeft(0L)(_ + _)
    val nnOffsets: Array[Array[Long]] = Array.tabulate(nF) { i =>
      stats.map(_.nnLast(i)).scanLeft(0L)(_ + _)
    }
    val totalRows = rowOffsets.last

    // driver: V_i = input_i at global (non-null) position n_i — counted
    // from the table END for fromEnd functions — read out of the owning
    // partition's collected head/tail when the capped collection holds
    // it; absent when the table is too short. Positions beyond a capped
    // head are recorded in `needs` as (funcIdx, owning pid, 0-based
    // counting-candidate index within that pid) and fetched by ONE
    // second job over only the owning partitions — each task scans
    // forward to its targets and returns exactly one value per needed
    // function, so no n can inflate a task result past the cap.
    val values: Array[Option[UnsafeRow]] = new Array(nF)
    val needs = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]
    locally {
      var i = 0
      while (i < nF) {
        val f = funcsLocal(i)
        val offs = if (f.ignoreNulls) nnOffsets(i) else rowOffsets
        values(i) =
          if (offs.last < f.n) None
          else if (f.fromEnd) {
            // 1-based position from the START of the n-th-from-end candidate
            val pos = offs.last - f.n + 1
            val p = (0 until nParts).find(q => offs(q + 1) >= pos).get
            val tail = stats(p).candLast(i)
            // distance from p's last candidate; < n by construction
            val fromEndIdx = offs(p + 1) - pos
            if (fromEndIdx < tail.length)
              Some(tail(tail.length - 1 - fromEndIdx.toInt))
            else {
              // beyond the capped ring: forward candidate index in p
              needs += ((i, p, offs(p + 1) - offs(p) - 1 - fromEndIdx))
              None
            }
          } else {
            val p = (0 until nParts).find(q => offs(q + 1) >= f.n).get
            val local = f.n - offs(p) - 1
            val head = stats(p).candLast(i)
            if (local < head.length) Some(head(local.toInt))
            else { needs += ((i, p, local)); None }
          }
        i += 1
      }
    }
    if (needs.nonEmpty) {
      val byPart: Map[Int, Array[(Int, Long)]] =
        needs.groupBy(_._2).map { case (p, ns) =>
          p -> ns.map(t => (t._1, t._3)).toArray
        }
      val pids = byPart.keys.toSeq.sorted
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
                val counts =
                  if (funcsLocal(mine(j)._1).ignoreNulls) !v.isNullAt(0)
                  else true
                if (counts) {
                  if (seen(j) == mine(j)._2) { res(j) = v.copy(); found += 1 }
                  seen(j) += 1
                }
              }
              j += 1
            }
          }
          (ctx.partitionId(), res)
        }, pids)
      fetched.foreach { case (p, res) =>
        val mine = byPart(p)
        var j = 0
        while (j < mine.length) {
          // pass 1 counted enough candidates in p — the target exists
          require(res(j) != null,
            s"nth_value fetch missed candidate ${mine(j)._2} in partition $p")
          values(mine(j)._1) = Some(res(j))
          j += 1
        }
      }
    }

    // pass 2: attach V where the frame reaches n. A function's frame
    // reaches position `reach` = global row index (ROWS) / tie-run END
    // index (RANGE, peers share) / table end (full frame); for IGNORE
    // NULLS the same three, counted over non-null inputs.
    PerPartition.stitch(rdd, (0 until nParts).map(p =>
      (rowOffsets(p), Array.tabulate(nF)(i => nnOffsets(i)(p))))) { (slice, iter) =>
      val (rowOffset, nnOffset) = slice
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val projs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.input), childOutput))
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val joinOut = new JoinedRow
      var gidx = rowOffset
      val nnSeen = nnOffset.clone()

      // per-row output values given this row's reach and the run-end
      // reach (equal except inside a RANGE tie run)
      def mkVals(rowIdx: Long, rowNn: Array[Long],
                 endIdx: Long, endNn: Array[Long]): GenericInternalRow = {
        val vals = new GenericInternalRow(nF)
        var i = 0
        while (i < nF) {
          val f = funcsLocal(i)
          val reach =
            if (f.isFull) { if (f.ignoreNulls) nnOffsets(i).last else totalRows }
            else if (f.isRange) { if (f.ignoreNulls) endNn(i) else endIdx }
            else { if (f.ignoreNulls) rowNn(i) else rowIdx }
          vals.update(i,
            if (reach >= f.n) values(i).map(_.get(0, attrTypes(i))).orNull
            else null)
          i += 1
        }
        vals
      }

      if (!anyRange) {
        iter.map { row =>
          gidx += 1
          var i = 0
          while (i < nF) {
            if (!projs(i)(row).isNullAt(0)) nnSeen(i) += 1
            i += 1
          }
          outProj(joinOut(row, mkVals(gidx, nnSeen, gidx, nnSeen)))
        }
      } else {
        // buffer one tie run at a time (the range exchange co-locates
        // equal keys); per-row snapshots keep mixed ROWS functions
        // per-row exact while RANGE functions share the run end
        val runs = new Runs(iter, UnsafeProjection.create(keyExprs, childOutput),
          KeyRunEquality.create(keyExprs.map(_.dataType)))
        new Iterator[InternalRow] {
          private val rowIdxs = new scala.collection.mutable.ArrayBuffer[Long]
          private val rowNns = new scala.collection.mutable.ArrayBuffer[Array[Long]]

          private def fillRun(): Unit = {
            runs.fill(); rowIdxs.clear(); rowNns.clear()
            var j = 0
            while (j < runs.rows.length) {
              gidx += 1
              var i = 0
              while (i < nF) {
                if (!projs(i)(runs.rows(j)).isNullAt(0)) nnSeen(i) += 1
                i += 1
              }
              rowIdxs += gidx
              rowNns += nnSeen.clone()
              j += 1
            }
          }

          override def hasNext: Boolean = runs.hasNext

          override def next(): InternalRow = {
            if (runs.exhausted) fillRun()
            val vals = mkVals(rowIdxs(runs.pos), rowNns(runs.pos), gidx, nnSeen)
            outProj(joinOut(runs.next(), vals))
          }
        }
      }
    }
  }
}
