package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CumeDist, DenseRank, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, NTile, PercentRank, Rank, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.IntegerType

/** Scale-safe planning for naive ranking windows.
  *
  * `row_number()/rank()/dense_rank()/percent_rank()/cume_dist()/ntile()
  * OVER (ORDER BY ...)` with no PARTITION BY is the classic
  * scale-killer: Spark's built-in WindowExec requires ALL rows in one
  * partition (SinglePartition), so the whole table funnels through one
  * task — the very anti-pattern the reference's round-robin counter
  * translation avoids with the two-pass global-index plan
  * (keys/Keys.scala RoundRobin, pipeline.Corpus.withGlobalIndex). Users
  * writing plain SQL don't know that; this family makes the naive
  * query plan scale anyway.
  *
  * This family claims the six ranking functions, and
  * [[GlobalWindowStrategy]] plans a node of them as
  * [[GlobalRowNumberExec]] instead of WindowExec. The exec requires an
  * ordered distribution — EnsureRequirements
  * inserts the same range exchange a global SORT uses (fully parallel)
  * — and assigns values with the two-pass scheme: one tiny job over the
  * materialized shuffle computes per-partition (row count,
  * distinct-sort-key count), then the main pass adds the prefix offsets
  * partition-locally.
  *
  * PARTITIONED ranking — top-N-per-key, THE dedup primitive — is
  * claimed too, for ALL SIX functions: the exchange becomes a range
  * exchange over (partition keys ⧺ order key), so a hot key spans
  * tasks instead of pinning one (stock Spark's hash exchange is the
  * hot-region-server failure mode inside the cluster), counters reset
  * at key-group boundaries, and each task's FIRST group is seeded from
  * a driver-walked chain of predecessor edge-group stats — the same
  * chain the group-aware prefix scan uses. `percent_rank`/`cume_dist`/
  * `ntile` per key additionally need the GROUP TOTAL: a group that
  * spans tasks only ever does so through task EDGES (groups are
  * contiguous under the sort), so the driver merges adjacent edge
  * slices into per-chain totals and hands each task its first/last
  * group's total; interior groups are entirely task-local and their
  * total is just the buffered slice length. When a group-total
  * function is present, pass 2 buffers ONE GROUP at a time — the same
  * granularity WindowExec buffers at, but per range-slice of the key
  * instead of per whole hash partition (no spill here: a slice is
  * bounded by the task's share of the range exchange; the degenerate
  * all-ties key that defeats the range split is the documented
  * tie-run caveat below).
  *
  * Why per-partition local computation is exact: the range exchange
  * routes a row by comparing its FULL sort key against the partition
  * bounds, so rows with equal sort keys always land in the same
  * partition — a tie run can never span a partition boundary. Hence
  *   row_number   = rowsBefore + localIdx + 1
  *   rank         = rowsBefore + tieRunStart + 1
  *   dense_rank   = runsBefore + localDense
  *   percent_rank = (rank − 1) / (N − 1)
  *   cume_dist    = (rowsBefore + tieRunEnd) / N
  *   ntile(k)     = bucket(rowsBefore + localIdx, N, k)
  * need no boundary key exchange; N = total rows from the stats pass
  * in global mode, the group total (driver chain merge / local slice
  * length) per key.
  * cume_dist is the one function needing LOOKAHEAD (a row's value
  * depends on where its tie run ends), so when present the pass buffers
  * one tie run at a time — memory bounded by the largest tie class,
  * exactly WindowExec's own buffering granularity, but per-partition
  * instead of whole-table. Tie DETECTION compares UnsafeRow key
  * projections byte-wise for float-free keys (UnsafeWriter
  * canonicalizes NaN) and via the SQL ordering when a FLOAT/DOUBLE key
  * is present (`-0.0` and `0.0` are peers; see [[KeyRunEquality]]).
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalRowNumberStrategy extends WindowFamily {
  import GlobalRowNumberExec._

  /** Which ranking function a window expression computes, if supported. */
  private def funcOf(e: NamedExpression): Option[RankFunc] = e match {
    case Alias(WindowExpression(_: RowNumber, _), _) => Some(RowNumF)
    case Alias(WindowExpression(_: Rank, _), _) => Some(RankF)
    case Alias(WindowExpression(_: DenseRank, _), _) => Some(DenseRankF)
    case Alias(WindowExpression(_: PercentRank, _), _) => Some(PercentRankF)
    case Alias(WindowExpression(_: CumeDist, _), _) => Some(CumeDistF)
    case Alias(WindowExpression(NTile(Literal(n: Int, IntegerType)), _), _)
        if n > 0 => Some(NTileF(n))
    case _ => None
  }

  /** All six ranking functions are PARTITION BY-rescuable too: group
    * totals for percent_rank/cume_dist/ntile come from the driver's
    * edge-chain merge (groups span tasks only through edges). */
  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
    Some(GlobalRowNumberExec(w.partitionSpec, w.orderSpec,
      w.windowExpressions.map(e => (funcOf(e).get, e.toAttribute)), child))
}

object GlobalRowNumberExec {
  sealed trait RankFunc extends Serializable
  case object RowNumF extends RankFunc
  case object RankF extends RankFunc
  case object DenseRankF extends RankFunc
  case object PercentRankF extends RankFunc
  case object CumeDistF extends RankFunc
  case class NTileF(buckets: Int) extends RankFunc
}

/** Physical two-pass ranking: range-shuffled, sorted input (demanded
  * via requiredChildDistribution/Ordering) + one per-partition stats
  * job over the materialized shuffle (edge-group row/run counts), then
  * offsets added partition-locally, counters reset at key-group
  * boundaries — never a single-task stage, never a per-key task.
  * Produces values identical to WindowExec's: row_number/ntile on any
  * tie-free total order (ties land arbitrarily in either plan —
  * distributed sorts never promise tie order); rank/dense_rank/
  * percent_rank/cume_dist on ANY order, because tied rows share their
  * (deterministic) value. */
case class GlobalRowNumberExec(partition: Seq[Expression],
                               order: Seq[SortOrder],
                               funcs: Seq[(GlobalRowNumberExec.RankFunc, Attribute)],
                               child: SparkPlan) extends GlobalWindowExec {
  import GlobalRowNumberExec._

  override def output: Seq[Attribute] = child.output ++ funcs.map(_._2)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val keyExprs = order.map(_.child)
    val partExprs = partition
    val keyGuard = partExprs.nonEmpty
    val modes = funcs.map(_._1).toArray
    // row_number/ntile need only counts; the others need tie runs
    val needKeys = modes.exists {
      case RowNumF | _: NTileF => false
      case _ => true
    }
    val needLookahead = modes.contains(CumeDistF)
    val rdd = input()

    // pass 1: each edge group's (rows, tie runs). The child is the
    // materialized range exchange, so this job reads shuffle files, not
    // the upstream lineage — the zipWithIndex cost model.
    val edges = BoundaryScan.summarize(rdd, partExprs, childOutput) { () =>
      new GroupFold[Array[Long]] {
        private val proj =
          if (needKeys) UnsafeProjection.create(keyExprs, childOutput) else null
        private val sameRun =
          if (needKeys) KeyRunEquality.create(keyExprs.map(_.dataType)) else null
        private var rows = 0L
        private var runs = 0L
        private var prev: UnsafeRow = null
        def reset(): Unit = { rows = 0L; runs = 0L; prev = null }
        def add(row: InternalRow): Unit = {
          if (needKeys) {
            val k = proj(row)
            if (prev == null || !sameRun(k, prev)) { runs += 1; prev = k.copy() }
          }
          rows += 1
        }
        def snapshot(): Array[Long] = Array(rows, runs)
      }
    }
    // the chain walk: a task's first group counts on from the slices
    // before it; a chain's sum is its group's total, the N of the
    // per-key group-total functions
    val walk = BoundaryScan.walk(edges, Array(0L, 0L),
      (c: Array[Long], s: Array[Long]) => Array(c(0) + s(0), c(1) + s(1)))
    val totalRows = edges.map(_.lastS(0)).sum
    val needTotals = keyGuard && modes.exists {
      case PercentRankF | CumeDistF | _: NTileF => true
      case _ => false
    }

    // int-typed ranks (row_number/rank/dense_rank/ntile are IntegerType,
    // as in WindowExec) cannot express positions past 2^31. The built-in
    // silently wraps; for GLOBAL ranks the stats pass already knows N —
    // refuse HERE, at the driver, before any output work starts. Per-key
    // ranks are bounded by the largest group: task-crossing groups are
    // checked here via the chain totals; interior groups rely on the
    // per-row toIntExact, which still fails loudly, mid-task.
    val intRanked = modes.exists {
      case RowNumF | RankF | DenseRankF | _: NTileF => true
      case _ => false
    }
    if (!keyGuard && intRanked && totalRows > Int.MaxValue)
      throw new org.apache.spark.SparkException(
        s"global ranking over $totalRows rows exceeds the IntegerType range " +
          "of row_number/rank/dense_rank/ntile (2^31-1, same type as " +
          "WindowExec, which silently wraps). Pre-aggregate or filter " +
          "before ranking, or window by a partition key.")
    if (needTotals && intRanked && walk.firstTotal.exists(_(0) > Int.MaxValue))
      throw new org.apache.spark.SparkException(
        "a per-key ranking group exceeds the IntegerType range of " +
          "row_number/rank/dense_rank/ntile (2^31-1). Pre-aggregate or " +
          "filter before ranking.")

    // pass 2: assign values partition-locally — counters seeded with the
    // chain carry, reset at every later group
    finish(rdd, edges, p => (walk.seed(p), walk.firstTotal(p)(0), walk.lastTotal(p)(0))) {
      (groups, slice, iter) =>
      val (seed, firstTotalP, lastTotalP) = slice
      val seedRow = seed(0)
      val seedRun = seed(1)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(modes.length)
      val proj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val keyProj =
        if (needKeys) UnsafeProjection.create(keyExprs, childOutput) else null
      val sameRun =
        if (needKeys) KeyRunEquality.create(keyExprs.map(_.dataType)) else null
      // idx within the current group (absolute for global mode), runs so
      // far (inclusive), and the current run's start index
      var cnt = seedRow
      var dense = seedRun
      var prevRun: UnsafeRow = null

      // emits one row given its index, tie-run bounds, run counter and
      // the group total n — all relative to the current key group
      // (= the whole table in global mode). Ranking outputs are
      // IntegerType (as in WindowExec) — past 2^31 the built-in
      // silently wraps, fail loudly instead. percent_rank/cume_dist
      // are DoubleType.
      def emit(row: InternalRow, idx: Long, runStart: Long,
               runEnd: Long, runs: Long, n: Long): InternalRow = {
        var i = 0
        while (i < modes.length) {
          modes(i) match {
            case RowNumF =>
              rankRow.setInt(i, Math.toIntExact(idx + 1))
            case RankF =>
              rankRow.setInt(i, Math.toIntExact(runStart + 1))
            case DenseRankF =>
              rankRow.setInt(i, Math.toIntExact(runs))
            case PercentRankF =>
              val r = runStart + 1
              rankRow.setDouble(i,
                if (n > 1) (r - 1).toDouble / (n - 1).toDouble
                else 0.0)
            case CumeDistF =>
              rankRow.setDouble(i, (runEnd + 1).toDouble / n.toDouble)
            case NTileF(k) =>
              // WindowExec's bucketing: first (N % k) buckets take one
              // extra row
              val bucketSize = n / k
              val padded = n % k
              val threshold = padded * (bucketSize + 1)
              val bucket =
                if (idx < threshold) idx / (bucketSize + 1)
                else padded + (idx - threshold) / bucketSize
              rankRow.setInt(i, Math.toIntExact(bucket + 1))
          }
          i += 1
        }
        proj(joined(row, rankRow))
      }

      if (needTotals) {
        // per-key group-total functions (percent_rank/cume_dist/ntile,
        // possibly mixed with the counter functions): buffer ONE GROUP
        // at a time — the granularity WindowExec buffers at, but per
        // range-slice of the key instead of per whole hash partition.
        // The first and last groups' totals come from the driver's
        // chain merge (they may continue into neighbouring tasks);
        // interior groups are whole by contiguity, so their total is
        // the slice length.
        val groupRuns = new Runs(iter, UnsafeProjection.create(partExprs, childOutput))
        new Iterator[InternalRow] {
          private var starts: Array[Int] = Array.emptyIntArray
          private var ends: Array[Int] = Array.emptyIntArray
          private var denses: Array[Long] = Array.emptyLongArray
          private var offset = 0L // group-relative index of the group's first row
          private var groupN = 0L

          private def fillGroup(): Unit = {
            groupRuns.fill()
            val buf = groupRuns.rows
            offset = if (groupRuns.isFirst) seedRow else 0L
            val denseBase = if (groupRuns.isFirst) seedRun else 0L
            groupN =
              if (groupRuns.isFirst) firstTotalP
              else if (groupRuns.isLast) lastTotalP
              else buf.length.toLong
            if (needKeys) {
              // one forward walk marks run starts + dense counters, one
              // backward walk marks run ends (runs never span tasks:
              // equal FULL sort keys land in one range partition)
              if (starts.length < buf.length) {
                starts = new Array[Int](buf.length)
                ends = new Array[Int](buf.length)
                denses = new Array[Long](buf.length)
              }
              var i = 0
              var runStart = 0
              var dense = denseBase
              var prevK: UnsafeRow = null
              while (i < buf.length) {
                val k = keyProj(buf(i))
                if (prevK == null || !sameRun(k, prevK)) {
                  runStart = i; dense += 1; prevK = k.copy()
                }
                starts(i) = runStart; denses(i) = dense
                i += 1
              }
              i = buf.length - 1
              var runEnd = i
              while (i >= 0) {
                if (i == buf.length - 1 || starts(i + 1) != starts(i))
                  runEnd = i
                ends(i) = runEnd
                i -= 1
              }
            }
          }

          override def hasNext: Boolean = groupRuns.hasNext

          override def next(): InternalRow = {
            if (groupRuns.exhausted) fillGroup()
            val i = groupRuns.pos
            val row = groupRuns.next()
            if (needKeys)
              emit(row, offset + i, offset + starts(i),
                offset + ends(i), denses(i), groupN)
            else emit(row, offset + i, offset + i, offset + i, 0L, groupN)
          }
        }
      } else if (!needLookahead) {
        // streaming: a row's value depends only on its run START
        var runStart = 0L
        iter.map { row =>
          if (groups.advance(row)) { cnt = 0L; dense = 0L; prevRun = null }
          if (needKeys) {
            val k = keyProj(row)
            if (prevRun == null || !sameRun(k, prevRun)) {
              dense += 1; runStart = cnt; prevRun = k.copy()
            }
          }
          val out = emit(row, cnt, runStart, cnt, dense, totalRows)
          cnt += 1
          out
        }
      } else {
        // cume_dist (global only) needs the run END: buffer one tie run
        // at a time; memory is bounded by the largest tie class
        val runs = new Runs(iter, keyProj, sameRun)
        var runStart = 0L
        new Iterator[InternalRow] {
          override def hasNext: Boolean = runs.hasNext

          override def next(): InternalRow = {
            if (runs.exhausted) { runs.fill(); runStart = cnt; dense += 1 }
            val out = emit(runs.next(), cnt, runStart,
              runStart + runs.rows.length - 1, dense, totalRows)
            cnt += 1
            out
          }
        }
      }
    }
  }
}
