package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, CurrentRow, Expression, GenericInternalRow, JoinedRow, NamedExpression, RangeFrame, SortOrder, SpecifiedWindowFrame, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, CalendarIntervalType, DataType, DateType, DayTimeIntervalType, IntegerType, LongType, ShortType, TimestampType, YearMonthIntervalType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Scale-safe planning for RANGE-interval frames — the time-series
  * value windows: the trailing `SUM(x) OVER (ORDER BY ts RANGE BETWEEN
  * INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)`, the CENTERED smoothing
  * window `RANGE BETWEEN 30m PRECEDING AND 30m FOLLOWING`, and the pure
  * lookahead `CURRENT ROW AND 1h FOLLOWING` — plus their numeric-key
  * twins over epoch micros. Stock Spark plans the empty-partition form
  * as a SinglePartition WindowExec — the whole table through one task —
  * like every other member of the global-window family this package
  * rescues.
  *
  * The PARTITIONED form (`PARTITION BY user ORDER BY ts RANGE ...` —
  * THE per-entity time-series query) is claimed too: stock Spark hash
  * exchanges on the partition key, so every row of a key lands in ONE
  * task — a hot key (one user with a fifth of the data) resurrects the
  * reference's hot region server (README:9-27) inside the cluster, and
  * AQE re-splits skewed joins but never windows. Here the exchange is a
  * RANGE exchange over (partition keys ⧺ order key): a hot key SPANS
  * many partitions, each task's work is bounded by the range
  * partitioner's split sizes independent of key skew, and because a
  * key's rows are CONTIGUOUS under that sort, the same edge-stitching
  * that repairs partition boundaries repairs them per key — stitched
  * rows are simply dropped at key boundaries.
  *
  * A value frame `[K − x, K + y]` needs, per row, its key neighborhood.
  * After the range exchange that neighborhood is almost always
  * partition-local; the only missing rows are each partition's edges.
  * So one tiny job collects, per partition, its trailing x-window (the
  * rows with key ≥ maxKey − x — the same deque the local pass keeps),
  * its LEADING y-window (the rows with key ≤ minKey + y), and its
  * first/last non-null keys — each restricted to the partition's
  * first/last partition-key group, the only groups that can spill over
  * an edge; the driver then ships partition p every predecessor row
  * with key ≥ minKey(p) − x from predecessors ending in p's first
  * group, and every successor row with key ≤ maxKey(p) + y from
  * successors starting in p's last group. Shipped volume is bounded by
  * the frame's own row density (the rows a single frame spans), not by
  * data size — the honest cost of a value window, and exactly what the
  * frame itself reads.
  *
  * Locally, rows are processed one TIE RUN at a time (the range
  * exchange co-locates equal (part, key) tuples, so a run never spans
  * partitions): the trailing deque is pruned to `key ≥ K − x` and
  * CLEARED at each partition-key change, runs are read AHEAD until the
  * first run past `K + y` or of a different partition key (a bounded
  * lookahead FIFO — the frame's own forward span), and each aggregate
  * folds deque + run + ahead + stitched successors left-to-right in key
  * order — the same sequential fold WindowExec performs. Every row of
  * the run shares the result — RANGE bounds are peer-inclusive in both
  * engines. Rows with NULL order keys form their own peer group within
  * their partition key (frame = the null run itself) and never enter
  * any arithmetic frame, matching the built-in's null-peer semantics.
  *
  * Matched shape: any deterministic partition spec (including empty),
  * ONE order key — ascending or descending, integer / bigint /
  * timestamp / date / decimal(≤18) type — and all window expressions
  * deterministic [[DeclarativeAggregate]]s over `RANGE` frames with a
  * literal-or-CURRENT-ROW bound on each side (day-time interval
  * literals on timestamp keys; whole-day intervals or plain ints on
  * date keys; numeric bounds rescaled exactly to the key's scale on
  * DECIMAL keys, whose unscaled value IS the Long key — fixed-point).
  * MONTH-bearing offsets resolve per row in the KEY's physical space —
  * through the session-zone calendar for timestamp keys (the same
  * `DateTimeUtils` arithmetic the built-in's bound expressions use),
  * through zone-free `dateAddMonths` in DAY units for date keys — in
  * ORIGINAL key space for descending orders, negated back; the
  * shipping structures over-approximate months at 31 days (in key
  * units) + slack and the folds filter exactly. NOTE the deliberate semantic choice: month
  * subtraction is NON-MONOTONE at day-clamp boundaries (Mar 28 06:00
  * − 1mo = Feb 28 06:00, but Mar 29 05:00 − 1mo = Feb 28 05:00), and
  * stock WindowExec's two-pointer frame never moves its lower pointer
  * backward — it silently DROPS rows there. This exec computes the
  * declarative frame `key ∈ [K − interval, K + interval]` exactly,
  * per row — the SQL-standard reading, and what DuckDB produces.
  * Month offsets over DATE keys resolve in DAY space via
  * `DateTimeUtils.dateAddMonths` — pure proleptic-calendar arithmetic,
  * no time zone — with day-unit shipping slack (31 days per month).
  * DESCENDING keys are handled by negating the extracted key —
  * under `ORDER BY ts DESC`, `x PRECEDING` means keys in [K, K+x],
  * which is exactly [K'−x, K'] in negated key space, so the ascending
  * machinery applies verbatim. Mixed widths in one node are fine — each
  * function reads its own slice of the shared deque / lookahead.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalRangeFrameStrategy extends WindowFamily {
  import GlobalRangeFrameExec.RangeAgg

  /** Scoped parity conf (default true): set false to decline ONLY
    * month-bearing RANGE bounds, so those nodes keep stock WindowExec —
    * bit-for-bit built-in behavior (including its forward-only frame's
    * row drops at non-monotone month day-clamp boundaries) for parity
    * testing/migration, while day-time/int/decimal RANGE frames and
    * every other window family stay rescued. The blunt alternative,
    * [[GlobalWindowStrategy.ConfKey]], opts out everything. */
  val MonthRescueKey = "spark.graft.rangeFrame.monthRescue"

  private val MicrosPerDay = 86400000000L

  /** Foldable bound → |width| as (months, key units) — key units are
    * micros for timestamp keys, days for date keys, unscaled units for
    * decimal keys — requiring the bound's sign to match `sign`
    * (PRECEDING bounds are negative, FOLLOWING positive — in BOTH sort
    * directions: Spark negates the offset arithmetic for descending
    * orders, and so does the exec, so widths are direction-free); None
    * for unsupported shapes. Bound TYPES are checked, not just values —
    * a day-time interval and a bigint both eval to a Long, but they
    * mean different units against a date key. MONTH-bearing widths are
    * produced for timestamp keys (resolved per row through the
    * session-zone calendar) and date keys (resolved in DAY space via
    * `dateAddMonths` — no zone) — in ORIGINAL key space for
    * descending orders. */
  private def widthOf(bound: Expression, sign: Int,
                      keyType: DataType): Option[(Int, Long)] = bound match {
    case CurrentRow => Some((0, 0L))
    case e if e.foldable =>
      val isDate = keyType == DateType
      // month-bearing widths: timestamp keys (zone calendar, micros
      // day-time part) and date keys (pure day arithmetic, day units).
      // The scoped parity conf declines ONLY month-bearing bounds — the
      // node then falls back to stock WindowExec, restoring bit-for-bit
      // built-in behavior at its non-monotone day-clamp boundaries (see
      // the exec doc / README semantics notes) while every other RANGE
      // shape stays rescued.
      val monthsOk = (keyType == TimestampType || isDate) &&
        SQLConf.get.getConfString(GlobalRangeFrameStrategy.MonthRescueKey,
          "true").toBoolean
      val v: Option[(Int, Long)] = keyType match {
        case kt: org.apache.spark.sql.types.DecimalType =>
          // DECIMAL keys are fixed-point: widths live in the key's
          // UNSCALED units. Any numeric bound rescales exactly to the
          // key's scale or declines (a finer-scaled bound has no
          // representation in key units).
          val bd: Option[java.math.BigDecimal] = (e.dataType, e.eval()) match {
            case (_, null) => None
            case (_: org.apache.spark.sql.types.DecimalType,
                  d: org.apache.spark.sql.types.Decimal) =>
              Some(d.toJavaBigDecimal)
            case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
              Some(java.math.BigDecimal.valueOf(n.longValue()))
            case _ => None
          }
          bd.flatMap { b =>
            try Some((0, b.setScale(kt.scale).unscaledValue().longValueExact()))
            catch { case _: ArithmeticException => None }
          }
        case _ => (e.dataType, e.eval()) match {
          case (_, null) => None
          case (_: DayTimeIntervalType, l: java.lang.Long) =>
            // micros; over a DATE key the result type is timestamp — the
            // window's key would no longer be the date column. Decline.
            if (isDate) None else Some((0, l.longValue()))
          case (yt: YearMonthIntervalType, m: Integer) =>
            // pure months: per-row calendar resolution (timestamp keys)
            if (monthsOk) Some((m.intValue(), 0L)) else None
          case (CalendarIntervalType, ci: CalendarInterval) =>
            if (ci.months != 0) {
              if (!monthsOk) None
              else if (isDate) {
                // day units; sub-day parts have no date representation
                if (ci.microseconds == 0L) Some((ci.months, ci.days.toLong))
                else None
              } else
                Some((ci.months, ci.days * MicrosPerDay + ci.microseconds))
            } else if (isDate) {
              if (ci.microseconds == 0L) Some((0, ci.days.toLong)) else None
            } else Some((0, ci.days * MicrosPerDay + ci.microseconds))
          case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
            Some((0, n.longValue()))
          case _ => None
        }
      }
      // every component must agree with the bound's side; zero widths
      // are legal (`0 PRECEDING` = CURRENT ROW)
      v.collect {
        case (m, w) if m.toLong * sign >= 0 && w * sign >= 0 =>
          (math.abs(m), math.abs(w))
      }
    case _ => None
  }

  private def funcOf(e: NamedExpression): Option[RangeAgg] = e match {
    case Alias(WindowExpression(
          AggregateExpression(f: DeclarativeAggregate, Complete, false, None, _),
          WindowSpecDefinition(_, orderSpec,
            SpecifiedWindowFrame(RangeFrame, lo, hi))), _)
        if f.deterministic && orderSpec.length == 1 =>
      val keyType = orderSpec.head.child.dataType
      for {
        (xm, x) <- widthOf(lo, -1, keyType)
        (ym, y) <- widthOf(hi, 1, keyType)
        // both CURRENT ROW (peers-only) is fine: the frame is the tie
        // run itself — run-local, zero stitching
      } yield RangeAgg(f, xm, x, ym, y, e.toAttribute)
    case _ => None
  }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  /** ONE order key of an integral, timestamp, date or short-decimal type. */
  override def claimsNode(w: logical.Window): Boolean =
    w.orderSpec.length == 1 &&
      (w.orderSpec.head.child.dataType match {
        case IntegerType | LongType | TimestampType | DateType => true
        // fixed-point: the unscaled value IS a Long key (≤18 digits)
        case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
        case _ => false
      })

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] =
    Some(GlobalRangeFrameExec(w.partitionSpec, w.orderSpec,
      w.windowExpressions.map(funcOf(_).get), child))
}

object GlobalRangeFrameExec {
  /** One value-window aggregate over `[K − xm months − x, K + ym months
    * + y]` — x/y in key units; xm/ym in calendar months (timestamp
    * keys only, resolved per row through the session zone). */
  case class RangeAgg(agg: DeclarativeAggregate, xm: Int, x: Long,
                      ym: Int, y: Long, attr: Attribute)

  /** Saturating Long add/sub for frame-bound and prune arithmetic:
    * a frame bound past ±Long range clamps to ±Long range, which is
    * semantically exact for a one-sided cut (no key lies beyond it) —
    * unlike silent wraparound, which flips the cut to the wrong side
    * for extreme bigint/decimal(18) keys combined with large widths. */
  @inline private[plans] def satAdd(a: Long, b: Long): Long = {
    val r = a + b
    if (((a ^ r) & (b ^ r)) < 0) { if (b > 0) Long.MaxValue else Long.MinValue }
    else r
  }
  @inline private[plans] def satSub(a: Long, b: Long): Long = {
    val r = a - b
    if (((a ^ b) & (a ^ r)) < 0) { if (b < 0) Long.MaxValue else Long.MinValue }
    else r
  }

  /** An order key as a Long in ascending key space: DateType is
    * physically an int (days since epoch), DECIMAL keys read as their
    * unscaled Long (precision ≤ 18 per claimsNode), and descending keys
    * are negated (negateExact: Long.MinValue would wrap silently — fail
    * loudly instead). Serializable, so the task closures that read keys
    * capture it rather than the exec. */
  private[plans] final class KeyReader(t: DataType, negate: Boolean) extends Serializable {
    private val kind = t match {
      case IntegerType | DateType => 0
      case _: org.apache.spark.sql.types.DecimalType => 2
      case _ => 1
    }
    private val (prec, scale) = t match {
      case d: org.apache.spark.sql.types.DecimalType => (d.precision, d.scale)
      case _ => (0, 0)
    }
    def apply(kr: UnsafeRow): Long = {
      val k0 = if (kind == 0) kr.getInt(0).toLong
        else if (kind == 2) kr.getDecimal(0, prec, scale).toUnscaledLong
        else kr.getLong(0)
      if (negate) Math.negateExact(k0) else k0
    }
  }

  /** One group's stitch summary: its first and last non-null order
    * keys (when it has one) and its leading y-window and trailing
    * x-window rows — the only rows a neighbouring task's frames reach. */
  private[plans] final case class Span(hasKey: Boolean, firstKey: Long, lastKey: Long,
                                       head: Array[(Long, UnsafeRow)],
                                       tail: Array[(Long, UnsafeRow)])
}

/** Physical distributed RANGE-frame aggregation: range-shuffled sorted
  * input (over partition keys ⧺ order key — a hot partition key spans
  * tasks) + one boundary job shipping each partition's missing edge
  * value-windows (trailing for PRECEDING, leading for FOLLOWING,
  * clipped at partition-key boundaries), then tie-run-at-a-time frame
  * folds over a trailing deque and a bounded lookahead FIFO. */
case class GlobalRangeFrameExec(partition: Seq[Expression],
                                order: Seq[SortOrder],
                                funcs: Seq[GlobalRangeFrameExec.RangeAgg],
                                child: SparkPlan) extends GlobalWindowExec {
  import GlobalRangeFrameExec.{KeyReader, Span}

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    import GlobalRangeFrameExec.{satAdd, satSub}
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val keyExpr = order.head.child
    // a DATE key is physically DAYS since epoch — month widths resolve
    // in DAY space (dateAddMonths), and shipping slack is DAY-scale
    val isDateKey = keyExpr.dataType == DateType
    // conservative per-direction spans for the SHIPPING/PRUNING
    // structures only (edge windows, lookahead horizon): month widths
    // over-approximate at 31 days + 2 days of calendar slack — in the
    // KEY's units (days for date keys, micros for timestamps); the
    // per-function FOLDS use exact per-row calendar bounds, so extra
    // shipped rows are simply filtered
    def consSpan(months: Int, units: Long): Long =
      if (months == 0) units
      else if (isDateKey) satAdd(units, months * 31L + 2L)
      else satAdd(units, satAdd(months * 31L * 86400000000L, 2L * 86400000000L))
    val maxX = funcsLocal.map(f => consSpan(f.xm, f.x)).max
    val maxY = funcsLocal.map(f => consSpan(f.ym, f.y)).max
    val anyMonths = funcsLocal.exists(f => f.xm != 0 || f.ym != 0)
    val zoneIdStr = SQLConf.get.sessionLocalTimeZone
    // descending keys are NEGATED into ascending space
    val negate = order.head.direction != Ascending
    val keyOf = new KeyReader(keyExpr.dataType, negate)
    val partExprs = partition
    val rdd = input()

    // pass 1: per edge group, its first/last non-null keys, its trailing
    // x-window (rows with key ≥ lastKey − maxX) and, for a task's first
    // group only (no later group's is read), its leading y-window (rows
    // with key ≤ firstKey + maxY) — memory bounded by one frame's span
    val edges = BoundaryScan.summarize(rdd, partExprs, childOutput) { () =>
      new GroupFold[Span] {
        private val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        private val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
        private var inFirst = true
        private var hasKey = false
        private var firstKey = 0L
        private var lastKey = 0L
        private val tail = new ArrayDeque[(Long, UnsafeRow)]
        private val head = new ArrayBuffer[(Long, UnsafeRow)]
        def reset(): Unit = { inFirst = false; hasKey = false; tail.clear(); head.clear() }
        def add(row: InternalRow): Unit = {
          val kr = keyProj(row)
          if (!kr.isNullAt(0)) {
            val k = keyOf(kr)
            if (!hasKey) { hasKey = true; firstKey = k }
            lastKey = k
            if (maxX > 0) {
              tail += ((k, toUnsafe(row).copy()))
              while (tail.head._1 < satSub(k, maxX)) tail.removeHead()
            }
            if (maxY > 0 && inFirst && k <= satAdd(firstKey, maxY))
              head += ((k, toUnsafe(row).copy()))
          }
        }
        def snapshot(): Span = Span(hasKey, firstKey, lastKey, head.toArray, tail.toArray)
      }
    }
    // the chain walk: partition p receives every row with key ≥ its first
    // key − maxX from the tails before its first group, and every row with
    // key ≤ its last key + maxY from the heads after its last group, in
    // key order (a carry keeps only the rows a later slice can reach)
    val walk = BoundaryScan.walk(edges, Array.empty[(Long, UnsafeRow)],
      (c: Array[(Long, UnsafeRow)], s: Span) =>
        (c ++ s.tail).filter(r => !s.hasKey || r._1 >= satSub(s.lastKey, maxX)),
      (s: Span, c: Array[(Long, UnsafeRow)]) =>
        (s.head ++ c).filter(r => !s.hasKey || r._1 <= satAdd(s.firstKey, maxY)))
    def preTail(p: Int): Array[(Long, UnsafeRow)] = {
      val s = edges(p).firstS
      if (maxX > 0 && s.hasKey) walk.seed(p).filter(_._1 >= satSub(s.firstKey, maxX))
      else Array.empty
    }
    def postHead(p: Int): Array[(Long, UnsafeRow)] = {
      val s = edges(p).lastS
      if (maxY > 0 && s.hasKey) walk.after(p).filter(_._1 <= satAdd(s.lastKey, maxY))
      else Array.empty
    }

    finish(rdd, edges, p => (preTail(p), postHead(p))) { (groups, slice, iter) =>
      val (preTail, post) = slice
      val (buffers, inits, updates, evals) = FrameFolds(funcsLocal.map(_.agg), childOutput)
      val attrTypes = funcsLocal.map(_.attr.dataType)
      val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val partProj = UnsafeProjection.create(partExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val joinBI = new JoinedRow
      val joinOut = new JoinedRow
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      // exact per-row frame bounds: fixed-width arithmetic, or calendar
      // month arithmetic in the KEY's physical space — session-zone
      // `timestampAddInterval` in MICROS for timestamp keys (the same
      // DateTimeUtils arithmetic the built-in's bound expressions use;
      // CalendarInterval days folded into micros, as in widthOf), and
      // zone-free `dateAddMonths` in DAYS for date keys (whose
      // CalendarInterval day component stays in day units).
      // DESC keys live NEGATED in this exec; calendar arithmetic only
      // works in original key space, so month bounds compute there and
      // negate back (x PRECEDING under DESC = [K, K+x] original space).
      val zone =
        if (anyMonths && !isDateKey) java.time.ZoneId.of(zoneIdStr) else null
      def addCal(k: Long, months: Int, units: Long): Long =
        if (isDateKey)
          satAdd(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .dateAddMonths(Math.toIntExact(k), months).toLong, units)
        else org.apache.spark.sql.catalyst.util.DateTimeUtils
          .timestampAddInterval(k, months, 0, units, zone)
      def loOf(f: GlobalRangeFrameExec.RangeAgg, k: Long): Long =
        if (f.xm == 0) satSub(k, f.x)
        else if (!negate) addCal(k, -f.xm, -f.x)
        else Math.negateExact(addCal(Math.negateExact(k), f.xm, f.x))
      def hiOf(f: GlobalRangeFrameExec.RangeAgg, k: Long): Long =
        if (f.ym == 0) satAdd(k, f.y)
        else if (!negate) addCal(k, f.ym, f.y)
        else Math.negateExact(addCal(Math.negateExact(k), -f.ym, -f.y))

      // one tie run: equal (group, key) rows (or one run of null-key
      // rows within a group)
      final class Run(val group: UnsafeRow, val key: Long, val isNull: Boolean) {
        val rows = new ArrayBuffer[UnsafeRow]
      }

      // trailing value-window, seeded with the stitched predecessor
      // edge (rows of this task's FIRST group by construction) and
      // cleared at every later group
      val deque = new ArrayDeque[(Long, UnsafeRow)]
      preTail.foreach(deque += _)

      new Iterator[InternalRow] {
        // runs read from iter but not yet emitted; head = current run
        private val pending = new ArrayDeque[Run]
        private val runVals = new GenericInternalRow(funcsLocal.length)
        private var cur: Run = _
        private var curPos = 0
        private var readDone = false

        private def readRun(): Unit = {
          if (readDone || !iter.hasNext) { readDone = true; return }
          var r = toUnsafe(iter.next()).copy()
          var kr = keyProj(r)
          val pr = partProj(r)
          val isNull = kr.isNullAt(0)
          val key = if (isNull) 0L else keyOf(kr)
          // continue the previous run if this row is its peer (same
          // partition-key group AND same order key / both null)
          pending.lastOption match {
            case Some(run) if run.group.equals(pr) && run.isNull == isNull &&
                (isNull || run.key == key) =>
              run.rows += r
            case _ =>
              val run = new Run(pr.copy(), key, isNull)
              run.rows += r
              pending += run
          }
          if (!iter.hasNext) readDone = true
        }

        /** Read ahead until the lookahead horizon for key K is covered:
          * a run with key > K + maxY or of a different partition-key
          * group exists, a null run follows (null keys are outside
          * every arithmetic frame), or input ends. At maxY = 0 this
          * still reads one run past K — which is what COMPLETES the
          * current tie run before its frame is folded. */
        private def fillAhead(k: Long): Unit = {
          var done = false
          while (!done) {
            val last = pending.lastOption
            val covered = last.exists(r =>
              (r ne cur) && (r.isNull || !r.group.equals(cur.group) ||
                r.key > satAdd(k, maxY)))
            if (covered || readDone) done = true else readRun()
          }
        }

        private def advance(): Unit = {
          if (pending.isEmpty) readRun()
          if (pending.isEmpty) return
          cur = pending.head
          curPos = 0
          // partition-key boundary: the trailing window never crosses it
          if (groups.advance(cur.rows.head)) deque.clear()
          if (cur.isNull) {
            // null peer group: frame = the run itself — complete it first
            while (!readDone && pending.length < 2) readRun()
            var i = 0
            while (i < funcsLocal.length) {
              inits(i)(InternalRow.empty)
              var j = 0
              while (j < cur.rows.length) {
                updates(i)(joinBI(buffers(i), cur.rows(j))); j += 1
              }
              runVals.update(i, evals(i)(buffers(i)).get(0, attrTypes(i)))
              i += 1
            }
          } else {
            val k = cur.key
            fillAhead(k)
            while (deque.nonEmpty && deque.head._1 < satSub(k, maxX))
              deque.removeHead()
            // stitched successors only continue this task's LAST group
            val stitchPost = groups.inLast
            var i = 0
            while (i < funcsLocal.length) {
              val f = funcsLocal(i)
              inits(i)(InternalRow.empty)
              // 1) trailing deque slice within this function's x-width
              val cut = loOf(f, k)
              var p = 0
              while (p < deque.length && deque(p)._1 < cut) p += 1
              while (p < deque.length) {
                updates(i)(joinBI(buffers(i), deque(p)._2)); p += 1
              }
              // 2) the run itself
              var j = 0
              while (j < cur.rows.length) {
                updates(i)(joinBI(buffers(i), cur.rows(j))); j += 1
              }
              // 3) lookahead runs within this function's y-width and
              // this run's partition-key group
              if (f.ym > 0 || f.y > 0) {
                val hi = hiOf(f, k)
                val it = pending.iterator
                it.next() // skip cur
                var stop = false
                while (!stop && it.hasNext) {
                  val r = it.next()
                  if (r.isNull || !r.group.equals(cur.group) || r.key > hi)
                    stop = true
                  else {
                    var j2 = 0
                    while (j2 < r.rows.length) {
                      updates(i)(joinBI(buffers(i), r.rows(j2))); j2 += 1
                    }
                  }
                }
                // 4) stitched successors past the partition end (rows
                // of the last group's continuation in later tasks)
                if (stitchPost) {
                  var q = 0
                  while (q < post.length && post(q)._1 <= hi) {
                    updates(i)(joinBI(buffers(i), post(q)._2)); q += 1
                  }
                }
              }
              runVals.update(i, evals(i)(buffers(i)).get(0, attrTypes(i)))
              i += 1
            }
            // the run joins the trailing window for later rows (null-key
            // rows never do: they are outside every arithmetic frame)
            if (maxX > 0) cur.rows.foreach(r => deque += ((k, r)))
          }
          pending.removeHead()
        }

        override def hasNext: Boolean =
          (cur != null && curPos < cur.rows.length) ||
            pending.nonEmpty || !readDone && iter.hasNext

        override def next(): InternalRow = {
          if (cur == null || curPos >= cur.rows.length) advance()
          val row = cur.rows(curPos)
          curPos += 1
          outProj(joinOut(row, runVals))
        }
      }
    }
  }

}
