package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, NamedExpression, SortOrder, SpecifiedWindowFrame, SpecificInternalRow, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, CountMinSketchAgg, DeclarativeAggregate, HyperLogLogPlusPlus, ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.DataType

/** Scale-safe planning for naive WHOLE-TABLE window aggregates.
  *
  * `SUM(x) OVER ()` — the "share of total" query (`x / SUM(x) OVER ()`)
  * and its count/min/max/avg siblings — is the single most common
  * global-window shape, and stock Spark plans it as a SinglePartition
  * WindowExec: the ENTIRE table shuffled into one task to compute one
  * number every row then shares. This is the same single-partition
  * funnel as the reference's motivating region-server hot-spot
  * (README:9-27), hit from plain SQL.
  *
  * The distributed shape is trivial because the frame is the whole
  * table: every output value is the SAME constant. So: one tiny job
  * aggregates each partition into a partial buffer (map-side partial
  * aggregation, exactly what groupBy().agg() would do), the driver
  * merges the #partitions buffers (constant work), evaluates once, and
  * a second NARROW pass attaches the constants to every row. NO shuffle
  * at all — where the built-in moves 100 TB into one task, this plan
  * moves zero bytes and runs both passes at full parallelism. (The
  * child lineage executes twice — two column-pruned scans, the same
  * cost as the agg-then-broadcast-join rewrite a careful user would
  * hand-write, without the join.)
  *
  * Matches Window nodes with an empty partition spec and UNBOUNDED
  * PRECEDING .. UNBOUNDED FOLLOWING frames — both the bare `OVER ()`
  * (empty order spec) and the explicit `OVER (ORDER BY k ROWS/RANGE
  * BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` spelling: an
  * order spec cannot change a whole-table frame, so the value is the
  * same constant either way — for ORDER-INSENSITIVE aggregates.
  * First/Last are excluded EXPLICITLY (Catalyst marks them
  * deterministic, but their value depends on enumeration order, which
  * this exec — unordered partials merged in partition order — does not
  * honor; an ordered `first_value` is rewritten to the rescued
  * `nth_value(x, 1)` by the optimizer, and an ordered `last_value` is
  * claimed by [[GlobalNthValueStrategy]] as nth 1 FROM THE END — both
  * ride the ordered constant-lookup exec, so excluding them here costs
  * nothing). Aggregates are
  * deterministic [[DeclarativeAggregate]]s, driven through
  * their own init/update/merge/evaluate projections — sum/count/min/
  * max/avg and any other deterministic declarative aggregate, decimals
  * and all. For FLOATING-POINT sums the partial merge
  * associates additions differently than one sequential scan — last-ulp
  * differences, the same caveat as every parallel float sum.
  *
  * PARTITIONED nodes — `x / SUM(x) OVER (PARTITION BY user)`, the
  * "share of GROUP total", an even more common spelling — are claimed
  * too: stock Spark's hash exchange sends every row of a hot key
  * through one task (the hot-region-server failure mode). Here the
  * exchange is a RANGE exchange over (partition keys ⧺ spread keys) —
  * the node's ORDER BY if it has one, else the aggregates' own
  * orderable input columns — so a hot key spans tasks; one stats job
  * ships each task's EDGE-group partial buffers (first and last key
  * group — the only slices visible across task edges), the driver
  * merges adjacent same-group partials into per-group constants
  * (bounded by two buffers per task), and pass 2 buffers one group at
  * a time (slice-bounded, the granularity WindowExec buffers at),
  * evaluating interior groups locally. A bare `OVER (PARTITION BY k)`
  * whose aggregates have no orderable input (e.g. only `COUNT(*)`)
  * has no spread dimension and stays with the built-in.
  *
  * Opt-out: [[GlobalWindowStrategy.ConfKey]].
  */
object GlobalConstantAggStrategy extends WindowFamily {
  import GlobalConstantAggExec.ConstAgg

  /** Imperative SKETCH aggregates safe under partial-then-merge.
    *
    * HLL++ (register-wise max) and count-min (counter addition) merge
    * to the IDENTICAL sketch the built-in's sequential scan builds.
    * approx_percentile merges to a DIFFERENT but equally valid sketch:
    * `QuantileSummaries`' merge is the Greenwald-Khanna merge, whose
    * result is a guaranteed ε-summary of the union — the same
    * guarantee the sequential build carries, and the same operation
    * stock Spark's own partial+final GROUP BY plan performs. Windowed
    * approx_percentile was never bit-stable across plans (a groupBy
    * twin of the same data already disagrees with the single-task
    * window in compress details), so the rescue holds the sketch's
    * documented contract — any returned value sits within ε of the
    * requested rank — not bit-parity with one arbitrary build order.
    * Order-SENSITIVE collect_list is rescued ONLY with an explicit
    * ORDER BY (see [[sortedCollect]]); a bare unordered collect stays
    * declined — its value IS the enumeration order, which no
    * distributed plan (or the built-in, across reruns) pins. */
  private def sketchLike(f: AggregateFunction): Boolean = f match {
    case _: HyperLogLogPlusPlus => true
    case _: CountMinSketchAgg => true
    case _: org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile => true
    case _ => false
  }

  /** ORDER-SENSITIVE collectors rescuable only under an explicit ORDER
    * BY: the exec's range exchange delivers task slices in key order,
    * rows sort within tasks, and `Collect.merge` APPENDS — so the
    * left-to-right edge merge reproduces exactly the sorted sequential
    * build. collect_set stays out (its output order is insertion order
    * of first occurrence — an enumeration artifact in any plan). */
  private[plans] def sortedCollect(f: AggregateFunction): Boolean =
    f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectList]

  private def funcOf(e: NamedExpression): Option[ConstAgg] = e match {
    case Alias(WindowExpression(
          AggregateExpression(f, Complete, false, None, _),
          WindowSpecDefinition(_, orderSpec,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _)
        if (f match {
          case d: DeclarativeAggregate =>
            d.deterministic &&
              !d.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.First] &&
              !d.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Last]
          case other => sketchLike(other) ||
            (sortedCollect(other) && orderSpec.nonEmpty &&
              orderSpec.forall(_.deterministic))
        }) =>
      Some(ConstAgg(f, e.toAttribute))
    case _ => None
  }

  /** A whole-table frame needs no ORDER BY. */
  override def claimsNode(w: logical.Window): Boolean = true
  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  /** Spread keys that let the range exchange split a hot key across
    * tasks: the ORDER BY if present, else the aggregates' orderable
    * deterministic input columns, else ANY orderable child column not
    * already in the partition spec (the spread only distributes rows —
    * which column is immaterial to a whole-group constant). Empty —
    * e.g. `COUNT(*) OVER (PARTITION BY the_only_column)` — declines. */
  private def spreadOf(w: logical.Window,
                       funcs: Seq[ConstAgg]): Seq[SortOrder] = {
    def orderable(c: Expression): Boolean =
      c.deterministic && !c.foldable &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(c.dataType)
    if (w.orderSpec.nonEmpty) w.orderSpec
    else {
      val fromInputs = funcs.flatMap(_.agg.children).distinct.filter(orderable)
      val candidates =
        if (fromInputs.nonEmpty) fromInputs
        else w.child.output
          .filter(a => orderable(a) && !w.partitionSpec.exists(_.semanticEquals(a)))
          .take(1)
      candidates.map(c => SortOrder(c, org.apache.spark.sql.catalyst.expressions.Ascending))
    }
  }

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] = {
    val funcs = w.windowExpressions.map(funcOf(_).get)
    val spread =
      if (w.partitionSpec.nonEmpty) spreadOf(w, funcs)
      // an order-sensitive collector forces the ordered (range-exchange)
      // path even with no partition keys; order-insensitive constants
      // keep the zero-exchange two-pass
      else if (funcs.exists(c => sortedCollect(c.agg))) w.orderSpec
      else Nil
    if (w.partitionSpec.nonEmpty && spread.isEmpty) None
    else Some(GlobalConstantAggExec(w.partitionSpec, spread, funcs, child))
  }
}

object GlobalConstantAggExec {
  /** One whole-table aggregate column (value constant across all rows);
    * `agg` is a deterministic [[DeclarativeAggregate]] or a whitelisted
    * order-independent imperative sketch. */
  case class ConstAgg(agg: AggregateFunction, attr: Attribute)

  /** One group's partial: the declarative buffer and each sketch's
    * serialized buffer. */
  private[plans] final case class Partial(buf: UnsafeRow, sketches: Array[Array[Byte]])

  /** Folds a group's rows into a [[Partial]]: the declaratives (output
    * slots `dSlots`) through one [[AggBuffer]], each sketch (slot
    * `iSlots(m)`) through its [[ImpOps]]; `merge` adds another partial
    * and `constants` evaluates the output values. */
  private[plans] final class Fold(decl: Seq[DeclarativeAggregate], dSlots: Array[Int],
                                  ops: Array[ImpOps], iSlots: Array[Int],
                                  types: Array[DataType], input: Seq[Attribute])
      extends GroupFold[Partial] {
    private val agg = new AggBuffer(decl, input)
    private var sketches: Array[AnyRef] = ops.map(_.newBuf())

    def reset(): Unit = { agg.reset(); sketches = ops.map(_.newBuf()) }
    def add(row: InternalRow): Unit = {
      agg.add(row)
      var j = 0
      while (j < ops.length) { sketches(j) = ops(j).update(sketches(j), row); j += 1 }
    }
    def snapshot(): Partial =
      Partial(agg.snapshot(), ops.indices.map(j => ops(j).serialize(sketches(j))).toArray)
    def merge(p: Partial): Unit = {
      agg.merge(p.buf)
      var j = 0
      while (j < ops.length) { sketches(j) = ops(j).mergeBytes(sketches(j), p.sketches(j)); j += 1 }
    }
    def constants(): Array[Any] = {
      val vals = new Array[Any](types.length)
      val evalRow = agg.eval()
      dSlots.indices.foreach(m =>
        vals(dSlots(m)) = InternalRow.copyValue(evalRow.get(m, types(dSlots(m)))))
      iSlots.indices.foreach(m =>
        vals(iSlots(m)) = InternalRow.copyValue(ops(m).eval(sketches(m))))
      vals
    }
  }

  /** Uniform driver/executor operations over one imperative sketch
    * aggregate: an opaque buffer with update / serialize / merge /
    * eval. Two shapes exist — typed (object buffer, own codec) and raw
    * (row buffer at offset 0, UnsafeRow bytes as the codec). */
  private[plans] sealed trait ImpOps extends Serializable {
    def newBuf(): AnyRef
    def update(buf: AnyRef, row: InternalRow): AnyRef
    def serialize(buf: AnyRef): Array[Byte]
    def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef
    def eval(buf: AnyRef): Any
  }

  private[plans] final class TypedOps(f: TypedImperativeAggregate[Any])
      extends ImpOps {
    override def newBuf(): AnyRef = f.createAggregationBuffer().asInstanceOf[AnyRef]
    override def update(buf: AnyRef, row: InternalRow): AnyRef =
      f.update(buf.asInstanceOf[Any], row).asInstanceOf[AnyRef]
    override def serialize(buf: AnyRef): Array[Byte] =
      f.serialize(buf.asInstanceOf[Any])
    override def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef =
      f.merge(buf.asInstanceOf[Any], f.deserialize(bytes)).asInstanceOf[AnyRef]
    override def eval(buf: AnyRef): Any = f.eval(buf.asInstanceOf[Any])
  }

  private[plans] final class RawOps(f0: ImperativeAggregate) extends ImpOps {
    private val f = f0.withNewMutableAggBufferOffset(0)
      .withNewInputAggBufferOffset(0).asInstanceOf[ImperativeAggregate]
    private val types = f.aggBufferAttributes.map(_.dataType)
    @transient private lazy val toBytes =
      UnsafeProjection.create(f.aggBufferAttributes, f.aggBufferAttributes)
    override def newBuf(): AnyRef = {
      val b = new SpecificInternalRow(types)
      f.initialize(b); b
    }
    override def update(buf: AnyRef, row: InternalRow): AnyRef = {
      f.update(buf.asInstanceOf[InternalRow], row); buf
    }
    override def serialize(buf: AnyRef): Array[Byte] =
      toBytes(buf.asInstanceOf[InternalRow]).copy().getBytes
    override def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef = {
      val r = new UnsafeRow(types.length)
      r.pointTo(bytes, bytes.length)
      f.merge(buf.asInstanceOf[InternalRow], r); buf
    }
    override def eval(buf: AnyRef): Any = f.eval(buf.asInstanceOf[InternalRow])
  }

  private[plans] def opsFor(f: AggregateFunction,
                            childOutput: Seq[Attribute]): ImpOps = {
    val bound = BindReferences.bindReference[Expression](
      f, org.apache.spark.sql.catalyst.expressions.AttributeSeq(childOutput))
    bound match {
      case t: TypedImperativeAggregate[_] =>
        new TypedOps(t.asInstanceOf[TypedImperativeAggregate[Any]])
      case i: ImperativeAggregate => new RawOps(i)
      case other => throw new IllegalStateException(
        s"not an imperative aggregate: $other")
    }
  }
}

/** Physical whole-table window aggregation on the [[BoundaryScan]]: pass
  * 1 folds each edge group into a partial (declarative buffer plus
  * serialized sketches), the driver merges each chain's partials left to
  * right and evaluates once per chain. Unordered whole-table constants
  * need no exchange: every task is one empty-keyed group, one chain spans
  * the table, and a narrow pass attaches the constants. The ordered path
  * — per-key constants over a range exchange, or an order-sensitive
  * global collector — buffers one group at a time: edge groups take the
  * driver's constants, interior groups (whole in their task) evaluate
  * their own rows. Driver state is two partials per task, independent of
  * data size. */
case class GlobalConstantAggExec(partition: Seq[Expression],
                                 spread: Seq[SortOrder],
                                 funcs: Seq[GlobalConstantAggExec.ConstAgg],
                                 child: SparkPlan) extends GlobalWindowExec {

  import GlobalConstantAggExec.{Fold, ImpOps, Partial, opsFor}

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)
  override def order: Seq[SortOrder] = spread

  /** Ordered path — per-key constants OR an order-sensitive global
    * collector (partition empty, spread = the node's ORDER BY). The
    * unordered whole-table path needs no exchange at all. */
  private def ordered: Boolean = partition.nonEmpty || spread.nonEmpty

  override def requiredChildDistribution: Seq[Distribution] =
    if (ordered) super.requiredChildDistribution else UnspecifiedDistribution :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (ordered) super.requiredChildOrdering else Seq(Nil)
  override def outputOrdering: Seq[SortOrder] =
    if (ordered) super.outputOrdering else child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val partExprs = partition
    // declarative / imperative split: declaratives ride [[AggBuffer]],
    // imperatives the [[ImpOps]] object buffers; slot indexes map each
    // back to its output column
    val dIdx = funcs.indices.filter(funcs(_).agg.isInstanceOf[DeclarativeAggregate]).toArray
    val iIdx = funcs.indices.filterNot(dIdx.contains).toArray
    val declAggs = dIdx.map(i => funcs(i).agg.asInstanceOf[DeclarativeAggregate]).toSeq
    val impOps: Array[ImpOps] = iIdx.map(i => opsFor(funcs(i).agg, childOutput))
    val attrTypes = funcs.map(_.attr.dataType).toArray
    def fold() = new Fold(declAggs, dIdx, impOps, iIdx, attrTypes, childOutput)
    val rdd = input()

    // pass 1 folds each edge group (with no partition keys, each whole
    // task) into a partial; the driver merges each chain left to right —
    // partition order, which a sorted collector's append relies on
    val edges = BoundaryScan.summarize(rdd, partExprs, childOutput)(() => fold())
    val driver = fold()
    def merged(ps: Partial*): Fold = {
      driver.reset(); ps.foreach(driver.merge); driver
    }
    val zero = driver.snapshot()
    val walk = BoundaryScan.walk(edges, zero,
      (c: Partial, s: Partial) => merged(c, s).snapshot())

    if (!ordered) {
      // pass 2: narrow attach of the constants — full parallelism, no state
      val total = edges.indices.find(edges(_).first != null).map(walk.firstTotal).getOrElse(zero)
      val constVals = merged(total).constants()
      return rdd.mapPartitions { iter =>
        val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
        val join = new JoinedRow
        val constRow = new GenericInternalRow(constVals)
        iter.map(row => outProj(join(row, constRow)))
      }
    }

    // pass 2: buffer one group at a time; edge groups take the driver's
    // constants, interior groups evaluate their own rows
    finish(rdd, edges, p => (merged(walk.firstTotal(p)).constants(),
        merged(walk.lastTotal(p)).constants())) { (_, slice, iter) =>
      val (firstConst, lastConst) = slice
      val outProj = UnsafeProjection.create(resultAttrs, resultAttrs)
      val join = new JoinedRow
      val local = fold()
      val groups = new Runs(iter, UnsafeProjection.create(partExprs, childOutput))

      new Iterator[InternalRow] {
        private var constRow: InternalRow = _

        private def fillGroup(): Unit = {
          groups.fill()
          constRow = new GenericInternalRow(
            if (groups.isFirst) firstConst
            else if (groups.isLast) lastConst
            else {
              local.reset()
              groups.rows.foreach(local.add)
              local.constants()
            })
        }

        override def hasNext: Boolean = groups.hasNext

        override def next(): InternalRow = {
          if (groups.exhausted) fillGroup()
          outProj(join(groups.next(), constRow))
        }
      }
    }
  }
}
