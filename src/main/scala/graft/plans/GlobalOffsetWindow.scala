package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Alias, Expression, FrameLessOffsetWindowFunction, GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan

/** Scale-safe planning for naive lag()/lead().
  *
  * `lag(x) OVER (ORDER BY ...)` / `lead(x) OVER (ORDER BY ...)` with no
  * PARTITION BY are frameless OFFSET window functions: like the global
  * ranking family ([[GlobalRowNumberStrategy]]) Spark's WindowExec
  * demands SinglePartition for them, funneling the whole table through
  * one task. But an offset function needs only a CONSTANT number of
  * neighbor rows, so the distributed plan is natural: range-shuffle
  * (the same fully-parallel exchange a global sort uses), then give
  * each partition the few boundary rows it's missing — the max-lag
  * tail of its predecessors and the max-lead head of its successors,
  * collected in one tiny job and shipped driver-side (bounded by
  * offset × partitions rows, independent of data size).
  *
  * PARTITIONED lag/lead — `lag(x) OVER (PARTITION BY user ORDER BY
  * ts)`, sessionization's workhorse — ride the SAME machinery over a
  * range exchange on (partition keys ⧺ order key): a key's rows are
  * contiguous under that sort, so the per-key n-th neighbor IS the
  * global n-th neighbor exactly when its key matches, and a null-safe
  * byte-equality key guard (partition keys are float-normalized
  * upstream) turns a cross-key neighbor into the default, in plain
  * SQL. Stock Spark's hash exchange puts every row of a hot
  * key in ONE task; here the key spans tasks, and a chain of windows
  * over the same (key, order) — lag for the session break, a running
  * sum for the session id — reuses ONE range exchange end to end.
  *
  * Matches a Window node whose expressions are ALL
  * [[FrameLessOffsetWindowFunction]]s (lag/lead, mixed offsets fine)
  * with foldable offsets and ignoreNulls = false. Defaults are
  * evaluated against the CURRENT row, exactly as WindowExec's offset
  * frame does. Values match WindowExec on any tie-free total order
  * (with ties, neighbor identity is arbitrary in either plan —
  * distributed sorts never promise tie order).
  *
  * Opt-out: shares `spark.graft.globalRowNumber.enabled` with the
  * ranking rescue — one switch restores every built-in global window.
  */
object GlobalOffsetWindowStrategy extends WindowFamily {

  private def funcOf(e: NamedExpression): Option[(Expression, Int, Expression)] =
    e match {
      case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
          if !f.ignoreNulls && f.offset.foldable =>
        f.offset.eval() match {
          case o: Integer => Some((f.input, o.intValue(), f.default))
          case _ => None
        }
      case _ => None
    }

  override def claims(e: NamedExpression): Boolean = funcOf(e).isDefined

  override def exec(w: logical.Window, child: SparkPlan): Option[SparkPlan] = {
    val funcs = w.windowExpressions.map { e =>
      val (input, off, dflt) = funcOf(e).get
      GlobalOffsetWindowExec.OffsetFunc(input, off, dflt, e.toAttribute)
    }
    Some(GlobalOffsetWindowExec(w.partitionSpec, w.orderSpec, funcs, child))
  }
}

object GlobalOffsetWindowExec {
  /** One lag/lead column: evaluate `input` on the row `offset` positions
    * away (negative = earlier), `default` on the current row when the
    * target falls outside the table (or outside the current partition
    * key's run, in partitioned mode). */
  case class OffsetFunc(input: Expression, offset: Int, default: Expression,
                        attr: Attribute)
}

/** Physical distributed lag/lead: range-shuffled sorted input + one
  * boundary job ([[EdgeRows]]: each partition's first maxLead and last
  * maxLag rows, stitched into each partition's missing neighbors on the
  * driver). The main pass then runs a sliding window entirely
  * partition-locally over an [[EdgeRows.Cursor]]: per-partition memory
  * is (maxLag + maxLead + 1) rows — constant, never data-sized. In
  * partitioned mode the neighbor
  * additionally must carry the current row's partition key (the sort
  * makes a key's rows contiguous, so the check is one byte-equality);
  * otherwise the function's default applies — WindowExec's
  * out-of-partition semantics. */
case class GlobalOffsetWindowExec(partition: Seq[Expression],
                                  order: Seq[SortOrder],
                                  funcs: Seq[GlobalOffsetWindowExec.OffsetFunc],
                                  child: SparkPlan) extends GlobalWindowExec {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val resultAttrs = output
    val funcsLocal = funcs.toArray
    val partExprs = partition
    val keyGuard = partExprs.nonEmpty
    val maxLag = math.max(0, -funcsLocal.map(_.offset).min)
    val maxLead = math.max(0, funcsLocal.map(_.offset).max)
    val rdd = input()

    // edge rows: a partition with fewer rows than the offset is walked
    // through. Stitched rows may carry a FOREIGN partition key — the key
    // guard in pass 2 turns those into defaults.
    val (counts, preTails, sucHeads) = EdgeRows(rdd, childOutput, maxLag, maxLead)
    val rowOffsets = counts.scanLeft(0L)(_ + _)
    val totalRows = rowOffsets.last
    val nParts = counts.length

    // pass 2: sliding window per partition; each task ships only its
    // own offsets and edge rows ([[PerPartition.stitch]])
    PerPartition.stitch(rdd, (0 until nParts).map(p =>
      (rowOffsets(p), counts(p), preTails(p), sucHeads(p)))) { (slice, iter) =>
      val (rowOffset, partCount, preTail, sucHead) = slice
      val joined = new JoinedRow
      val valueRow = new GenericInternalRow(funcsLocal.length)
      val proj = UnsafeProjection.create(resultAttrs, resultAttrs)
      // one projection per func: input on the target row, default on the
      // current row (each instance's buffer survives until ITS next call,
      // so all values stay valid through the final projection)
      val inputProjs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.input), childOutput))
      val defaultProjs = funcsLocal.map(f =>
        UnsafeProjection.create(Seq(f.default), childOutput))
      val dtypes = funcsLocal.map(_.attr.dataType)
      // TWO projection instances (separate buffers) so the current row's
      // key and a neighbor's key can be compared without copying
      val rowKeyProj = UnsafeProjection.create(partExprs, childOutput)
      val neighKeyProj = UnsafeProjection.create(partExprs, childOutput)

      val rows = new EdgeRows.Cursor(iter, partCount, preTail, sucHead, maxLag, maxLead)
      val lagBuf = rows.lag
      val leadBuf = rows.lead

      new Iterator[InternalRow] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): InternalRow = {
          val row = rows.current()
          val rowKey = if (keyGuard) rowKeyProj(row) else null
          val globalIdx = rowOffset + rows.emitted
          var i = 0
          while (i < funcsLocal.length) {
            val off = funcsLocal(i).offset
            val target = globalIdx + off
            val neighbor: InternalRow =
              if (target < 0 || target >= totalRows) null
              else if (off < 0) {
                // lagBuf holds the last maxLag rows before `row`,
                // oldest first; wanted is |off| back from the end
                lagBuf(lagBuf.length + off)
              } else if (off > 0) leadBuf(off)
              else row
            // per-key window: a neighbor of a DIFFERENT key is outside
            // the frame — default, exactly as WindowExec at a partition
            // edge (byte equality is exact: window partition keys are
            // float-normalized by the optimizer)
            val inFrame = neighbor != null &&
              (!keyGuard || neighKeyProj(neighbor).equals(rowKey))
            val value: Any =
              if (inFrame) inputProjs(i)(neighbor).get(0, dtypes(i))
              else defaultProjs(i)(row).get(0, dtypes(i))
            valueRow.update(i, value)
            i += 1
          }
          val out = proj(joined(row, valueRow))
          rows.advance()
          out
        }
      }
    }
  }
}
