package graft.plans

import graft.store.{FileManifest, KeyBounds, ManifestFileIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.graft.InputRecords
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, NamedExpression, SortOrder, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Plans a global ascending sort on a salted store's key as the
  * reference's k-way merge (wd/DistributedScanner.java:106-139): the
  * store's files are each sorted by key, so merging their streams
  * restores global key order with no sample, no exchange and no sort.
  *
  * Fires on `Sort(key ASC, global)` over `Filter`s and `Project`s over a
  * parquet relation whose [[ManifestFileIndex]] records per-file ranges
  * of that same key (a store written by `SaltedStore.write`), when the
  * range's estimated bytes fit one task at
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. The key must be
  * the stored column itself. Every other input keeps Spark's plan (range
  * exchange + sort): other formats, a relation read by listing or with a
  * file that has no key range, a derived sort column, a descending or
  * multi-column sort, and a range too large for one task. The last is
  * the salted layout's own shape: every bucket's files span the whole
  * key range, so cutting the merge into key-range tasks would make each
  * task read every file up to its cut, where the range sort reads each
  * byte once.
  */
object MergeScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case logical.Sort(Seq(SortOrder(k: AttributeReference, Ascending, _, _)), true,
        PhysicalOperation(projects, filters, rel: LogicalRelation), _)
        if k.dataType == LongType || k.dataType == IntegerType =>
      rel.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.getClass == classOf[ParquetFileFormat] =>
          fs.location match {
            case idx: ManifestFileIndex if idx.key.contains(k.name) &&
                rel.output.exists(_.exprId == k.exprId) =>
              merge(k, projects, filters, rel, fs, idx)
            case _ => Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }

  private def merge(k: Attribute, projects: Seq[NamedExpression],
                    filters: Seq[Expression],
                    rel: LogicalRelation, fs: HadoopFsRelation,
                    idx: ManifestFileIndex): Seq[SparkPlan] = {
    val partNames = fs.partitionSchema.fieldNames.toSet
    val partAttrs = AttributeSet(rel.output.filter(a => partNames.contains(a.name)))
    // partition-only filters prune whole dirs; the rest read rows
    val (partFilters, dataFilters) =
      filters.partition(f => f.references.nonEmpty && f.references.subsetOf(partAttrs))
    val required = AttributeSet(projects.flatMap(_.references)) ++
      AttributeSet(dataFilters.flatMap(_.references)) + k
    val out = rel.output.filter(required.contains)
    val dataOut = out.filterNot(partAttrs.contains)
    val (lo, hi) = KeyBounds.of(dataFilters, k.name)
    val files = idx.selected(partFilters, dataFilters).flatMap { case (pv, es) =>
      es.map(e => (pv, e))
    }
    // metadata columns, subquery filters (dynamic pruning), files
    // without a recorded key range, and a range too large for one task:
    // decline
    if (!dataOut.forall(a => fs.dataSchema.fieldNames.contains(a.name)) ||
        filters.exists(SubqueryExpression.hasSubquery) ||
        files.exists(_._2.keyRange.isEmpty)) return Nil
    val live = if (lo > hi) Nil
      else files.filter { case (_, e) => e.keyRange.exists(r => r._1 <= hi && r._2 >= lo) }
    if (MergeScanExec.estimatedBytes(live.map(_._2), lo, hi) >
        SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) return Nil
    // the key range goes down to the row groups; FilterExec applies every filter
    val (min, max) = if (k.dataType == IntegerType) (Int.MinValue.toLong, Int.MaxValue.toLong)
      else (Long.MinValue, Long.MaxValue)
    def value(v: Long): Any = if (k.dataType == IntegerType) v.toInt else v
    val pushed = (if (lo > min && lo <= max) Seq(GreaterThanOrEqual(k.name, value(lo))) else Nil) ++
      (if (hi < max && hi >= min) Seq(LessThanOrEqual(k.name, value(hi))) else Nil)
    val scan = MergeScanExec(fs, out, k, StructType(dataOut.map(a => fs.dataSchema(a.name))),
      pushed, idx.root.toString, live, lo, hi)
    val filtered = dataFilters.reduceOption(And).fold[SparkPlan](scan)(FilterExec(_, scan))
    Seq(if (projects.map(_.toAttribute) == filtered.output) filtered
      else ProjectExec(projects, filtered))
  }
}

/** The k-way merge scan, one task. It opens every file of `files` with
  * the parquet reader (the range [lo, hi] pushed down to the row
  * groups), skips the keys below `lo`, stops each stream at the first
  * key above `hi`, and merges the streams through a priority queue on
  * the key. Its one partition is sorted, so an ordered consumer — the
  * window rescues' [[GlobalWindowExec]], `toLocalIterator` — needs no
  * exchange.
  *
  * A stream whose key goes down is a file not sorted by the key: the
  * task fails and names the file, and never emits rows out of order.
  */
final case class MergeScanExec(@transient relation: HadoopFsRelation, output: Seq[Attribute],
                               key: Attribute, requiredSchema: StructType,
                               pushedFilters: Seq[Filter], root: String,
                               files: Seq[(InternalRow, FileManifest.Entry)],
                               lo: Long, hi: Long)
    extends LeafExecNode {

  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))

  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files opened"))

  override def simpleString(maxFields: Int): String =
    s"MergeScan [${key.name}] ${files.size} file(s), " +
      s"PushedFilters: ${pushedFilters.mkString("[", ", ", "]")}"

  protected override def doExecute(): RDD[InternalRow] = {
    val spark = relation.sparkSession
    val read = relation.fileFormat.buildReaderWithPartitionValues(spark,
      relation.dataSchema, relation.partitionSchema, requiredSchema, pushedFilters,
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(relation.options))
    // the reader emits the required data columns, then every partition column
    val readAttrs = DataTypeUtils.toAttributes(requiredSchema) ++
      DataTypeUtils.toAttributes(relation.partitionSchema)
    val project = output.map { a =>
      BoundReference(readAttrs.indexWhere(_.name == a.name), a.dataType, a.nullable)
    }
    val keyed = MergeScanExec.Key(requiredSchema.fieldIndex(key.name),
      key.dataType == IntegerType, key.name)
    val numOut = longMetric("numOutputRows")
    val opened = longMetric("numFiles")
    val (root, files, lo, hi) = (this.root, this.files, this.lo, this.hi)
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val toUnsafe = UnsafeProjection.create(project)
      MergeScanExec.merge(root, files, lo, hi, read, keyed, opened).map { r =>
        numOut += 1
        toUnsafe(r)
      }
    }
  }
}

object MergeScanExec {
  /** Where and how the merge reads the key from a reader row. */
  final case class Key(ordinal: Int, isInt: Boolean, name: String)

  /** One file's rows with keys in [lo, hi], positioned on its current row. */
  private final class Stream(path: String, rows: Iterator[InternalRow], k: Key,
                             lo: Long, hi: Long, count: Long => Unit) {
    var row: InternalRow = _
    var key: Long = Long.MinValue
    private var prev = Long.MinValue

    /** Moves to the next row in range; false once there is none. */
    def advance(): Boolean = {
      while (rows.hasNext) {
        val r = rows.next()
        count(1)
        if (r.isNullAt(k.ordinal)) throw new IllegalStateException(
          s"merge scan: $path holds a null ${k.name}, which its file manifest " +
            "does not record; rewrite the store with SaltedStore.compact")
        val v = if (k.isInt) r.getInt(k.ordinal).toLong else r.getLong(k.ordinal)
        if (v < prev) throw new IllegalStateException(
          s"merge scan: ${k.name} goes down in $path ($prev, then $v) — the file " +
            s"is not sorted by ${k.name}, and merging it would emit rows out of order; " +
            "rewrite the store with SaltedStore.compact")
        prev = v
        if (v > hi) {
          close()
          return false
        }
        if (v >= lo) {
          row = r
          key = v
          return true
        }
      }
      close()
      false
    }

    /** Releases the file's reader (its stream and batch buffers): the
      * parquet reader closes itself only when read to its end. */
    def close(): Unit = rows match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }

  /** The rows of `files` with keys in [lo, hi], in key order: a priority
    * queue over one stream per file. A stream's current row stays valid
    * until that stream advances, which happens only after its row was
    * returned. */
  private[graft] def merge(root: String, files: Seq[(InternalRow, FileManifest.Entry)],
                           lo: Long, hi: Long, read: PartitionedFile => Iterator[InternalRow],
                           k: Key, opened: SQLMetric): Iterator[InternalRow] = {
    val count = InputRecords.counter()
    val heap = new java.util.PriorityQueue[Stream](math.max(1, files.size),
      (a: Stream, b: Stream) => java.lang.Long.compare(a.key, b.key))
    val base = new Path(root)
    val streams = files.map { case (pv, e) =>
      opened += 1
      val path = new Path(base, e.rel)
      new Stream(path.toString, read(PartitionedFile(pv, SparkPath.fromPath(path),
        0, e.len, Array.empty[String], e.mtime, e.len)), k, lo, hi, count)
    }
    // a task that fails or is not read to its end closes every reader
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => streams.foreach(_.close())))
    streams.foreach(st => if (st.advance()) heap.add(st))
    new Iterator[InternalRow] {
      private var last: Stream = null
      override def hasNext: Boolean = {
        if (last != null) {
          if (last.advance()) heap.add(last)
          last = null
        }
        !heap.isEmpty
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("merge scan exhausted")
        last = heap.poll()
        last.row
      }
    }
  }

  /** Estimated bytes of the keys in [lo, hi] over `files`, each file's
    * bytes taken as spread evenly over its recorded key range. */
  private[graft] def estimatedBytes(files: Seq[FileManifest.Entry], lo: Long, hi: Long): Double =
    files.flatMap(e => e.keyRange.map { case (min, max) =>
      val x = math.max(lo, min)
      val y = math.min(hi, max)
      if (x > y) 0.0 else e.len * ((y.toDouble - x + 1) / (max.toDouble - min + 1))
    }).sum
}
