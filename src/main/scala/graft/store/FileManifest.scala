package graft.store

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BinaryComparison, BoundReference, Expression, In, InSet, Literal, Or, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** LISTING-FREE shard reads off a persisted FILE MANIFEST — the last
  * O(corpus) term in the index probes' cost model, removed.
  *
  * `SaltedStore.readPartitions` already constructs the probed shard
  * DIRS directly, but the read still pays per-dir filesystem work that
  * grows with the shard count: one driver `exists` per probed value,
  * then Spark's `InMemoryFileIndex` LISTS every constructed dir (past
  * 32 dirs that is a distributed listing JOB per probe read). With the
  * shard count sized ∝ corpus (the bounded-shard-bytes rule) and a
  * batch whose tokens touch most shards, that listing is the one probe
  * cost that grows with the CORPUS — measured as the refresh screens'
  * only corpus-axis growth term (10.5→37.7s for a FIXED 500-doc
  * increment across a 100× corpus, SCALING.md refresh_corpus).
  *
  * The fix is the lakehouse one: the file SET of a sharded layout only
  * changes under its owner's maintenance ops (write / compact /
  * reshard — appends land in delta segments, tombstones in `_deletes`),
  * so the owner records it once, at rest, in `_graft_files.json`
  * inside the layout dir: relative path + length + mtime per file,
  * keyed by partition value, each partition dir's mtime, plus the data
  * schema DDL. A probe then builds its scan from the manifest alone — a
  * custom [[FileIndex]] handing Spark pre-built `FileStatus`es — with
  * ZERO exists/list calls at any shard count. Readers fall back to the
  * listing path when no manifest exists ([[readPartitions]] returns
  * None), and the OWNER's discipline keeps the manifest trustworthy: it
  * is deleted BEFORE any operation that mutates the file set and
  * rewritten only after the new state is at rest, so a crash
  * mid-maintenance leaves probes on the slow-but-correct listing path,
  * never on stale paths.
  *
  * A manifest written with a KEY column also records each file's
  * [min, max] of that key, taken from the parquet footer's row-group
  * statistics. The file index prunes files whose key range cannot meet
  * a scan's data filters (a salted store's point get opens the one file
  * holding its key), and the merge scan (`graft.plans.MergeScanExec`)
  * plans ordered range scans from the same ranges. Writing a manifest
  * starts no Spark job: the schema and the key ranges come from
  * footers read on the driver, and a republish reads only the footers
  * of files that are new since the manifest it replaces.
  */
object FileManifest {
  val ManifestFile = "_graft_files.json"

  /** One recorded data file: path relative to the layout root (an
    * absolute path stands for itself), length, mtime, and the key
    * column's [min, max] when the manifest has a key and the file's
    * footer carries complete statistics for it. */
  private[graft] final case class Entry(rel: String, len: Long, mtime: Long,
                                        keyRange: Option[(Long, Long)])

  /** A parsed manifest. `dirs`: every partition dir's name → mtime when
    * the manifest was written (empty in a manifest that predates it). */
  private[graft] final case class Manifest(parts: Seq[(Int, Seq[Entry])],
                                           dirs: Map[String, Long],
                                           key: Option[String],
                                           nfiles: Option[Long],
                                           schema: String) {
    def entries: Seq[Entry] = parts.flatMap(_._2)
  }

  private def fsOf(spark: SparkSession, path: String) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  private def partitionDirs(fs: FileSystem, root: Path, prefix: String): Seq[FileStatus] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$prefix="))
      .toSeq

  private[graft] def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")).toSeq

  /** Record the CURRENT file set of a `prefix=N`-partitioned layout.
    * One recursive driver listing (the same cost one probe's listing
    * pays, paid once per maintenance cadence instead) and one parquet
    * footer read for the schema; no Spark job. Call only with the layout
    * at rest — after write/compact/reshard commit.
    *
    * Every recorded name is VALIDATED here, not trusted at read time:
    * the manifest's hand-built JSON is parsed by regex, so a partition
    * value that is not a plain integer or a file name carrying '"',
    * '\\' or ']' would silently DROP entries from a probe's file set
    * (rows missing, no error). Spark's own writers never produce such
    * names (partition dirs are `prefix=<int>`, part files are
    * `part-NNNNN-<uuid>` + extension), so a hit here means a foreign
    * file landed in the layout — refuse loudly at write() (the same
    * fail-at-write contract as the schema-DDL guard below) rather than
    * corrupt probes later. */
  def write(spark: SparkSession, layoutPath: String,
            partitionPrefix: String = "shard"): Unit =
    publish(spark, layoutPath, partitionPrefix, None, Map.empty)

  /** [[write]] with per-file ranges of the integral column `key`, for a
    * layout whose every file is sorted by it. `known` holds the files
    * that stood before the op that calls this (see [[atRest]]): a file
    * it records with the same length and mtime keeps its entry — and
    * its key range or lack of one — unread. Every other file is new, was
    * written sorted by the op, and gets its range from its footer; those
    * footers are read concurrently on the driver (at most
    * [[FooterThreads]] at once). */
  private[graft] def publish(spark: SparkSession, layoutPath: String,
                             partitionPrefix: String, key: Option[String],
                             known: Map[String, Entry]): Unit = {
    val (fs, root) = fsOf(spark, layoutPath)
    val conf = spark.sessionState.newHadoopConf()
    val dirs = partitionDirs(fs, root, partitionPrefix).map { p =>
      val v = p.getPath.getName.stripPrefix(s"$partitionPrefix=")
      require(v.nonEmpty && v.forall(_.isDigit),
        s"file-manifest: partition dir '${p.getPath.getName}' does not carry " +
          s"a plain non-negative integer value — the regex-parsed manifest " +
          "would silently drop it from every probe; fix the layout")
      (v.toInt, p)
    }.sortBy(_._1)
    val listed = dirs.map { case (v, p) =>
      val files = dataFiles(fs, p.getPath).map { f =>
        val n = f.getPath.getName
        require(!n.exists(c => c == '"' || c == '\\' || c == ']'),
          s"file-manifest: data file name '$n' in ${p.getPath} contains a " +
            "JSON/regex metacharacter (\", \\ or ]) — it would be silently " +
            "dropped from the probe file set; rename the foreign file")
        (s"${p.getPath.getName}/$n", f)
      }
      (v, files)
    }
    val all = listed.flatMap(_._2)
    val carried = all.flatMap { case (rel, f) =>
      known.get(rel).filter(e => e.len == f.getLen && e.mtime == f.getModificationTime)
    }.map(e => e.rel -> e).toMap
    val fresh = all.filterNot(f => carried.contains(f._1))
    // new files' footers give their key ranges, and the first of them
    // the schema (else one standing file's footer does)
    val freshFooters = if (key.isDefined) footers(conf, fresh.map(_._2)) else Nil
    val schema = fresh.headOption.orElse(all.headOption).map { case (_, f) =>
      sparkSchema(f.getPath, freshFooters.headOption.getOrElse(footer(conf, f)))
    }
    val statsKey = key.filter(k => schema.exists(_.fields.exists(f =>
      f.name == k && (f.dataType == LongType || f.dataType == IntegerType))))
    statsKey.foreach(k => require(!k.exists(c => c == '"' || c == '\\'),
      s"file-manifest key column name needs JSON escaping (unsupported): $k"))
    val ranges = statsKey.fold(Map.empty[String, Option[(Long, Long)]]) { k =>
      fresh.map(_._1).zip(freshFooters.map(keyRange(_, k))).toMap
    }
    def entry(rel: String, f: FileStatus): Entry = carried.getOrElse(rel,
      Entry(rel, f.getLen, f.getModificationTime, ranges.getOrElse(rel, None)))
    val ddl = schema.map(_.toDDL).getOrElse("")
    require(!ddl.contains('"') && !ddl.contains('\\'),
      s"file-manifest schema DDL needs JSON escaping (unsupported): $ddl")
    val sb = new StringBuilder
    sb ++= "{\"parts\":{"
    sb ++= listed.filter(_._2.nonEmpty).map { case (v, files) =>
      files.map { case (rel, f) => entry(rel, f) }.map { e =>
        s"""["${e.rel}",${e.len},${e.mtime}""" +
          e.keyRange.map { case (lo, hi) => s",$lo,$hi" }.getOrElse("") + "]"
      }.mkString(s""""$v":[""", ",", "]")
    }.mkString(",")
    sb ++= "},\"dirs\":{"
    sb ++= dirs.map { case (_, p) => s""""${p.getPath.getName}":${p.getModificationTime}""" }
      .mkString(",")
    sb ++= "}"
    statsKey.foreach(k => sb ++= s""","key":"$k"""")
    sb ++= s""","nfiles":${all.length},"schema":"$ddl"}"""
    val tmp = new Path(root, ManifestFile + ".tmp")
    val dst = new Path(root, ManifestFile)
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"file-manifest rename failed: $tmp -> $dst")
  }

  /** The files of a layout as it stands, for the [[publish]] after a
    * write into it (the files the write adds are the ones not here): a
    * current manifest's entries — their key ranges kept only when it records
    * ranges of `key` — else a listing of the partition dirs with no key
    * ranges at all, because a file the manifest does not record was
    * written by something not known to sort it. Empty for a layout that
    * does not exist yet. */
  private[graft] def atRest(spark: SparkSession, layoutPath: String,
                            partitionPrefix: String, key: Option[String]): Map[String, Entry] = {
    val (fs, root) = fsOf(spark, layoutPath)
    val entries =
      if (!fs.exists(root)) Nil
      else standing(fs, root, layoutPath, partitionPrefix, verifyDirs = true) match {
        case Some(m) if m.key == key => m.entries
        case Some(m) => m.entries.map(_.copy(keyRange = None))
        case None => partitionDirs(fs, root, partitionPrefix).flatMap { d =>
          dataFiles(fs, d.getPath).map(f => Entry(s"${d.getPath.getName}/${f.getPath.getName}",
            f.getLen, f.getModificationTime, None))
        }
      }
    entries.map(e => e.rel -> e).toMap
  }

  /** The most footers [[publish]] reads at once. */
  private val FooterThreads = 8

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The footers of `files`, in order, read by at most [[FooterThreads]]
    * driver threads: a publish after a write of many files costs about
    * one footer read per thread, not one per file. */
  private def footers(conf: Configuration, files: Seq[FileStatus]): Seq[ParquetMetadata] =
    if (files.size <= 1) files.map(footer(conf, _))
    else {
      val pool = Executors.newFixedThreadPool(math.min(files.size, FooterThreads), (r: Runnable) => {
        val t = new Thread(r, "graft-manifest-footer")
        t.setDaemon(true)
        t
      })
      try {
        files.map(f => pool.submit(new Callable[ParquetMetadata] {
          override def call(): ParquetMetadata = footer(conf, f)
        })).map { fu =>
          try fu.get() catch { case e: ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }

  /** The data schema Spark's own inference takes from a footer (the
    * Spark schema the writer stored, else the converted parquet one),
    * nullable as every file-source read reports it. */
  private def sparkSchema(path: Path, ft: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, ft),
      new ParquetToSparkSchemaConverter(SQLConf.get)).toNullable

  /** The schema of a Spark-written parquet file, from its footer alone. */
  private[graft] def fileSchema(spark: SparkSession, f: FileStatus): StructType =
    sparkSchema(f.getPath, footer(spark.sessionState.newHadoopConf(), f))

  /** [min, max] of column `key` over every non-empty row group; None
    * unless every such group records both and no nulls. */
  private def keyRange(ft: ParquetMetadata, key: String): Option[(Long, Long)] = {
    val ranges = ft.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == key).flatMap { c =>
        val s = c.getStatistics
        if (s == null || s.isEmpty || !s.hasNonNullValue || s.getNumNulls != 0) None
        else (s.genericGetMin, s.genericGetMax) match {
          case (a: java.lang.Long, z: java.lang.Long) => Some((a.longValue, z.longValue))
          case (a: java.lang.Integer, z: java.lang.Integer) => Some((a.longValue, z.longValue))
          case _ => None
        }
      }
    }
    if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
    else Some((ranges.map(_.get._1).min, ranges.map(_.get._2).max))
  }

  /** Drop the manifest — the FIRST step of any maintenance op that will
    * mutate the layout's file set (probes fall back to listing reads
    * until the op completes and rewrites it). */
  def delete(spark: SparkSession, layoutPath: String): Unit = {
    val (fs, root) = fsOf(spark, layoutPath)
    fs.delete(new Path(root, ManifestFile), false)
  }

  /** Whether a manifest is present (diagnostics/specs). */
  def exists(spark: SparkSession, layoutPath: String): Boolean = {
    val (fs, root) = fsOf(spark, layoutPath)
    fs.exists(new Path(root, ManifestFile))
  }

  private val PartRe = """"(\d+)":\[((?:\[[^\]]*\],?)*)\]""".r
  private val FileRe = """\["([^"]+)",(\d+),(\d+)(?:,(-?\d+),(-?\d+))?\]""".r
  private val DirsRe = """"dirs":\{([^}]*)\}""".r
  private val DirRe = """"([^"]+)":(\d+)""".r

  /** The parsed manifest at `layoutPath`, if one stands. */
  private[graft] def load(spark: SparkSession, layoutPath: String): Option[Manifest] = {
    val (fs, root) = fsOf(spark, layoutPath)
    load(fs, root)
  }

  private def load(fs: FileSystem, root: Path): Option[Manifest] = {
    val mf = new Path(root, ManifestFile)
    val txt = try {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    } catch { case _: java.io.FileNotFoundException => return None }
    val schema = """"schema":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(return None)
    val parts = PartRe.findAllMatchIn(txt).map { m =>
      (m.group(1).toInt, FileRe.findAllMatchIn(m.group(2)).map { f =>
        Entry(f.group(1), f.group(2).toLong, f.group(3).toLong,
          Option(f.group(4)).map(lo => (lo.toLong, f.group(5).toLong)))
      }.toSeq)
    }.toSeq
    val dirs = DirsRe.findFirstMatchIn(txt).map(m =>
      DirRe.findAllMatchIn(m.group(1)).map(d => d.group(1) -> d.group(2).toLong).toMap)
      .getOrElse(Map.empty[String, Long])
    Some(Manifest(parts, dirs,
      """"key":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1)),
      """"nfiles":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong),
      schema))
  }

  /** The manifest, if one stands that a read may trust: no compaction
    * marker, and every entry the regex parsed (a torn or foreign-edited
    * manifest whose entries it skipped must not shrink a read's file
    * set). With `verifyDirs` the partition dirs must also be exactly
    * the recorded ones with the recorded mtimes — one `listStatus` of
    * the root, which catches a file added or removed outside the
    * owner's lifecycle (a plain-Spark append, a writer that died after
    * its commit and before republishing); see [[dirsUnchanged]]. */
  private def standing(fs: FileSystem, root: Path, layoutPath: String,
                       partitionPrefix: String, verifyDirs: Boolean): Option[Manifest] = {
    // belt-and-braces: the owner deletes the manifest before compacting,
    // so a standing compact marker implies no manifest — but a foreign
    // compactor (SaltedStore.compact called directly) wouldn't know
    if (fs.exists(new Path(root, SaltedStore.CompactingMarker))) return None
    val m = load(fs, root).getOrElse(return None)
    val parsed = m.entries.size.toLong
    if (m.nfiles.exists(_ != parsed)) {
      System.err.println(s"[graft] FileManifest at $layoutPath parsed " +
        s"$parsed file entries but records nfiles=${m.nfiles.get} — " +
        "corrupted/foreign-edited manifest; falling back to the listing read")
      return None
    }
    if (verifyDirs && !dirsUnchanged(m.dirs, partitionDirs(fs, root, partitionPrefix)
        .map(d => d.getPath.getName -> d.getModificationTime).toMap)) return None
    Some(m)
  }

  /** Whether the partition dirs listed now are the recorded ones with
    * the recorded mtimes. A dir mtime of 0 — object stores such as S3A
    * report no directory mtime, so adding a file changes nothing there —
    * cannot show a change and fails the check: on such a filesystem
    * every read takes the listing path. */
  private[graft] def dirsUnchanged(recorded: Map[String, Long], listed: Map[String, Long]): Boolean =
    listed == recorded && !listed.values.exists(_ <= 0L)

  /** The manifest a read may trust, partition dirs verified against a
    * listing of the root (see [[standing]]); None means the caller takes
    * its listing path. */
  private[graft] def current(spark: SparkSession, layoutPath: String,
                             partitionPrefix: String): Option[Manifest] = {
    val (fs, root) = fsOf(spark, layoutPath)
    standing(fs, root, layoutPath, partitionPrefix, verifyDirs = true)
  }

  /** The manifest-backed pruned read: a DataFrame over exactly the
    * requested partition values' files, built with no filesystem
    * listing at all (one small manifest read). None when no manifest
    * exists or a compaction marker stands — callers fall back to
    * [[SaltedStore.readPartitions]], which handles every in-flight
    * state. Output schema = data columns ++ `partitionPrefix` (int),
    * the discovered-partition shape of the listing read.
    *
    * Foreign-mutation hardening (the trust boundary of a file recorded
    * by someone else): before handing the file set to Spark the read
    * (a) cross-checks the parsed TOTAL file count against the `nfiles`
    * field write() stored — a torn/corrupted manifest whose entries the
    * regex silently skipped degrades to the listing fallback instead of
    * missing rows; and (b) `exists`-probes the FIRST selected file — a
    * manually deleted or partially copied layout degrades to the
    * fallback instead of a task-level FileNotFoundException. One driver
    * RPC, not one per file: the owner's delete-before-mutate discipline
    * covers the library's own ops; this catches the foreign hand. */
  def readPartitions(spark: SparkSession, layoutPath: String, values: Seq[Long],
                     partitionPrefix: String = "shard"): Option[DataFrame] =
    readImpl(spark, layoutPath, Some(values.toSet), partitionPrefix, verifyDirs = false)

  /** [[readPartitions]] over EVERY recorded partition — the whole-layout
    * read (prefix probes, audits) without the O(partitions) dir listing. */
  def readAllPartitions(spark: SparkSession, layoutPath: String,
                        partitionPrefix: String = "shard"): Option[DataFrame] =
    readImpl(spark, layoutPath, None, partitionPrefix, verifyDirs = false)

  /** The salted store's read: [[readPartitions]] (all partitions when
    * `values` is None) behind the partition-dir check of [[current]],
    * so it never returns fewer rows than the listing read would. */
  private[graft] def readVerified(spark: SparkSession, layoutPath: String,
                                  values: Option[Seq[Long]],
                                  partitionPrefix: String): Option[DataFrame] =
    readImpl(spark, layoutPath, values.map(_.toSet), partitionPrefix, verifyDirs = true)

  private def readImpl(spark: SparkSession, layoutPath: String,
                       wanted: Option[Set[Long]], partitionPrefix: String,
                       verifyDirs: Boolean): Option[DataFrame] = {
    val (fs, root) = fsOf(spark, layoutPath)
    val m = standing(fs, root, layoutPath, partitionPrefix, verifyDirs).getOrElse(return None)
    if (m.schema.isEmpty) return None // empty layout: let the caller's fallback decide
    val dirs = m.parts.filter(p => wanted.forall(_.contains(p._1.toLong))).map { case (v, es) =>
      (InternalRow(v), es)
    }
    // spot-check one recorded file still exists (foreign deletion)
    val gone = dirs.iterator.flatMap(_._2.headOption).nextOption()
      .map(e => new Path(root, e.rel)).filter(!fs.exists(_))
    if (gone.isDefined) {
      System.err.println(s"[graft] FileManifest at $layoutPath lists " +
        s"${gone.get}, which no longer exists — the file set was " +
        "mutated outside the owner's lifecycle; falling back to the listing read")
      return None
    }
    val partSchema = StructType(Seq(StructField(partitionPrefix, IntegerType)))
    Some(frame(spark, new ManifestFileIndex(root, partSchema, dirs, m.key),
      StructType.fromDDL(m.schema)))
  }

  private def frame(spark: SparkSession, idx: ManifestFileIndex,
                    dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(idx, idx.partitionSchema, dataSchema,
      None, new ParquetFileFormat(), Map.empty)(spark))

  /** A parquet read of exactly `files` with a known data schema: no
    * schema inference, no listing, and no root path for `DataSource` to
    * judge hidden (the tombstone and delta-segment reads). */
  private[graft] def readFiles(spark: SparkSession, root: Path, files: Seq[FileStatus],
                               schema: StructType): DataFrame =
    frame(spark, new ManifestFileIndex(root, new StructType(),
      Seq((InternalRow.empty, files.map(f =>
        Entry(f.getPath.toString, f.getLen, f.getModificationTime, None)))), None), schema)

  /** The distinct ids of a tombstone dir of parquet files holding one
    * BIGINT column `idCol`; None when the dir holds no data file. The
    * schema is known, so building the read starts no job. */
  private[graft] def readTombstones(spark: SparkSession, fs: FileSystem, dir: Path,
                                    idCol: String): Option[DataFrame] = {
    val files = if (fs.exists(dir)) dataFiles(fs, dir) else Seq.empty
    if (files.isEmpty) None
    else Some(readFiles(spark, dir, files, StructType(Seq(StructField(idCol, LongType))))
      .select(idCol).distinct())
  }

  /** The largest recorded per-partition file count, manifest-only —
    * the `SaltedStore.needsCompaction` signal WITHOUT its O(partitions)
    * per-dir listing (which itself grows with a ∝-corpus shard count).
    * None when no manifest stands (callers take the listing check). */
  def maxFilesPerPartition(spark: SparkSession, layoutPath: String): Option[Int] =
    load(spark, layoutPath).map(maxFiles)

  private[graft] def maxFiles(m: Manifest): Int =
    if (m.parts.isEmpty) 0 else m.parts.map(_._2.size).max
}

/** A [[FileIndex]] whose file set comes from a manifest instead of a
  * filesystem listing — `listFiles` serves pre-built statuses and
  * honors partition filters by interpreting them against the partition
  * rows (the `PartitioningAwareFileIndex.prunePartitions` contract).
  * With a `key`, data filters on it also prune every file whose
  * recorded key range they cannot meet. */
private[graft] class ManifestFileIndex(
    val root: Path,
    override val partitionSchema: StructType,
    dirs: Seq[(InternalRow, Seq[FileManifest.Entry])],
    val key: Option[String]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  /** Where entry `e` lives. */
  def path(e: FileManifest.Entry): Path = new Path(root, e.rel)

  /** The partition dirs and files a scan under these filters must read. */
  def selected(partitionFilters: Seq[Expression],
               dataFilters: Seq[Expression]): Seq[(InternalRow, Seq[FileManifest.Entry])] = {
    val parts =
      if (partitionFilters.isEmpty) dirs
      else {
        val partAttrs: Seq[Attribute] =
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(partitionSchema)
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And)
            .transform { case a: AttributeReference =>
              val i = partAttrs.indexWhere(_.name == a.name)
              BoundReference(i, partAttrs(i).dataType, nullable = true)
            })
        dirs.filter(p => bound.eval(p._1))
      }
    key match {
      case Some(k) if dataFilters.nonEmpty =>
        parts.map { case (v, files) =>
          (v, files.filter(_.keyRange.forall { case (lo, hi) =>
            dataFilters.forall(KeyBounds.admits(_, k, lo, hi)) }))
        }.filter(_._2.nonEmpty)
      case _ => parts
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    selected(partitionFilters, dataFilters).map { case (v, files) =>
      PartitionDirectory(v, files.map(e => FileStatusWithMetadata(
        new FileStatus(e.len, false, 1, 128L * 1024 * 1024, e.mtime, path(e)))))
    }

  override def inputFiles: Array[String] = dirs.flatMap(_._2.map(path(_).toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = dirs.flatMap(_._2.map(_.len)).sum
}

/** Key-range reasoning over filter expressions on one integral column. */
private[graft] object KeyBounds {
  private def lit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  private def isKey(e: Expression, key: String): Boolean = e match {
    case a: Attribute => a.name == key
    case _ => false
  }

  /** `key <op> v` with the key moved to the left; op is one of =, <=>,
    * <, <=, >, >=. */
  private def comparison(e: Expression, key: String): Option[(String, Long)] = e match {
    case b: BinaryComparison if isKey(b.left, key) => lit(b.right).map((b.symbol, _))
    case b: BinaryComparison if isKey(b.right, key) =>
      val flipped = b.symbol match {
        case "<" => ">"
        case "<=" => ">="
        case ">" => "<"
        case ">=" => "<="
        case s => s
      }
      lit(b.left).map((flipped, _))
    case _ => None
  }

  /** Whether a row with a key in [lo, hi] may satisfy `e` (true when
    * `e` says nothing about the key). */
  def admits(e: Expression, key: String, lo: Long, hi: Long): Boolean = e match {
    case And(a, b) => admits(a, key, lo, hi) && admits(b, key, lo, hi)
    case Or(a, b) => admits(a, key, lo, hi) || admits(b, key, lo, hi)
    case In(k, list) if isKey(k, key) && list.forall(lit(_).isDefined) =>
      list.flatMap(lit).exists(v => lo <= v && v <= hi)
    case InSet(k, set) if isKey(k, key) && set.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
      set.exists { v => val x = v.asInstanceOf[Number].longValue; lo <= x && x <= hi }
    case _ => comparison(e, key) match {
      case Some(("=" | "<=>", v)) => lo <= v && v <= hi
      case Some(("<", v)) => lo < v
      case Some(("<=", v)) => lo <= v
      case Some((">", v)) => hi > v
      case Some((">=", v)) => hi >= v
      case _ => true
    }
  }

  /** The inclusive [lo, hi] of keys that the conjunction of `filters`
    * allows (lo > hi when it allows none). */
  def of(filters: Seq[Expression], key: String): (Long, Long) =
    filters.flatMap(f => comparison(f, key)).foldLeft((Long.MinValue, Long.MaxValue)) {
      case ((lo, hi), (op, v)) => op match {
        case "=" | "<=>" => (math.max(lo, v), math.min(hi, v))
        case "<" => if (v == Long.MinValue) (1L, 0L) else (lo, math.min(hi, v - 1))
        case "<=" => (lo, math.min(hi, v))
        case ">" => if (v == Long.MaxValue) (1L, 0L) else (math.max(lo, v + 1), hi)
        case ">=" => (math.max(lo, v), hi)
      }
    }
}
