package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One layer of a sharded index: a `shard=S` partitioned parquet layout
  * at `dir` under the index root ("" = the root itself), hash-sharded on
  * `shardCol` and sorted on `sortCols` inside each shard. */
final case class ShardedLayer(dir: String, shardCol: String, sortCols: Seq[String])

object ShardedLayout {
  /** Marker for an in-flight shard-count migration (see [[ShardedLayout.reshard]]). */
  val ReshardMarker = "_graft_resharding"
  /** Tombstone dir: parquet doc_id lists, underscore-prefixed so no
    * layer read picks them up as data. */
  val DeletesDir = "_deletes"
}

/** The LIFECYCLE PROTOCOL of a persisted sharded index, written once for
  * GramIndex, BandIndex and TextIndex. Each index supplies its layers,
  * its write projection and its probes; everything between a write and
  * a probe lives here: the pinned shard count, manifest-backed shard
  * reads, delta segments, tombstones, the fold and reshard markers, and
  * the compact/reshard lifecycle.
  *
  * The shard count is a layout parameter PINNED in the meta file at
  * creation — the reference's distributor parameters, serialized so
  * every reader reconstructs the writer's (wd/Parametrizable.java:24-27).
  * A probe that sharded differently would prune to the wrong shards and
  * silently miss rows, so probes never take a count: they read it back
  * ([[storedShards]]), and that first call refuses a standing reshard or
  * fold marker.
  *
  * WRITE ORDER IS THE ISOLATION CONTRACT. `layers` are listed
  * verification-side first (gram: profiles before postings; band:
  * sketches before bands), and every writer commits them in that order
  * — a full write, a delta segment, a fold. Candidates come off the
  * later layers and verify against the earlier ones, so a probe that
  * catches an in-flight write observes {old candidates, any
  * verification rows}: every candidate it can generate is verifiable.
  *
  * PURGE LAST. An overwrite replaces the whole generation; the replaced
  * generation's tombstones (they would hide new docs that reuse ids) and
  * unfolded delta segments (they would resurrect replaced docs) are
  * deleted only AFTER the new layers, meta and file manifests commit. A
  * rebuild that dies earlier leaves the old index live with its
  * tombstones and appends intact. Dynamic partition overwrite would
  * leave untouched shards, tombstones and segments of the old generation
  * in place, so it is refused up front.
  *
  * APPENDS are delta segments: one single-file parquet per layer under
  * `deltaDir/seg_*`, written to a hidden `.tmp_*` dir and published by
  * one rename — an append costs one file commit per layer instead of one
  * per touched shard per layer (the O(nShards) commit floor). Probes
  * union the unfolded segments under their own batch-bounded filters.
  *
  * THE FOLD ([[compact]]) is additive and probe-atomic: segment rows
  * append as NEW files into the sharded base (no existing file moves),
  * the file manifests are rewritten atomically, and the folded segments
  * are MARKED in the delta's `_folded` list, not deleted. A probe
  * constructed before the fold reads exactly the old state, one
  * constructed after reads exactly the new one, and one constructed
  * during is refused by the fold marker. Folded segments are reclaimed
  * at the START of the next compact: the grace period is one full
  * maintenance cycle for any probe constructed before the fold
  * ([[DeltaSegments]]). A fold that crashed leaves its marker standing;
  * the next compact recovers through [[reshard]] at the unchanged count,
  * which dedups the rows that sit on both sides.
  *
  * THE MAJOR HALF of compact runs when tombstones are pending or a
  * shard's manifest-counted file count exceeds `maxFilesPerShard`: the
  * file manifests die first, each layer is rewritten per shard by
  * [[SaltedStore.compact]] with the tombstones stripped, the index's
  * after-major step runs, and the tombstones are purged last. It MOVES
  * base files, so a probe constructed before it and executed after
  * fails loudly (FileNotFoundException) — callers holding the probe
  * CONSTRUCTION retry once through [[ProbeRetry.retryOnce]] against the
  * rewritten manifests, then fail loudly. Writers pause for it.
  *
  * [[reshard]] moves every layer to a new shard count as ONE generation
  * on [[StagedSwap]]'s crash-resumable stage→park→swap, folding pending
  * tombstones in. Offline: pause writers and probes; resume = re-invoke
  * with the same count. */
abstract class ShardedLayout(
    owner: String,
    kind: String,
    val layers: Seq[ShardedLayer],
    val metaFile: String,
    shardsField: String,
    val foldingMarker: String,
    val deltaDir: String) {
  import ShardedLayout._

  /** The shard function every layer hashes with. */
  def shardOf(c: Column, nShards: Int): Column

  /** The index's write projection: one frame per layer, in layer order. */
  protected def project(input: DataFrame): Seq[DataFrame]

  /** Every layer's rows for a full rewrite, in layer order: base ∪
    * unfolded delta, deduplicated (a crashed fold leaves rows on both
    * sides), tombstones stripped. */
  protected def liveRows(spark: SparkSession, path: String): Seq[DataFrame]

  /** Write the meta of a generation whose layers are at rest at `root`. */
  def writeMeta(spark: SparkSession, root: String, nShards: Int): Unit =
    writeMetaFields(spark, root, Seq(shardsField -> nShards.toLong))

  /** The layers the major half rewrites; a summary layer the
    * [[afterMajor]] step recomputes is left out. */
  protected def compactedLayers: Seq[ShardedLayer] = layers

  /** Runs after the major rewrite, before the tombstones are purged. */
  protected def afterMajor(spark: SparkSession, path: String, nShards: Int,
                           hadTombstones: Boolean): Unit = ()

  def fsOf(spark: SparkSession, path: String) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  def layerPath(root: String, l: ShardedLayer): String =
    if (l.dir.isEmpty) root else s"$root/${l.dir}"

  // ---- meta ------------------------------------------------------------

  /** One numeric field of the meta file, with NO marker guards — for the
    * maintenance ops that must run exactly when a marker stands. */
  def metaField(spark: SparkSession, path: String, field: String): Option[Long] = {
    val (fs, root) = fsOf(spark, path)
    val p = new Path(root, metaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      ("\"" + field + "\":(\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toLong)
    }
  }

  /** The stored shard count, unguarded; None if no index exists. */
  def readMeta(spark: SparkSession, path: String): Option[Int] =
    metaField(spark, path, shardsField).map(_.toInt)

  /** Atomic meta write: temp file + rename, so a reader never observes a
    * torn meta. */
  def writeMetaFields(spark: SparkSession, root: String,
                      fields: Seq[(String, Long)]): Unit = {
    val (fs, r) = fsOf(spark, root)
    val tmp = new Path(r, metaFile + ".tmp")
    val dst = new Path(r, metaFile)
    val out = fs.create(tmp, true)
    try out.write(fields.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}").getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(
      s"$kind index meta rename failed: $tmp -> $dst")
  }

  /** The shard count the index was created with; None if no index
    * exists. Every probe's first call: refuses a mid-migration layout
    * and a mid-fold delta (either can double-count or half-read). */
  def storedShards(spark: SparkSession, path: String): Option[Int] = {
    val (fs, root) = fsOf(spark, path)
    require(!fs.exists(new Path(root, ReshardMarker)),
      s"probe: $path has an in-flight shard migration ($ReshardMarker) — " +
        s"re-invoke $owner.reshard with the original shard count to finish it")
    require(!fs.exists(new Path(root, foldingMarker)),
      s"probe: $path has an in-flight delta fold ($foldingMarker) — " +
        s"re-run $owner.compact to finish it")
    readMeta(spark, path)
  }

  /** [[storedShards]] for an index that must exist. */
  def shards(spark: SparkSession, path: String): Int =
    storedShards(spark, path).getOrElse(throw new IllegalStateException(
      s"no $kind index at $path: its layout manifest $metaFile is missing " +
        "(the shard count is a stored layout parameter; a probe cannot guess it) " +
        "— write() first"))

  // ---- reads -----------------------------------------------------------

  /** The pruned shard read: manifest-backed ([[FileManifest]] — zero
    * exists/list calls at any shard count, the fix for the one probe
    * cost that grew with the corpus), falling back to the marker-aware
    * listing read for layouts mid-maintenance. */
  def readLayer(spark: SparkSession, path: String, l: ShardedLayer,
                shards: Seq[Long]): DataFrame =
    FileManifest.readPartitions(spark, layerPath(path, l), shards)
      .getOrElse(SaltedStore.readPartitions(spark, layerPath(path, l), shards,
        partitionPrefix = "shard"))

  /** Every shard of a layer: manifest-backed, listing fallback. */
  def readAll(spark: SparkSession, path: String, l: ShardedLayer): DataFrame =
    FileManifest.readAllPartitions(spark, layerPath(path, l))
      .getOrElse(SaltedStore.read(spark, layerPath(path, l), partitionPrefix = "shard"))

  private def liveSegs(spark: SparkSession, path: String): Seq[Path] = {
    val (fs, root) = fsOf(spark, path)
    DeltaSegments.liveSegs(fs, new Path(root, deltaDir))
  }

  /** The layer's rows in `segs`: a read of the segments' data files
    * under the layer's data schema (one footer), so building it starts
    * no schema-inference job. */
  private def segRows(spark: SparkSession, segs: Seq[Path],
                      l: ShardedLayer): Option[DataFrame] =
    segs.headOption.flatMap { seg0 =>
      val (fs, _) = fsOf(spark, seg0.toString)
      val files = segs.flatMap(s => FileManifest.dataFiles(fs, new Path(layerPath(s.toString, l))))
      files.headOption.map(f => FileManifest.readFiles(spark, seg0.getParent, files,
        FileManifest.fileSchema(spark, f)))
    }

  /** `proj` over `base` ∪ the layer's unfolded delta rows — the union
    * every probe and rewrite reads (folded, unreclaimed segments are
    * excluded by [[DeltaSegments.liveSegs]]). */
  def withDelta(spark: SparkSession, path: String, l: ShardedLayer,
                base: DataFrame)(proj: DataFrame => DataFrame): DataFrame =
    segRows(spark, liveSegs(spark, path), l)
      .map(d => proj(base).unionByName(proj(d))).getOrElse(proj(base))

  /** Run a probe CONSTRUCTION under [[DeltaSegments.coherentSnapshot]]:
    * the manifest reads and the delta listing must come from the same
    * side of a racing fold's publish, or folded rows double-count or
    * vanish. */
  def coherentProbe[T](spark: SparkSession, path: String, what: String)(build: => T): T = {
    val (fs, root) = fsOf(spark, path)
    DeltaSegments.coherentSnapshot(fs, new Path(root, deltaDir),
      new Path(root, foldingMarker),
      layers.map(l => new Path(layerPath(root.toString, l), FileManifest.ManifestFile)),
      what)(build)
  }

  /** Delta accumulation advisory: (published segment count, delta
    * bytes). Every probe unions every segment, so an appender that
    * never compacts turns the removed write amplification into
    * unbounded read amplification — this is the number that says so.
    * Driver listing only, no Spark job. */
  def deltaAdvisory(spark: SparkSession, path: String): (Long, Long) = {
    val (fs, _) = fsOf(spark, path)
    def bytes(p: Path): Long = fs.listStatus(p)
      .map(st => if (st.isDirectory) bytes(st.getPath) else st.getLen).sum
    val segs = liveSegs(spark, path)
    (segs.length.toLong, segs.map(bytes).sum)
  }

  /** Whether the unfolded delta has grown past `maxSegments` — the
    * signal a maintenance loop keys [[compact]] on. */
  def needsCompaction(spark: SparkSession, path: String, maxSegments: Int): Boolean =
    deltaAdvisory(spark, path)._1 > maxSegments

  // ---- tombstones ------------------------------------------------------

  /** Tombstone doc ids: hidden from every probe at once, removed
    * physically by the major half of [[compact]]. Returns the shard count. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Int = {
    val n = shards(spark, path)
    ids.select(col("doc_id").cast("long")).distinct()
      .write.mode("append").parquet(s"$path/$DeletesDir")
    n
  }

  /** The pending tombstone set, if any. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val (fs, root) = fsOf(spark, path)
    FileManifest.readTombstones(spark, fs, new Path(root, DeletesDir), "doc_id")
  }

  /** `df` without its tombstoned rows (`idCol` holds the doc id). */
  def live(df: DataFrame, spark: SparkSession, path: String, idCol: String): DataFrame =
    tombstones(spark, path) match {
      case Some(t) =>
        df.join(broadcast(t.select(col("doc_id").as(idCol))), Seq(idCol), "left_anti")
      case None => df
    }

  // ---- writes ----------------------------------------------------------

  protected def writeLayer(df: DataFrame, root: String, l: ShardedLayer,
                           nShards: Int, mode: String): Unit =
    df.withColumn("shard", shardOf(col(l.shardCol), nShards))
      // one exchange ON the shard before the partitioned write: one file
      // per shard instead of tasks × shards (graft.Scaling r14: 465s vs
      // 36s at 500k docs / 6400 shards), sorted for row-group skipping
      .repartition(col("shard"))
      .sortWithinPartitions(l.sortCols.map(col): _*)
      .write.mode(mode).partitionBy("shard").parquet(layerPath(root, l))

  def writeManifests(spark: SparkSession, path: String): Unit =
    layers.foreach(l => FileManifest.write(spark, layerPath(path, l)))

  /** Manifests die BEFORE any op that mutates the sharded file sets and
    * are reborn after it commits — mid-op probes take the listing read. */
  def dropManifests(spark: SparkSession, path: String): Unit =
    layers.foreach(l => FileManifest.delete(spark, layerPath(path, l)))

  /** A new generation with the shard-count meta — see [[writeWith]]. */
  def write(input: DataFrame, path: String, nShards: Int): Unit =
    writeWith(input, path, nShards, "overwrite")(
      writeMeta(input.sparkSession, path, nShards))

  /** Write `input`'s projection as the sharded base, then `meta`, then
    * the file manifests. Any mode but "append" replaces the generation:
    * guarded against dynamic partition overwrite and, where the layers
    * sit below the root (an overwrite there keeps the root's streaming
    * commit log), against a standing `_graft_commits` log — a writer
    * resuming under the same commitTag would silently skip early batches
    * of the rebuilt index. The replaced generation's tombstones and
    * delta are purged last. */
  def writeWith(input: DataFrame, path: String, nShards: Int, mode: String)(
      meta: => Unit): Unit = {
    val spark = input.sparkSession
    val (fs, root) = fsOf(spark, path)
    val replace = mode != "append"
    if (replace) {
      require(!spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
          .equalsIgnoreCase("dynamic"),
        s"$owner.write under spark.sql.sources.partitionOverwriteMode=" +
          "dynamic is unsupported (stale shards/tombstones would survive); " +
          "use static overwrite, or append + delete + compact")
      if (layers.forall(_.dir.nonEmpty))
        require(!fs.exists(new Path(root, "_graft_commits")),
          s"$owner.write: $path carries a _graft_commits log from a " +
            "previous generation — a streaming writer resuming under the same " +
            "commitTag would silently skip early batches of the rebuilt index; " +
            "clear the log or use a fresh commitTag, then rebuild")
    }
    layers.zip(project(input)).foreach { case (l, df) => writeLayer(df, path, l, nShards, mode) }
    meta
    writeManifests(spark, path)
    if (replace) {
      fs.delete(new Path(root, DeletesDir), true)
      fs.delete(new Path(root, deltaDir), true)
    }
  }

  /** Append `input` (disjoint doc set contract) as ONE delta segment,
    * published atomically by rename. */
  def append(input: DataFrame, path: String): Unit = {
    val spark = input.sparkSession
    shards(spark, path)
    val (fs, root) = fsOf(spark, path)
    val segId = java.lang.Long.toHexString(System.nanoTime()) +
      s"_p${ProcessHandle.current().pid()}"
    val tmp = new Path(root, s"$deltaDir/.tmp_$segId")
    layers.zip(project(input)).foreach { case (l, df) =>
      df.repartition(1).sortWithinPartitions(l.sortCols.map(col): _*)
        .write.mode("overwrite").parquet(layerPath(tmp.toString, l))
    }
    val seg = new Path(root, s"$deltaDir/seg_$segId")
    require(fs.rename(tmp, seg), s"$kind append: publishing $seg failed")
  }

  /** The streaming ingest step: the first batch creates the index, later
    * batches append a delta segment. Returns the delta advisory after an
    * append. */
  def writeOrAppend(input: DataFrame, path: String, nShards: Int): Option[(Long, Long)] =
    if (storedShards(input.sparkSession, path).isEmpty) {
      write(input, path, nShards)
      None
    } else {
      append(input, path)
      Some(deltaAdvisory(input.sparkSession, path))
    }

  // ---- maintenance -----------------------------------------------------

  /** Fold the delta into the sharded base, then run the major half when
    * tombstones are pending or a shard holds more than `maxFilesPerShard`
    * files (see the class doc for both contracts). */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              maxFilesPerShard: Int): Unit = {
    val nShards = readMeta(spark, path).getOrElse(
      throw new IllegalStateException(s"no $kind index at $path"))
    val (fs, root) = fsOf(spark, path)
    val delta = new Path(root, deltaDir)
    val marker = new Path(root, foldingMarker)
    if (fs.exists(marker)) {
      // a previous fold crashed: segment rows may sit in BOTH the base
      // and the delta. The staged full rewrite unions, dedups, strips
      // tombstones and parks the folded-segment debris with the old
      // generation.
      reshard(spark, path, nShards)
      fs.delete(marker, false)
      return
    }
    DeltaSegments.reclaimFolded(fs, delta)
    val segs = DeltaSegments.liveSegs(fs, delta)
    if (segs.nonEmpty) {
      fs.create(marker, true).close()
      layers.foreach(l =>
        segRows(spark, segs, l).foreach(writeLayer(_, path, l, nShards, "append")))
      writeManifests(spark, path)
      DeltaSegments.markFolded(fs, delta, segs.map(_.getName))
      fs.delete(marker, false)
    }
    val drop = tombstones(spark, path)
    val needMajor = drop.isDefined ||
      layers.exists(l => FileManifest.maxFilesPerPartition(spark, layerPath(path, l))
        .getOrElse(Int.MaxValue) > maxFilesPerShard)
    if (needMajor) {
      dropManifests(spark, path)
      val strip: DataFrame => DataFrame = drop match {
        case Some(t) => _.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => identity
      }
      compactedLayers.foreach(l =>
        SaltedStore.compact(spark, layerPath(path, l), col(l.sortCols.head), targetBytes,
          partitionPrefix = "shard", transform = strip))
      afterMajor(spark, path, nShards, drop.isDefined)
      fs.delete(new Path(root, DeletesDir), true)
      writeManifests(spark, path)
    }
  }

  /** Move every layer to `newShards` as one generation on
    * [[StagedSwap.migrate]]: staged from [[liveRows]] with a fresh meta
    * and file manifests, swapped in whole (the parked old generation —
    * delta and tombstones included — is dropped after). */
  def reshard(spark: SparkSession, path: String, newShards: Int): Unit = {
    require(newShards > 0, s"shard count must be positive, got $newShards")
    val (fs, root) = fsOf(spark, path)
    // on a RESUME the marker stands and storedShards refuses by design;
    // readMeta, not storedShards: this is also compact's recovery path
    // for a crashed fold, which runs under the fold marker
    if (!fs.exists(new Path(root, ReshardMarker)))
      require(readMeta(spark, path).nonEmpty, s"no $kind index at $path")
    StagedSwap.migrate(spark, path, ReshardMarker,
      ".reshard_new", ".reshard_old",
      opName = "reshard", what = "shard count", tag = s"shards=$newShards",
      parkFilter = _ => true, swapFilter = _ => true,
      stage = { staging =>
        layers.zip(liveRows(spark, path)).foreach { case (l, df) =>
          writeLayer(df, staging, l, newShards, "overwrite")
        }
        writeMeta(spark, staging, newShards)
        writeManifests(spark, staging)
      })
  }
}
