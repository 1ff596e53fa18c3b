package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** PERSISTED MinHash band index — the on-disk form of the fuzzy-dup
  * index that `Dedup.probePairs` probes (the daily-crawl-vs-historical-
  * corpus shape). Until now the index side lived as an in-process
  * persisted DataFrame, rebuilt per session; this store makes the
  * amortization real across processes and feeds the streaming
  * maintenance twin, completing the persisted-store family (text,
  * vector, CDC, secondary/range — and now the band index).
  *
  * Layers under `path`, in the [[ShardedLayout]] write order (its
  * lifecycle — meta, delta segments, tombstones, fold, compact, reshard
  * — is shared with GramIndex and TextIndex):
  *  - `sketches/shard=S/` — per-doc verification sets (doc_id, sh): the
  *    exact shingle-hash sets the Jaccard verify reads for matched INDEX
  *    docs, sharded on doc_id so the verify side reads only candidate
  *    shards ([[sketchesFor]]). Written first: every candidate a probe
  *    can generate has its verification sketch.
  *  - `bands/shard=S/` — RAW (doc_id, band, sig) rows, hash-sharded on
  *    the band signature: `shard = pmod(hash(sig), nShards)` (pmod, not
  *    abs-mod — the reference's `Math.abs(Integer.MIN_VALUE)` trap,
  *    RowKeyDistributorByHashPrefix.java:78, stays deliberately
  *    avoided). A probe touches only the shards its own signatures hash
  *    to, pruned at FILE-LISTING time; for a batch of B docs that is
  *    ≤ min(nShards, Bands·B) of the index's files regardless of
  *    corpus size. Raw rows (not pre-aggregated buckets) are what
  *    makes O(batch) APPENDS possible — bucket membership is
  *    re-aggregated per probe over the pruned subset only, and
  *    [[Dedup.probePairs]] applies its deterministic hot-bucket cap at
  *    that moment, so append order can never change candidate
  *    semantics.
  *  - `delta/seg_*`, `_deletes`, `_band_meta.json` — the layout's.
  *
  * Append contract: batches carry DISJOINT doc sets (the standard
  * append-ingest contract, same as the text index). Streaming
  * maintenance: `StreamingIngest.bandIndexWriter`. */
object BandIndex {
  val MetaFile = "_band_meta.json"
  val DefaultShards = 64
  val FoldingMarker = "_band_folding"
  val ReshardMarker: String = ShardedLayout.ReshardMarker

  def shardOf(sig: Column, nShards: Int): Column = pmod(hash(sig), lit(nShards))

  private val Sketches = ShardedLayer("sketches", "doc_id", Seq("doc_id"))
  private val Bands = ShardedLayer("bands", "sig", Seq("sig", "doc_id"))

  private[graft] object layout extends ShardedLayout("BandIndex", "band",
      Seq(Sketches, Bands), MetaFile, "n_shards", FoldingMarker, "delta") {
    def shardOf(c: Column, nShards: Int): Column = BandIndex.shardOf(c, nShards)

    /** A per-doc sketch frame (the [[Dedup.docSketch]] shape: doc_id, sh,
      * h0..h{K-1}) → sketches, bands. */
    protected def project(sketch: DataFrame): Seq[DataFrame] = Seq(
      sketch.select("doc_id", "sh"),
      Dedup.bandRows(sketch, "doc_id").select("doc_id", "band", "sig"))

    protected def liveRows(spark: SparkSession, path: String): Seq[DataFrame] = Seq(
      live(withDelta(spark, path, Sketches, readAll(spark, path, Sketches))(
        _.select("doc_id", "sh")).dropDuplicates("doc_id"), spark, path, "doc_id"),
      live(withDelta(spark, path, Bands, readAll(spark, path, Bands))(
        _.select("doc_id", "band", "sig")).distinct(), spark, path, "doc_id"))
  }

  /** nShards the index was created with; None if no index exists.
    * Refuses a standing reshard or fold marker. */
  def storedShards(spark: SparkSession, path: String): Option[Int] =
    layout.storedShards(spark, path)

  def deltaAdvisory(spark: SparkSession, path: String): (Long, Long) =
    layout.deltaAdvisory(spark, path)

  def needsCompaction(spark: SparkSession, path: String,
                      maxSegments: Int = 8): Boolean =
    layout.needsCompaction(spark, path, maxSegments)

  /** Create the index from a per-doc sketch frame (doc_id, sh,
    * h0..h{K-1}). */
  def write(sketch: DataFrame, path: String,
            nShards: Int = DefaultShards): Unit =
    layout.write(sketch, path, nShards)

  /** Append a batch's sketches (disjoint doc set contract) as one delta
    * segment. */
  def append(sketch: DataFrame, path: String): Unit = layout.append(sketch, path)

  /** Tombstone doc ids. The raw-row layout makes this exact — a
    * tombstoned doc's band rows are excluded BEFORE the per-bucket
    * aggregation, so it neither matches nor occupies a hot-bucket cap
    * slot. */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    layout.delete(spark, path, ids.toDF("doc_id"))
  }

  /** Candidate (index_id, batch_id) pairs for a batch of band rows —
    * EXACTLY [[Dedup.probePairs]] semantics (same hot-bucket cap, same
    * aggregation), over only the shards the batch's signatures hash to:
    * the static `shard IN (...)` filter prunes the bands scan at
    * file-listing time, so probe cost is bucket-sized, never
    * corpus-sized. Tombstoned docs are excluded before the bucket
    * aggregation. */
  def probeCandidates(spark: SparkSession, path: String, probeBands: DataFrame,
                      idCol: String,
                      maxBucket: Int = Dedup.MaxBucket,
                      bucketStat: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    layout.coherentProbe(spark, path, "band probe") {
      val nShards = layout.shards(spark, path)
      val shards = probeBands.select(shardOf(col("sig"), nShards).as("s"))
        .distinct().collect().map(_.getInt(0).toLong).toSeq
      // empty probe (no band rows — an empty micro-batch): no candidate
      // can exist; short-circuit rather than letting readPartitions fall
      // back to the O(corpus-shard-dirs) full-listing slowPath. The
      // empty-index side of probePairs keeps the output schema/types
      // (and still fires a passed Observation — zeros, not a hang).
      if (shards.isEmpty)
        Dedup.probePairs(probeBands.limit(0), probeBands, idCol, maxBucket, bucketStat)
      else {
        // unfolded delta segments union in before the bucket aggregation,
        // so the hot-bucket cap sees exactly the membership a folded
        // layout would
        val idx = layout.live(layout.withDelta(spark, path, Bands,
            layout.readLayer(spark, path, Bands, shards))(_.select(idCol, "band", "sig")),
          spark, path, idCol)
        Dedup.probePairs(idx, probeBands, idCol, maxBucket, bucketStat)
      }
    }

  /** The LIVE per-doc verification sets (doc_id, sh) — tombstoned docs
    * excluded, same visibility rule as the probes. Reads the whole
    * table: fine for audits and whole-corpus jobs, wrong for a probe's
    * verify side — use [[sketchesFor]] there. */
  def sketches(spark: SparkSession, path: String): DataFrame =
    layout.coherentProbe(spark, path, "band sketches read") {
      layout.live(layout.withDelta(spark, path, Sketches,
        layout.readAll(spark, path, Sketches))(_.select("doc_id", "sh")),
        spark, path, "doc_id")
    }

  /** The LIVE verification sets for exactly the given candidate ids'
    * doc-shards — the probe-side read. A full [[sketches]] read on the
    * verify side costs O(corpus) twice at scale: the shard-dir LISTING
    * grows with the ∝-corpus shard count (the r14 offender the
    * gram-index profiles read already fixed — listing happens before
    * any pruning can act), and the scan reads every live sketch row to
    * feed a candidate-bounded join (measured: a fixed 500-doc
    * increment's screen grew 8.5→60s across a 100× corpus on exactly
    * this read). Here the candidate ids' doc-shards are derived first
    * (one increment-bounded distinct-collect, ≤ nShards rows) and only
    * those shard dirs are constructed and read — listing and scan both
    * O(probed). `ids`'s FIRST column is hashed with the sketch
    * layout's own shard function, so the read can never miss a live
    * candidate's shard. */
  def sketchesFor(spark: SparkSession, path: String, ids: DataFrame): DataFrame = {
    val nShards = layout.shards(spark, path)
    val shards = ids.select(shardOf(col(ids.columns.head), nShards).as("s"))
      .distinct().collect().map(_.getInt(0).toLong).toSeq
    sketchesForShards(spark, path, shards)
  }

  /** [[sketchesFor]] with the candidate ids already COLLECTED — the
    * probe-side read when the caller holds the (increment-bounded)
    * candidate rows on the driver anyway: the shard set is then pure
    * driver arithmetic ([[shardOfId]] — bit-identical to the layout's
    * `pmod(hash(doc_id), n)`), zero extra Spark jobs. A probe that
    * derives its ids from an already-collected frame should prefer this
    * over [[sketchesFor]]'s distinct-collect round-trip. */
  def sketchesForIds(spark: SparkSession, path: String, ids: Seq[Long]): DataFrame = {
    val nShards = layout.shards(spark, path)
    sketchesForShards(spark, path, ids.map(shardOfId(_, nShards)).distinct)
  }

  /** Driver-side twin of the sketch layout's shard function
    * `pmod(hash(doc_id), nShards)`: Spark's `hash()` on a single BIGINT
    * column is Murmur3 (x86 32-bit) over the 8-byte value at seed 42 —
    * the same arithmetic `Murmur3_x86_32.hashLong` exposes.
    * BandIndexSpec pins the parity against the SQL expression. */
  def shardOfId(id: Long, nShards: Int): Long = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    val m = h % nShards
    (if (m < 0) m + nShards else m).toLong
  }

  private def sketchesForShards(spark: SparkSession, path: String,
                                shards: Seq[Long]): DataFrame =
    // empty candidate set: nothing can verify — return the empty frame
    // directly instead of letting readPartitions fall back to its
    // full-table slowPath (whose ROOT LISTING alone is O(corpus shard
    // dirs); a no-candidate micro-batch — common in streaming — would
    // silently re-pay the cost this pruned read exists to remove)
    if (shards.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, sh ARRAY<BIGINT>"))
    else layout.coherentProbe(spark, path, "band sketch-shard read") {
      layout.live(layout.withDelta(spark, path, Sketches,
        layout.readLayer(spark, path, Sketches, shards))(_.select("doc_id", "sh")),
        spark, path, "doc_id")
    }

  def compact(spark: SparkSession, path: String,
              maxFilesPerShard: Int = 4): Unit =
    layout.compact(spark, path, SaltedStore.DefaultTargetBytes, maxFilesPerShard)

  def reshard(spark: SparkSession, path: String, newShards: Int): Unit =
    layout.reshard(spark, path, newShards)
}
