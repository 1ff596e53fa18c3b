package graft.streaming

import graft.keys.Distributor
import graft.store.SaltedStore
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import java.sql.Timestamp

/** Open-session accumulator for [[StreamingIngest.sessionize]] — top-level
  * so the state encoder's generated code can construct it. */
case class SessionState(sessStart: Long, sessEnd: Long, nClicks: Long)

/** Trailing-history ring for [[StreamingIngest.anomalyFlags]] — the last
  * ≤ histLen fixed-point values per key, oldest first. Top-level for the
  * state encoder. */
case class AnomState(ring: Seq[Long])

/** Per-user funnel progress for [[StreamingIngest.funnelConversions]]:
  * step-1/step-2 completion times (epoch ms, −1 = not reached) and the
  * converted flag. Fixed size — independent of event volume. Top-level
  * for the state encoder. */
case class FunnelState(t1: Long, t2: Long, done: Boolean)

/** Structured Streaming front end for the salted store — the [EXT]
  * streaming surface of SURVEY.md §2.2.
  *
  * The reference's motivating workload is streaming-shaped: monotonically
  * increasing time-series keys hot-spotting one region server (reference
  * README:9-18); the library itself only ever ran in batch clients. Here
  * the same salting algebra (graft.keys) is applied continuously:
  * `readStream → salt → foreachBatch(append bucketed parquet)`. Every
  * micro-batch lands one sorted file per bucket, which is exactly the
  * HBase memstore-flush analog — N buckets take writes concurrently and
  * range scans keep min/max row-group skipping within each bucket.
  *
  * At scale: the only wide exchange per micro-batch is the repartition on
  * the small int bucket column; state for windowed aggregation is bounded
  * by the watermark; nothing accumulates on the driver.
  */
object StreamingIngest {

  /** Continuous salted ingest: append each micro-batch to the bucketed
    * layout at `path` using the same write path as batch (SaltedStore).
    * Start with `.start()` on the returned writer (caller sets
    * checkpointLocation / trigger).
    *
    * foreachBatch rather than a plain parquet sink because the salt +
    * repartition + sortWithinPartitions pipeline needs a batch DataFrame.
    * An append sink re-writes fresh files when a micro-batch is replayed
    * after a failure, so idempotence has to be earned, not assumed: a
    * commit log under `path`/_graft_commits records each batchId after
    * its files land, and replayed batchIds are skipped. The only residual
    * duplicate window is a crash BETWEEN the data commit and the marker
    * write (effectively exactly-once for restarts, at-least-once across
    * that narrow window — same contract as Spark's own file sink when
    * its _spark_metadata log is bypassed).
    */
  /** `commitTag` namespaces the commit log per logical QUERY: Spark
    * numbers every query's batches from 0, so two different queries (or
    * one restarted with a fresh checkpoint) writing to the same path
    * would otherwise collide on batchIds and the second query's early
    * batches would be silently skipped as "already committed". Give each
    * query lifecycle (i.e. each checkpoint location) its own tag. */
  def saltedWriter(stream: DataFrame, keyCol: Column, dist: Distributor,
                   path: String, commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, keyCol, dist, path, commitTag)
      }

  /** One micro-batch append, skipped (with a log line — silence here is
    * how batchId collisions turn into invisible data loss) when the
    * (commitTag, batchId) pair is already in the commit log — exposed for
    * direct testing of the replay path. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, keyCol: Column,
                           dist: Distributor, path: String,
                           commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      SaltedStore.write(batch, keyCol, dist, path, mode = "append")
    }

  /** The commit-log discipline shared by every foreachBatch sink here:
    * run `write` once per (commitTag, batchId), record the marker after
    * the files land, skip replays loudly. */
  private def withBatchCommit(batch: DataFrame, batchId: Long, path: String,
                              commitTag: String)(write: => Unit): Unit = {
    val hconf = batch.sparkSession.sessionState.newHadoopConf()
    val commitDir = new org.apache.hadoop.fs.Path(path, s"_graft_commits/$commitTag")
    val fs = commitDir.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(commitDir, batchId.toString)
    // stores written before tags existed kept markers directly under
    // _graft_commits/<batchId>; honor them for the default tag, or a
    // restarted pre-tag query would re-append its committed batches
    val legacy = new org.apache.hadoop.fs.Path(path, s"_graft_commits/$batchId")
    val committed = fs.exists(marker) ||
      (commitTag == "q0" && fs.isFile(legacy))
    if (!committed) {
      write
      fs.mkdirs(commitDir)
      fs.create(marker, true).close()
    } else {
      System.err.println(
        s"[graft] skipping already-committed batch $batchId (tag $commitTag) at $path — " +
          "if this is a NEW query writing to an existing store, pass a fresh commitTag")
    }
  }

  /** Anti-join `df` against a driver-resident drop set on `doc_id` —
    * the screen writers' dropped ids are driver literals BY DESIGN
    * (batch-bounded, and collecting them is what isolates the probe
    * from the append that follows), but an `isin` spelling builds one
    * In-expression operand per id: a boilerplate-heavy micro-batch with
    * thousands of contained docs pays slow analysis and 64KB-method
    * codegen pressure. A broadcast anti-join keeps the driver-literal
    * isolation at any drop-set size. */
  private def antiIds(df: DataFrame, ids: Set[Long]): DataFrame =
    if (ids.isEmpty) df
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
    }

  /** Continuous vector-index ingest: each micro-batch of (id, vector)
    * rows is cell-assigned with the broadcast codebook (one narrow
    * nearest_centroid projection) and appended to the partitioned IVF
    * layout at `path` — the streaming twin of
    * graft.pipeline.VectorIndex.write, under the same idempotent commit
    * log as [[saltedWriter]]. The index stays probe-consistent while it
    * grows: every appended file lands inside its `cell=N` partition, so
    * static and DPP probes see new vectors on their next file listing.
    * (Centroids are FROZEN for the life of the writer, as in any
    * production IVF ingest; re-training is a batch re-index.) */
  def vectorIndexWriter(stream: DataFrame, vecCol: Column,
                        cents: IndexedSeq[Seq[Double]], path: String,
                        commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeVectorBatchIdempotent(batch, batchId, vecCol, cents, path, commitTag)
      }

  /** One idempotent vector-index micro-batch append (testing seam). */
  def writeVectorBatchIdempotent(batch: DataFrame, batchId: Long, vecCol: Column,
                                 cents: IndexedSeq[Seq[Double]], path: String,
                                 commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.pipeline.VectorIndex.write(batch, vecCol, cents, path, mode = "append")
    }

  /** DEDUP-AT-INGEST vector-index writer — the streaming shape of
    * incremental SemDeDup (q_semdedup_incremental): each micro-batch is
    * semantically deduplicated BEFORE it is appended, so the index never
    * accumulates near-duplicate vectors in the first place (the cheapest
    * point in the lifecycle to drop them — a later batch dedup pass
    * would re-read and rewrite the whole store).
    *
    * Two checks per batch, both cell-blocked (never all-pairs):
    *  1. WITHIN-BATCH: cell-local `a.id < b.id` cosine self-join; a row
    *     with cosine > `tau` against a SMALLER-id batch row is dropped
    *     (greedy prefix rule — deterministic, order-free, and exactly
    *     the min-id survivor election on the planted pair structure;
    *     for chain-shaped duplicate groups it may keep fewer rows than
    *     connected-components election, never more duplicates).
    *  2. AGAINST THE INDEX: survivors probe the existing layout via
    *     [[graft.pipeline.VectorIndex.probeSet]] (nProbe=1, k=1 — a
    *     near-duplicate quantizes to its original's cell; partition
    *     pruning keeps the probe cell-sized); a top-1 cosine > `tau`
    *     drops the row. Skipped when the index does not exist yet
    *     (first batch bootstraps it).
    *
    * Survivors append under the same idempotent commit log as every
    * other streaming writer — a replayed batch is SKIPPED before the
    * probe runs, so replay cannot self-dedup against the rows the
    * original attempt appended. Centroids are frozen for the writer's
    * life, as in [[vectorIndexWriter]]. */
  def dedupVectorIndexWriter(stream: DataFrame, vecCol: String, idCol: String,
                             cents: IndexedSeq[Seq[Double]], path: String,
                             tau: Double = 0.999, commitTag: String = "q0")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupVectorBatchIdempotent(batch, batchId, vecCol, idCol, cents, path,
          tau, commitTag)
      }

  /** One idempotent dedup-at-ingest micro-batch (testing seam).
    * `vecCol`/`idCol` are column NAMES: the probe step must address the
    * vector column as stored in the index layout, which is the batch's
    * own column name. */
  def dedupVectorBatchIdempotent(batch: DataFrame, batchId: Long, vecCol: String,
                                 idCol: String, cents: IndexedSeq[Seq[Double]],
                                 path: String, tau: Double = 0.999,
                                 commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      import graft.pipeline.{Similarity, VectorIndex}
      import org.apache.spark.sql.functions.{col, broadcast}
      val spark = batch.sparkSession
      val vec = Similarity.vd(col(vecCol))
      val asg = batch
        .withColumn("__n2", Similarity.norm2(vec))
        .withColumn("__cell", Similarity.ivfCell(vec, col("__n2"), cents))
        .persist()
      try {
        // 1) within-batch: drop rows matching a smaller-id batch row
        val a = asg.select(col(idCol).as("__a"), vec.as("__va"),
          col("__n2").as("__n2a"), col("__cell"))
        val b = asg.select(col(idCol).as("__b"), vec.as("__vb"),
          col("__n2").as("__n2b"), col("__cell"))
        val dropped = a.join(b, "__cell")
          .filter(col("__a") < col("__b"))
          .filter(Similarity.cosine(Similarity.dot(col("__va"), col("__vb")),
            col("__n2a"), col("__n2b")) > tau)
          .select(col("__b").as(idCol)).distinct()
        val within = asg.join(broadcast(dropped), Seq(idCol), "left_anti")
        // 2) against the index (skip on bootstrap: no index yet)
        val survivors =
          if (VectorIndex.storedCodebookHash(spark, path).isEmpty) within
          else {
            val hits = VectorIndex.probeSet(spark, path, idCol, vecCol,
                within.select(col(idCol).as("__q_id"), vec.as("__qv")),
                "__q_id", "__qv", cents, nProbe = 1, k = 1)
              .filter(col("cos") > tau)
              .select(col("__q_id").as(idCol)).distinct()
            within.join(broadcast(hits), Seq(idCol), "left_anti")
          }
        // ONE append action, nothing evaluated after it — survivors'
        // lineage probes the index, and appending to a path a cached
        // plan reads triggers Spark's recacheByPath: any re-evaluation
        // after this write would re-probe an index containing the
        // batch's own rows and self-dedup it (the document twin
        // resolves its drop sets to driver literals for this reason;
        // here the single-action shape is the guard — keep it that way)
        VectorIndex.write(survivors.drop("__n2", "__cell"), col(vecCol), cents,
          path, mode = "append")
      } finally asg.unpersist(blocking = false)
    }

  /** Continuous BAND-INDEX ingest — streaming maintenance for the
    * persisted fuzzy-dup index ([[graft.store.BandIndex]]): each
    * micro-batch of (doc_id, text) rows is sketched
    * ([[graft.pipeline.Dedup.docSketch]] — one narrow pass + one
    * batch-sized shuffle) and appended to the hash-sharded band layout
    * + sketches table, under the shared idempotent commit log. The
    * FIRST batch bootstraps the index (creates the layout + shard
    * meta); later appends inherit the stored shard count, so the
    * layout can never fork. Batches must carry DISJOINT doc sets (the
    * standard append-ingest contract). Probes stay correct while the
    * index grows: [[graft.store.BandIndex.probeCandidates]]
    * re-aggregates bucket membership per probe over the pruned shards,
    * applying the deterministic hot-bucket cap at probe time — append
    * order can never change candidate semantics. */
  /** The (doc_id, x) distinct shingle-hash set rows a gram-index batch
    * ingests — the GramIndex write/probe input shape. */
  private def gramSets(batch: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.shingleRows(batch.select("doc_id", "text"))
      .withColumn("x", graft.pipeline.Dedup.baseHash32(col("s")))
      .select("doc_id", "x").distinct()

  /** Continuous gram-index maintenance — the streaming twin of
    * graft.store.GramIndex.write/append, under the same idempotent
    * commit log as [[saltedWriter]]. Each micro-batch of (doc_id, text)
    * rows is shingle-hashed and appended to the three sharded layouts;
    * the store's profiles-before-postings write order keeps concurrent
    * probes verifiable mid-append, and its df summary is fold-at-read,
    * so per-batch partial df rows need no merge step here. First batch
    * bootstraps the index; shard count is then pinned by the stored
    * meta (an append can never fork the layout). */
  def gramIndexWriter(stream: DataFrame, path: String,
                      nShards: Int = graft.store.GramIndex.DefaultShards,
                      commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeGramBatchIdempotent(batch, batchId, path, nShards, commitTag)
      }

  /** Default unfolded-segment count past which the streaming writers
    * LOG a compaction advisory: each append publishes one delta segment
    * and every probe unions all of them, so a never-compacted store
    * turns the removed write amplification into silent read
    * amplification — the log line is the "no silent caps" discipline
    * applied to the delta layer. The writers only ADVISE: compaction
    * still needs the WRITER pause the caller owns (the fold itself is
    * probe-atomic since r18 — [[graft.store.DeltaSegments]] — so
    * probes no longer need pausing for it). */
  val AdviseDeltaSegments = 8

  private def adviseDeltaFold(kind: String, path: String,
                              advisory: (Long, Long)): Unit = {
    val (segs, bytes) = advisory
    if (segs > AdviseDeltaSegments)
      System.err.println(s"[graft] $kind at $path holds $segs unfolded " +
        s"delta segments ($bytes bytes) — every probe unions all of " +
        s"them; pause writers and run $kind.compact")
  }

  /** One idempotent gram-index micro-batch (testing seam). */
  def writeGramBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                               nShards: Int = graft.store.GramIndex.DefaultShards,
                               commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.store.GramIndex.layout.writeOrAppend(gramSets(batch), path, nShards)
        .foreach(adviseDeltaFold("GramIndex", path, _))
    }

  /** CONTAINMENT-SCREENED ingest — decontamination at the door: a
    * micro-batch doc that is substantially CONTAINED in the corpus
    * (|A∩B|/|A| ≥ num/den against some existing doc — truncated
    * re-crawls, quoted passages, boilerplate-wrapped copies; subsumes
    * exact-dup screening) never enters the index. The asymmetric twin
    * of [[dedupBandIngestWriter]]'s Jaccard screen.
    *
    * Per batch, both checks token-equi-blocked (never all-pairs at the
    * corpus grain):
    *  1. WITHIN-BATCH: shared-token candidate pairs over the batch's
    *     own set rows, exact verify; a doc contained in a LARGER peer
    *     (ties: larger id contained in smaller) is dropped.
    *  2. AGAINST THE INDEX: survivors run
    *     [[graft.store.GramIndex.probeContainment]] (df-ranked rarest-
    *     prefix probe, three shard-pruned batch-sized reads); any doc
    *     with a qualifying container in the corpus is dropped.
    * Survivor sets append under the idempotent commit log (replay is
    * skipped BEFORE the probe — a replayed batch cannot screen against
    * the rows its first attempt appended). The first batch bootstraps
    * the index. Testing seam: [[screenGramBatchIdempotent]] returns
    * the surviving doc ids. */
  def screenGramIngestWriter(stream: DataFrame, path: String,
                             num: Int = 3, den: Int = 4,
                             nShards: Int = graft.store.GramIndex.DefaultShards,
                             commitTag: String = "q0")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenGramBatchIdempotent(batch, batchId, path, num, den, nShards, commitTag)
        ()
      }

  /** One idempotent containment-screened micro-batch (testing seam).
    * Returns the surviving doc ids when the batch ran, None on a
    * replay skip. */
  def screenGramBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                                num: Int = 3, den: Int = 4,
                                nShards: Int = graft.store.GramIndex.DefaultShards,
                                commitTag: String = "q0"): Option[Seq[Long]] = {
    import graft.store.GramIndex
    var out: Option[Seq[Long]] = None
    withBatchCommit(batch, batchId, path, commitTag) {
      val spark = batch.sparkSession
      val sets = gramSets(batch).persist()
      try {
        // 1) within-batch: drop docs contained in a larger peer (ties:
        // the larger id drops, so one of an identical pair survives).
        // Rides Dedup.containmentPairs' prefix-cut core — a bare
        // shared-token pairing is batch² on a boilerplate-heavy batch.
        // Collected once over the persisted sets, so the shared ranked
        // frame needs no cache hook of its own.
        val withinDropped: Set[Long] = graft.pipeline.Dedup
          .containmentPairs(sets, num, den,
            (na, nb, a, b) => nb > na || (nb === na && b < a))
          .select(col("a")).distinct().collect().map(_.getLong(0)).toSet
        val within = antiIds(sets, withinDropped)
        // 2) against the index (bootstrap: first batch creates it)
        val indexDropped: Set[Long] =
          if (GramIndex.storedShards(spark, path).isEmpty) Set.empty
          else GramIndex.probeContainment(spark, path, within, num, den)
            .select(col("a")).distinct().collect().map(_.getLong(0)).toSet
        val dropped = withinDropped ++ indexDropped
        val kept = antiIds(sets, dropped)
        GramIndex.layout.writeOrAppend(kept, path, nShards)
          .foreach(adviseDeltaFold("GramIndex", path, _))
        out = Some(batch.select("doc_id").collect().map(_.getLong(0))
          .filterNot(dropped).toSeq.sorted)
      } finally sets.unpersist(blocking = false)
    }
    out
  }

  def bandIndexWriter(stream: DataFrame, path: String,
                      nShards: Int = graft.store.BandIndex.DefaultShards,
                      commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBandBatchIdempotent(batch, batchId, path, nShards, commitTag)
      }

  /** One idempotent band-index micro-batch (testing seam). */
  def writeBandBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                               nShards: Int = graft.store.BandIndex.DefaultShards,
                               commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.store.BandIndex.layout.writeOrAppend(
          graft.pipeline.Dedup.docSketch(batch), path, nShards)
        .foreach(adviseDeltaFold("BandIndex", path, _))
    }

  /** DEDUP-AT-INGEST document writer — the text-modality twin of
    * [[dedupVectorIndexWriter]]: each micro-batch of (doc_id, text)
    * rows is fuzzy-deduplicated BEFORE its sketches join the persisted
    * band index, so the index (and any downstream corpus store fed by
    * the same survivors) never accumulates near-duplicates.
    *
    * Per batch, both checks LSH-blocked (never all-pairs):
    *  1. WITHIN-BATCH: [[graft.pipeline.Dedup.candidatePairs]] over the
    *     batch's own band rows (capped buckets), exact-Jaccard verify
    *     at `tau`, greedy prefix rule — a row matching a SMALLER-id
    *     batch row is dropped.
    *  2. AGAINST THE INDEX: survivors probe the persisted layout
    *     ([[graft.store.BandIndex.probeCandidates]], shard-pruned file
    *     listing), exact-Jaccard verify against the index's own
    *     sketches table; matches are dropped.
    * Survivor sketches append under the idempotent commit log (replay
    * is skipped BEFORE the probe — a replayed batch cannot self-dedup
    * against the rows its first attempt appended). The first batch
    * bootstraps the index. Observe effects through the index itself;
    * the testing seam [[dedupBandBatchIdempotent]] also returns the
    * surviving doc ids. */
  def dedupBandIngestWriter(stream: DataFrame, path: String,
                            tau: Double = 0.5,
                            nShards: Int = graft.store.BandIndex.DefaultShards,
                            commitTag: String = "q0")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBandBatchIdempotent(batch, batchId, path, tau, nShards, commitTag)
        ()
      }

  /** One idempotent dedup-at-ingest document micro-batch (testing
    * seam). Returns the surviving doc ids when the batch ran, None on
    * a replay skip.
    *
    * The drop sets resolve to DRIVER-SIDE LITERALS before anything is
    * appended — deliberately, not as an optimization: the survivors'
    * natural lineage READS the index (the probe), and appending to a
    * path a cached plan reads makes Spark invalidate that cache
    * (`recacheByPath`), so any re-evaluation after the first append
    * would re-probe an index that now contains the batch's own rows
    * and self-dedup the whole batch. With literal drop sets the
    * appended plan reads only the batch's cached sketch, immune to
    * the refresh. Both sets are batch-bounded by construction
    * (subsets of the batch's doc ids), so the collects are
    * foreachBatch-sized, never corpus-sized. */
  def dedupBandBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                               tau: Double = 0.5,
                               nShards: Int = graft.store.BandIndex.DefaultShards,
                               commitTag: String = "q0"): Option[Seq[Long]] = {
    import graft.pipeline.Dedup
    import graft.store.BandIndex
    import org.apache.spark.sql.functions.col
    var out: Option[Seq[Long]] = None
    withBatchCommit(batch, batchId, path, commitTag) {
      val spark = batch.sparkSession
      val sketch = Dedup.docSketch(batch).persist()
      try {
        val bands = Dedup.bandRows(sketch, "doc_id")
        // 1) within-batch: greedy prefix rule over verified pairs
        val withinDropped: Set[Long] = Dedup.candidatePairs(bands, "doc_id")
          .join(sketch.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
          .join(sketch.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
          .filter(Dedup.jaccardDistinct(col("sha"), col("shb")) >= tau)
          .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        val within = antiIds(sketch, withinDropped)
        // 2) against the index (bootstrap: first batch creates it)
        val indexDropped: Set[Long] =
          if (BandIndex.storedShards(spark, path).isEmpty) Set.empty
          else {
            // verification sets from ONLY the candidate docs' sketch
            // shards (BandIndex.sketchesFor): the whole-table sketches
            // read re-listed and re-scanned the corpus every
            // micro-batch — the per-batch cost then grows with the
            // index, the exact anti-pattern the gram writer's
            // listing-pruned reads avoid
            // candidates COLLECTED once (batch-bounded): replaces the
            // localCheckpoint + sketch-shard distinct-collect pair with
            // one driver round-trip; the candidate docs' sketch shards
            // are then driver arithmetic (sketchesForIds) — per-micro-
            // batch fixed job count matters here most of all
            import spark.implicits._
            // the probe's bucket stats log per batch (max PRE-cap
            // member count + how many buckets the cap truncated): the
            // degenerate-bucket failure mode surfaces as a number in
            // the writer's own log, not as a straggler at scale. The
            // collect below executes the observed plan, so the metrics
            // are available synchronously.
            // probe EXECUTION goes through the stale-file retry: a
            // maintainer's MAJOR compact between this probe's
            // construction and its collect reconstructs once against
            // the rewritten manifest instead of failing the batch
            // (ProbeRetry). A fresh Observation per construction — an
            // Observation object is single-registration, and a failed
            // attempt consumes its own.
            var bucketObs: org.apache.spark.sql.Observation = null
            val candRows = graft.store.ProbeRetry.retryOnce {
              bucketObs = org.apache.spark.sql.Observation()
              BandIndex.probeCandidates(spark, path,
                Dedup.bandRows(within, "doc_id"), "doc_id",
                bucketStat = Some(bucketObs))
            }(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
            System.err.println(s"[graft] dedupBandIngestWriter batch $batchId " +
              s"index-bucket stats: " + Dedup.renderBucketStat(bucketObs.get))
            val cand = candRows.toDF("a", "b")
            BandIndex.sketchesForIds(spark, path, candRows.map(_._1).distinct)
              .select(col("doc_id").as("a"), col("sh").as("sha"))
              .join(cand, "a")
              .join(within.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
              .filter(Dedup.jaccardDistinct(col("sha"), col("shb")) >= tau)
              .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
          }
        val dropped = withinDropped ++ indexDropped
        val kept = antiIds(sketch, dropped)
        BandIndex.layout.writeOrAppend(kept, path, nShards)
          .foreach(adviseDeltaFold("BandIndex", path, _))
        out = Some(batch.select("doc_id").collect().map(_.getLong(0))
          .filterNot(dropped).toSeq.sorted)
      } finally sketch.unpersist(blocking = false)
    }
    out
  }

  /** Continuous inverted-text-index ingest: each micro-batch of
    * (doc_id, text) rows is tokenized, tf-counted and appended to the
    * term-sharded postings layout at `path` — the streaming twin of
    * graft.pipeline.TextIndex.write, under the same idempotent commit
    * log. Search stays consistent while the index grows (appended files
    * land inside their `shard=N` partition; searchAll aggregates per doc
    * across files and delta segments). Batches must carry DISJOINT doc
    * sets — the standard append-ingest contract. Appends past the first
    * land as atomic DELTA SEGMENTS (one file commit per micro-batch —
    * the O(nShards) sharded-append floor is gone); segments accumulate
    * per batch and fold with TextIndex.compact (see
    * TextIndex.compactIfNeeded's maxDeltaSegments arm). */
  def textIndexWriter(stream: DataFrame, path: String,
                      commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeTextBatchIdempotent(batch, batchId, path, commitTag)
      }

  /** One idempotent text-index micro-batch append (testing seam). */
  def writeTextBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                               commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.pipeline.TextIndex.write(batch, path, mode = "append")
      adviseDeltaFold("TextIndex", path,
        graft.pipeline.TextIndex.deltaAdvisory(batch.sparkSession, path))
    }

  /** Continuous secondary-index maintenance: each micro-batch of base
    * rows is projected to (value, key) pairs and appended into the
    * salted index layout at `path` — the streaming twin of
    * graft.store.SecondaryIndex.ensure, under the same idempotent
    * commit log as [[saltedWriter]]. Lookups stay consistent while the
    * index grows (appended files land inside their `bucket=N`
    * partition, so point/set probes see new entries on their next file
    * listing with the same prune). Small files accumulate per batch;
    * reclaim with SecondaryIndex.compact under the marker-guarded swap
    * — grown-then-compacted equals the batch build (spec-pinned). */
  def secondaryIndexWriter(stream: DataFrame, valueCol: Column, keyCol: Column,
                           numBuckets: Int, path: String,
                           commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeIndexBatchIdempotent(batch, batchId, valueCol, keyCol,
          numBuckets, path, commitTag)
      }

  /** One idempotent secondary-index micro-batch append (testing seam). */
  def writeIndexBatchIdempotent(batch: DataFrame, batchId: Long,
                                valueCol: Column, keyCol: Column,
                                numBuckets: Int, path: String,
                                commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.store.SecondaryIndex.append(batch, valueCol, keyCol, numBuckets, path)
    }

  /** Continuous RANGE-index maintenance — the [[secondaryIndexWriter]]
    * twin for the value-binned layout (graft.store.RangeIndex): each
    * micro-batch appends (value, key) pairs into their `vb=N` bins
    * under the same idempotent commit log, so `v ∈ [lo, hi)` probes
    * stay bin-pruned and consistent while the index grows; reclaim
    * per-batch files (and the per-bin global v-order) with
    * RangeIndex.compact under the marker-guarded swap. */
  def rangeIndexWriter(stream: DataFrame, valueCol: Column, keyCol: Column,
                       width: Long, path: String,
                       commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeRangeIndexBatchIdempotent(batch, batchId, valueCol, keyCol,
          width, path, commitTag)
      }

  /** One idempotent range-index micro-batch append (testing seam). */
  def writeRangeIndexBatchIdempotent(batch: DataFrame, batchId: Long,
                                     valueCol: Column, keyCol: Column,
                                     width: Long, path: String,
                                     commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.store.RangeIndex.append(batch, valueCol, keyCol, width, path)
    }

  /** Continuous heavy-hitter sketching — the streaming twin of
    * `q_cms_topk`'s count-min grid. Counters are LINEAR, so the stream
    * never keeps per-key state: each micro-batch folds into ONE 32-KiB
    * grid row appended under the idempotent commit log, and the merged
    * sketch is the elementwise SUM of all appended grids
    * ([[cmsMergedGrid]]) — bit-identical to sketching the union in one
    * batch, which the spec pins. At 100 TB/day this is the bounded-state
    * answer to "top URLs this week": grid rows grow with BATCH COUNT,
    * not key cardinality, and compaction is the same fold applied
    * physically. */
  def cmsWriter(stream: DataFrame, xCol: Column, path: String,
                commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCmsBatchIdempotent(batch, batchId, xCol, path, commitTag)
      }

  /** One idempotent CMS micro-batch append (testing seam). */
  def writeCmsBatchIdempotent(batch: DataFrame, batchId: Long, xCol: Column,
                              path: String, commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      batch.agg(graft.functions.CmsFunctions.cms(xCol).as("grid"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$path/grids")
    }

  /** The merged sketch over every appended batch grid: elementwise sum
    * (4096 counter rows — a fixed-size fold regardless of stream
    * length), returned driver-side like the batch query's grid. */
  def cmsMergedGrid(spark: SparkSession, path: String): Array[Long] = {
    import graft.functions.CmsFunctions.{Depth, Width}
    val merged = spark.read.parquet(s"$path/grids")
      .select(posexplode(col("grid")).as(Seq("i", "c")))
      .groupBy("i").agg(sum("c").as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(Depth * Width)(i => merged.getOrElse(i, 0L))
  }

  /** Continuous CDC ingest: each micro-batch of CHANGE rows (base
    * columns + op ∈ I/U/D) appends one delta generation to the
    * merge-on-read store at `path` (graft.store.CdcStore), seq =
    * batchId, under the same idempotent commit log as [[saltedWriter]].
    * This is the scale-honest streaming MERGE: per batch only
    * batch-sized data is written (no base rewrite, no shuffle);
    * CdcStore.snapshot resolves readers last-writer-wins and
    * CdcStore.compact reclaims the read-side merge cost offline. One
    * writer lifecycle per store — seq is the batchId, so a second
    * query (or a fresh checkpoint) needs a fresh store or a compact
    * first, same contract the commitTag doc spells out. */
  def cdcWriter(stream: DataFrame, path: String,
                commitTag: String = "q0"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCdcBatchIdempotent(batch, batchId, path, commitTag)
      }

  /** One idempotent CDC micro-batch append (testing seam). */
  def writeCdcBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                              commitTag: String = "q0"): Unit =
    withBatchCommit(batch, batchId, path, commitTag) {
      graft.store.CdcStore.append(batch, batchId, path)
    }

  /** Event-time tumbling window aggregation with late-data discipline:
    * rows later than `watermarkDelay` behind the max seen event time are
    * dropped, so state is bounded (SURVEY.md §2.2 streaming bullet).
    * Output: (window_start, window_end, event_type, cnt, sum_value).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, watermarkDelay: String,
                     windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("cnt"), col("sum_value"))

  /** Sliding-window variant: windows of `windowLen` every `slide`. */
  def slidingCounts(events: DataFrame, tsCol: String, watermarkDelay: String,
                    windowLen: String, slide: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("cnt"))

  /** Streaming windowed top-k ("trending"): event counts per (tumbling
    * window, key), finalized by the watermark, then reduced to the top-k
    * keys per window. The ranking is a per-window sort over at most the
    * distinct-key count — it runs in the foreachBatch epilogue because a
    * window's ranking is only meaningful once the watermark CLOSES the
    * window. Append mode emits each closed window once per SUCCESSFUL
    * run, but foreachBatch replays a micro-batch after a failure, so the
    * sink is at-least-once per window and receives the batchId to earn
    * idempotence the same way [[writeBatchIdempotent]] does (skip or
    * overwrite by batchId). `sink` receives the batchId and a frame of
    * (window_start, key, cnt, rnk ≤ k). */
  def trendingTopK(events: DataFrame, tsCol: String, keyCol: String,
                   watermarkDelay: String, windowLen: String, k: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col(keyCol), col("cnt"))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(col("cnt").desc, col(keyCol))
        sink(batch.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k), batchId)
      }

  /** Stream-stream interval join (click attribution): each purchase joins
    * the same user's clicks from the preceding `windowSec` seconds. Both
    * sides carry watermarks and the join condition bounds the event-time
    * distance, so Spark can evict buffered rows once the watermark passes
    * their match horizon — state stays bounded on unbounded streams (the
    * stream-stream analog of the batch RangeJoin/as-of operators).
    * Columns: (user_id, click_id, click_ts, purchase_id, purchase_ts). */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       watermarkDelay: String, windowSec: Long): DataFrame =
    attributionJoin(clicks, purchases, watermarkDelay, windowSec, "inner")

  /** Shared core of the inner/outer attribution joins — one place owns
    * the watermark setup and the two-sided interval condition, so the
    * variants cannot drift apart. */
  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                              watermarkDelay: String, windowSec: Long,
                              joinType: String): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", watermarkDelay)
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
  }

  /** LEFT OUTER stream-stream attribution: every click emits — matched
    * rows as soon as the purchase arrives, UNMATCHED clicks only once
    * the watermark proves no in-window purchase can still arrive (the
    * null-side row is withheld until state for its interval is evicted;
    * that is the only correct outer-join contract on unbounded streams,
    * and it is exactly why both sides need a watermark AND the join a
    * two-sided time bound — without them outer state would grow
    * forever). Same interval condition as [[clickAttribution]]. */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                            watermarkDelay: String, windowSec: Long): DataFrame =
    attributionJoin(clicks, purchases, watermarkDelay, windowSec, "left_outer")

  /** Streaming exact dedup at ingest: drop rows whose `idCols` already
    * appeared within the watermark horizon — the streaming twin of the
    * batch exact-dedup operator (graft.pipeline.Dedup). State is bounded:
    * seen-keys older than the watermark are evicted, which is the only
    * dedup contract that can hold on an unbounded stream. */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           watermarkDelay: String, idCols: String*): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols.toSeq)

  // ---- custom state: gap-based sessionization --------------------------

  /** Input row for sessionization. */
  case class Click(user_id: Long, ts: Timestamp)
  /** One closed session: [start, end] with its click count. */
  case class Session(user_id: Long, start: Timestamp, end: Timestamp, clicks: Long)

  /** Gap-based sessions per user via flatMapGroupsWithState — the
    * KeyValueGroupedDataset custom-state path (SURVEY.md §2.2). A session
    * closes when no click arrives within `gapMs` of its last event
    * (event-time timeout, so state expires with the watermark, bounded
    * regardless of user cardinality).
    */
  def sessionize(clicks: Dataset[Click], gapMs: Long,
                 watermarkDelay: String): Dataset[Session] = {
    import clicks.sparkSession.implicits._
    clicks
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Click], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, new Timestamp(s.sessStart), new Timestamp(s.sessEnd), s.nClicks))
          } else {
            val ts = rows.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.sessEnd <= gapMs =>
                  cur = Some(s.copy(sessEnd = math.max(s.sessEnd, t), nClicks = s.nClicks + 1))
                case Some(s) =>
                  closed ::= Session(user, new Timestamp(s.sessStart), new Timestamp(s.sessEnd), s.nClicks)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.sessEnd + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch replay of the same sessionization, for oracle-checkable parity:
    * identical gap semantics expressed as window functions (a new session
    * starts where the gap from the previous click exceeds gapMs).
    */
  def sessionizeBatch(clicks: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    clicks
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min("ts_us").as("sess_start"), max("ts_us").as("sess_end"),
           count(lit(1)).as("clicks"))
  }

  case class Metric(user_id: Long, ts: Timestamp, event_id: Long, vi: Long)
  case class Anomaly(user_id: Long, event_id: Long, vi: Long, n: Long)

  case class StepEvent(user_id: Long, ts: Timestamp, step: Int)
  case class Conversion(user_id: Long, t1_ms: Long, t2_ms: Long, t3_ms: Long)

  /** Streaming twin of `q_anomaly_zscore`: flag a metric whose value
    * deviates > 3σ from the SAME key's trailing history (self-excluding
    * ring of the last `histLen` values), in the SAME all-integer
    * arithmetic — `(n·x − S)² > 9·(n·SS − S²)` over exact BigInt, so a
    * flag here is bit-identical to the batch window's decision.
    *
    * State per key is ONE fixed-size ring (≤ histLen longs) regardless
    * of stream length or key cardinality skew — the mapGroupsWithState
    * analog of the batch per-key sliding frame. Rows inside a
    * micro-batch sort by (event time, event_id); ACROSS batches arrival
    * order is history order — the operator is deterministic given the
    * batch boundaries the test pins, and late data beyond the watermark
    * is the same data the batch twin would misplace.
    *
    * State is ≤ histLen longs per key. Eviction is OPT-IN:
    * `idleEvict = Some(d)` evicts keys idle for `d` of event time past
    * their last metric via an event-time timeout (so churning key
    * spaces don't accumulate dead rings forever); the default `None`
    * keeps full per-key history forever — exact parity with the batch
    * twin, which never forgets. THE DIVERGENCE WINDOW when eviction is
    * on: an evicted key that reappears rebuilds history from scratch,
    * so its next `minN` rows are flag-suppressed where the batch twin
    * (full history) could still flag them — opt in only when bounded
    * state matters more than tail parity. `idleEvict` must exceed
    * `watermarkDelay` — a timeout at or before the current watermark
    * is rejected by Spark. */
  def anomalyFlags(metrics: Dataset[Metric], watermarkDelay: String,
                   histLen: Int = 19, minN: Int = 8,
                   idleEvict: Option[String] = None): Dataset[Anomaly] = {
    import metrics.sparkSession.implicits._
    val timeoutConf =
      if (idleEvict.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    metrics
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomState, Anomaly](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[Metric], state: GroupState[AnomState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
          var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[Anomaly]
          val batch = rows.toArray
          batch.sortBy(m => (m.ts.getTime, m.event_id)).foreach { m =>
            val n = ring.length
            if (n >= minN) {
              val s = ring.iterator.map(BigInt(_)).sum
              val ss = ring.iterator.map(v => BigInt(v) * v).sum
              val dev = BigInt(n) * m.vi - s
              if (dev * dev > 9 * (BigInt(n) * ss - s * s))
                out += Anomaly(user, m.event_id, m.vi, n.toLong)
            }
            ring = (ring :+ m.vi).takeRight(histLen)
          }
          state.update(AnomState(ring))
          // opt-in eviction: once the watermark passes this key's last
          // event by idleEvict; clamp to the watermark so a just-late
          // batch can't request an already-passed timeout (rejected)
          idleEvict.foreach { d =>
            val lastTs = batch.iterator.map(_.ts.getTime)
              .foldLeft(state.getCurrentWatermarkMs())(math.max)
            state.setTimeoutTimestamp(lastTs, d)
          }
          out.result().iterator
          }
      }
  }

  /** Streaming twin of `q_funnel`: per-user ordered-step conversion
    * (step 1 → 2 → 3, strictly increasing event time — the greedy
    * earliest-completion semantics). Processing events in event-time
    * order makes the greedy state machine EQUAL the batch formula
    * (t1 = min step-1 ts; t2 = min step-2 ts > t1; t3 = min step-3
    * ts > t2): the first step-1 seen in order IS the min, and so on —
    * so a Conversion emitted here is bit-identical to the batch
    * decision given in-order arrival (rows sort within each
    * micro-batch; late data beyond the watermark is the same data the
    * batch twin would misplace). Ties at equal ts process step-1
    * first, and each step requires STRICTLY later time, matching the
    * batch `>` comparisons.
    *
    * State per user is three longs + a flag — independent of event
    * volume — and idle users ALWAYS evict after `idleEvict` of event
    * time (shipped that way; bounded state over an unbounded user space
    * is the point of a streaming funnel — unlike [[anomalyFlags]],
    * where eviction is opt-in because it trades batch-twin parity for
    * boundedness). A converted user stays `done`
    * (one Conversion per user, the batch query's count-once grain)
    * until eviction. */
  def funnelConversions(steps: Dataset[StepEvent], watermarkDelay: String,
                        idleEvict: String = "24 hours",
                        maxGapMs: Option[Long] = None): Dataset[Conversion] = {
    import steps.sparkSession.implicits._
    // time-bounded twin (q_funnel_windowed): step k counts only within
    // maxGapMs of step k−1, boundary CLOSED. In event-time order the
    // greedy machine still equals the batch conditional-MIN chain: the
    // first in-window step-k event IS the windowed min, and once the
    // first candidate overshoots the window every later one does too —
    // the user simply never advances, exactly the batch null.
    def within(t: Long, prev: Long): Boolean =
      t > prev && maxGapMs.forall(w => t <= prev + w)
    steps
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, Conversion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[StepEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, done = false))
            val out = Vector.newBuilder[Conversion]
            val batch = rows.toArray
            batch.sortBy(e => (e.ts.getTime, e.step)).foreach { e =>
              val t = e.ts.getTime
              if (!st.done) {
                if (e.step == 1 && st.t1 < 0L) st = st.copy(t1 = t)
                else if (e.step == 2 && st.t1 >= 0L && st.t2 < 0L && within(t, st.t1))
                  st = st.copy(t2 = t)
                else if (e.step == 3 && st.t2 >= 0L && within(t, st.t2)) {
                  out += Conversion(user, st.t1, st.t2, t)
                  st = st.copy(done = true)
                }
              }
            }
            state.update(st)
            val lastTs = batch.iterator.map(_.ts.getTime)
              .foldLeft(state.getCurrentWatermarkMs())(math.max)
            state.setTimeoutTimestamp(lastTs, idleEvict)
            out.result().iterator
          }
      }
  }
}
