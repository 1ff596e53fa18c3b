package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED gram-postings index for INCREMENTAL CONTAINMENT probes —
  * "is this new document contained in some corpus document?" asked at
  * ingest (truncated re-crawls, quoted passages, eval questions embedded
  * in web pages), without ever self-joining or re-reading the corpus.
  * Completes the asymmetric-dedup story the way BandIndex completes the
  * Jaccard one: q_simjoin_containment is the batch self-join,
  * this store is its batch-vs-history form.
  *
  * Layers under `path`, in the [[ShardedLayout]] write order (its
  * lifecycle — meta, delta segments, tombstones, fold, compact, reshard
  * — is shared with BandIndex and TextIndex):
  *  - `profiles/shard=S` — (doc_id, sh, n): the exact verification sets,
  *    sharded on doc_id; the verify join reads only the candidate docs'
  *    shards. Written first: every candidate a probe can generate has
  *    its verification profile.
  *  - `postings/shard=S` — (x, doc_id, n): one row per distinct
  *    (shingle-hash, doc); `n` = that doc's distinct-set size rides
  *    along so the τ size filter (den·n ≥ num·na) kills candidates
  *    BEFORE any profile read. Sharded on x.
  *  - `dfs/shard=S` — (x, df): document-frequency SUMMARY, one small row
  *    per token, sharded on x. Appends and folds add per-batch partial
  *    rows; probes fold them with a sum; the major compaction recomputes
  *    them exactly. df is an OPTIMIZATION INPUT ONLY: it picks WHICH
  *    prefix tokens probe the postings, and the prefix filter is sound
  *    for ANY (na − ⌈τ·na⌉ + 1)-subset of A's tokens (pigeonhole: a
  *    qualifying B misses at most na − ⌈τ·na⌉ of them) — so stale,
  *    partial, or tombstone-inflated dfs (and a missing df row, read as
  *    df = 0) can cost candidates, never correctness.
  *  - `delta/seg_*`, `_deletes`, `_gram_meta.json` — the layout's.
  *
  * Append contract: batches carry DISJOINT doc sets. Streaming
  * maintenance: `StreamingIngest.gramIndexWriter`; containment-screened
  * ingest (contained batch docs never enter): `screenGramIngestWriter`. */
object GramIndex {
  val MetaFile = "_gram_meta.json"
  val DefaultShards = 64
  val FoldingMarker = "_gram_folding"
  val ReshardMarker: String = ShardedLayout.ReshardMarker

  def shardOf(c: Column, nShards: Int): Column = pmod(hash(c), lit(nShards))

  private val Profiles = ShardedLayer("profiles", "doc_id", Seq("doc_id"))
  private val Postings = ShardedLayer("postings", "x", Seq("x", "doc_id"))
  private val Dfs = ShardedLayer("dfs", "x", Seq("x"))

  private def dfsOf(sets: DataFrame): DataFrame =
    sets.groupBy("x").agg(count(lit(1)).as("df"))

  private[graft] object layout extends ShardedLayout("GramIndex", "gram",
      Seq(Profiles, Postings, Dfs), MetaFile, "n_shards", FoldingMarker, "delta") {
    def shardOf(c: Column, nShards: Int): Column = GramIndex.shardOf(c, nShards)

    /** (doc_id, x) DISTINCT set rows → profiles, postings, dfs. */
    protected def project(sets: DataFrame): Seq[DataFrame] = {
      val profiles = sets.groupBy("doc_id")
        .agg(collect_list(col("x")).as("sh"), count(lit(1)).as("n"))
      Seq(profiles,
        sets.join(profiles.select(col("doc_id"), col("n")), "doc_id")
          .select(col("x"), col("doc_id"), col("n")),
        dfsOf(sets))
    }

    /** Every layer re-derived from the live (doc_id, x) set rows. */
    protected def liveRows(spark: SparkSession, path: String): Seq[DataFrame] =
      project(live(withDelta(spark, path, Postings, readAll(spark, path, Postings))(
        _.select("doc_id", "x")).distinct(), spark, path, "doc_id"))

    override protected def compactedLayers: Seq[ShardedLayer] = Seq(Profiles, Postings)

    /** dfs recomputed EXACTLY from the compacted postings. A probe racing
      * the rewrite can read a partial summary, which only re-orders its
      * prefix choice (sound). */
    override protected def afterMajor(spark: SparkSession, path: String, nShards: Int,
                                      hadTombstones: Boolean): Unit =
      writeLayer(dfsOf(readAll(spark, path, Postings)), path, Dfs, nShards, "overwrite")
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

  /** (doc_id, x) DISTINCT set rows → a new index generation. */
  def write(sets: DataFrame, path: String,
            nShards: Int = DefaultShards): Unit =
    layout.write(sets, path, nShards)

  /** Append a batch's set rows (disjoint doc contract) as one delta
    * segment; corpus-scale loads belong to [[write]]. */
  def append(sets: DataFrame, path: String): Unit = layout.append(sets, path)

  /** Tombstone corpus doc ids. dfs stay inflated until [[compact]]
    * recomputes them — inflated df only re-orders the prefix choice. */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    layout.delete(spark, path, ids.toDF("doc_id"))
  }

  /** Upper bound on prefix rows a probe may collect to the driver (see
    * [[probeContainment]]). The collected prefix is (na − ⌈τ·na⌉ + 1)
    * rows per batch doc — bounded by construction for ingest-sized
    * batches, but a caller probing a huge backfill batch would
    * otherwise grow driver memory with the batch. Past the bound the
    * probe switches to the distributed plan: the prefix is
    * localCheckpoint()ed on the executors (same lineage cut, no driver
    * copy), shard lists come off ≤nShards-row DISTINCT collects, and
    * the verify-side joins run as shuffles instead of broadcasts.
    * Output is identical either way (GramIndexSpec pins it). */
  val MaxPrefixCollectKey = "spark.graft.gram.maxPrefixCollect"
  val DefaultMaxPrefixCollect = 1000000L

  /** Containment probe: for each batch doc A (distinct (doc_id, x) set
    * rows), every live corpus doc B with |A∩B|/|A| ≥ num/den, with the
    * exact containment value. Three shard-pruned reads, each
    * batch-sized, never corpus-sized:
    *  1. dfs of the batch's tokens (≤ |batch tokens| shards listed) —
    *     picks A's na − ⌈τ·na⌉ + 1 RAREST tokens as its probe prefix;
    *  2. postings of the prefix tokens only (rare by construction, so
    *     Σ df(prefix) stays bounded) → candidates, size-filtered
    *     den·nb ≥ num·na before any profile read;
    *  3. profiles row-selectively joined on the candidate ids → ONE
    *     codegen'd array_intersect verify per pair, pure-integer
    *     threshold den·|A∩B| ≥ num·na.
    * Output: (a, b, containment), exact.
    *
    * BATCH-SIZE REGIMES. For ingest-sized batches the prefix collects
    * to the driver (one round-trip ends the dfs subtree's lineage and
    * yields the postings shard list for free) and the batch-sized
    * frames BROADCAST into every downstream join. A backfill-sized
    * batch (prefix rows > [[MaxPrefixCollectKey]], default 1M) must do
    * neither — the probe then localCheckpoint()s the prefix and the
    * candidate set on the executors (the same lineage cut without the
    * driver copy; the only collects left are the ≤nShards-row shard
    * lists, batch-size-independent) and joins by shuffle. The regime is
    * decided UP FRONT and cheapest-test-first: a shuffle-free count()
    * of the raw set rows (prefix rows can never exceed them) settles
    * every ingest-sized batch; only a count past the cap pays the
    * exact per-doc prefix bound (the rank filter keeps exactly
    * na − ⌈τ·na⌉ + 1 of each doc's na rows — one tiny groupBy agg). */
  def probeContainment(spark: SparkSession, path: String, batchSets: DataFrame,
                       num: Int = 3, den: Int = 4,
                       stageTimer: (String, Double) => Unit = (_, _) => ()): DataFrame =
    layout.coherentProbe(spark, path, "gram probe") {
      probeContainmentImpl(spark, path, batchSets, num, den, stageTimer)
    }

  private def probeContainmentImpl(spark: SparkSession, path: String,
                       batchSets: DataFrame, num: Int, den: Int,
                       stageTimer: (String, Double) => Unit): DataFrame = {
    // stageTimer: attribution seam for the scale harness — the probe's
    // first two stages (dfs read + prefix choice; postings read +
    // candidate cut) execute EAGERLY here (driver collect in the
    // ingest regime, localCheckpoint past the cap), so only an
    // internal hook can attribute their wall time; the remainder of
    // the caller's action is then the verify join. Reported per stage
    // in SCALING.md's gram_joint rows so a regression on either axis
    // is attributable to its stage.
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    val tStart = System.nanoTime()
    val nShards = layout.shards(spark, path)
    val sets = batchSets.select(col("doc_id").as("a"), col("x"))
    val maxCollect = spark.conf.getOption(MaxPrefixCollectKey)
      .map { v =>
        require(v.matches("[0-9]+"),
          s"$MaxPrefixCollectKey must be a positive integer, got '$v'")
        v.toLong
      }.getOrElse(DefaultMaxPrefixCollect)
    // regime decision, cheapest test first: prefix rows ≤ set rows (the
    // rank filter keeps a subset of each doc's rows), and count() is a
    // shuffle-free partial-count job — so an ingest-sized batch (every
    // streaming micro-batch) decides "small" without the groupBy
    // exchange. Only a raw count past the cap pays the exact per-doc
    // bound (one tiny agg), which can still come in under it (the
    // prefix keeps ~na·(1−num/den) of each doc's na rows).
    val small = sets.count() <= maxCollect || {
      val prefixBound = sets.groupBy("a").agg(count(lit(1)).as("na"))
        .agg(coalesce(sum(
          expr(s"na - (($num * na + ${den - 1}) div $den) + 1")), lit(0L)))
        .head().getLong(0)
      prefixBound <= maxCollect
    }
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val withNa = sets.withColumn("na", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("a")).cast("bigint"))
    // 1. df lookup — shard list is ≤ nShards by construction (pmod).
    // All three reads below are manifest-backed shard reads unioned with
    // the unfolded delta under the SAME batch-bounded filters — one
    // bounded delta scan per layer, never a corpus read
    val tokShards = sets.select(shardOf(col("x"), nShards).as("s"))
      .distinct().collect().map(_.getInt(0).toLong).toSeq
    // empty batch (a no-doc micro-batch): nothing can be contained —
    // return the empty frame instead of letting every readPartitions
    // below fall back to its full-listing slowPath on an empty shard
    // list (three O(corpus-shard-dirs) listings for zero output)
    if (tokShards.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "a BIGINT, b BIGINT, containment DOUBLE"))
    val dfOfTok = layout.withDelta(spark, path, Dfs,
        layout.readLayer(spark, path, Dfs, tokShards))(_.select("x", "df"))
      .join(bc(sets.select("x").distinct()), "x")
      .groupBy("x").agg(sum(col("df")).as("df")) // fold per-batch partials
    // lazy, the dfs subtree would re-execute under the candidate-shard
    // collect AND the returned plan (three dfs reads per probe) — cut
    // its lineage once: a driver round-trip when the prefix is
    // ingest-sized, an executor-side localCheckpoint when it is not
    val prefixPlan = withNa
      .join(bc(dfOfTok), Seq("x"), "left")
      .na.fill(0L, Seq("df")) // token unseen by the corpus: rarest of all
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a")
          .orderBy(col("df"), col("x"))).cast("bigint"))
      .filter(col("rn") <=
        expr(s"na - (($num * na + ${den - 1}) div $den) + 1"))
      .select(col("a"), col("x"), col("na"),
        shardOf(col("x"), nShards).as("xs"), col("df"))
    // candBound: Σ df over the prefix rows = EXACT pre-distinct row count
    // of the candidate join below (one postings row per (x, doc) by index
    // construction, delta layers folded into df the same way) — free off
    // the rows the small regime collects anyway, and the guard the
    // candidate collect-once needs: `small` bounds PREFIX rows, not
    // candidates, and a boilerplate-heavy batch can hit a common token
    // whose postings are the corpus.
    val (prefix, postShards, candBound) =
      if (small) {
        val rows = prefixPlan.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getLong(4)))
        import spark.implicits._
        (rows.toSeq.toDF("a", "x", "na", "xs", "df").select("a", "x", "na"),
          rows.map(_._4.toLong).distinct.toSeq,
          rows.iterator.map(_._5).sum)
      } else {
        val cp = prefixPlan.localCheckpoint() // eager: one job, lineage cut
        (cp.select("a", "x", "na"),
          cp.select("xs").distinct().collect().map(_.getInt(0).toLong).toSeq,
          Long.MaxValue)
      }
    stageTimer("dfs_prefix", (System.nanoTime() - tStart) / 1e9)
    val tCand = System.nanoTime()
    // 2. candidates off the prefix tokens' postings, size-filtered
    val candPlan = layout.live(
        layout.withDelta(spark, path, Postings,
          layout.readLayer(spark, path, Postings, postShards))(
          _.select(col("x"), col("doc_id").as("b"), col("n").as("nb"))),
        spark, path, "b")
      .join(bc(prefix), "x")
      .filter(lit(den.toLong) * col("nb") >= lit(num.toLong) * col("na"))
      .select("a", "b", "na", "nb").distinct()
    // 3. verify against the candidate docs' profiles. TWO corpus-sized
    // costs hide in the naive spellings, both measured by the r14 scale
    // harness (probe grew 2.4→4.5→15.9s with the corpus):
    //  - a plain join shuffles ALL profiles (sort-merge over arrays) —
    //    killed by joining against only the candidate rows (broadcast
    //    for an ingest batch, shuffle past the cap — either way the
    //    profiles side reads only candidate shards);
    //  - a whole-root profiles read LISTS all O(corpus) shard dirs
    //    before any pruning (dynamic partition pruning skips data, not
    //    listing) — killed by deriving the candidate docs' shards from
    //    the cand subtree and constructing only those profile dirs.
    // ingest regime: collect the candidate set ONCE (it already fit a
    // broadcast — the old spelling executed the subtree under the shard
    // collect AND again under the returned plan's broadcast build, one
    // postings read + distinct exchange per execution; r20 same-box A/B
    // over the four probe consumers: 33.3s vs 37.2s lazy, q_refresh_e2e
    // 16.9 vs 21.5). The shard list becomes driver arithmetic off the
    // same rows (the 5th projected column keeps the Column-side shardOf
    // as the single hash definition). The collect AND the verify-side
    // broadcast are BOUNDED by candBound ≤ maxCollect — `small` alone
    // bounds prefix rows, not candidates — and past either cap the
    // candidates are localCheckpoint()ed and joined by shuffle.
    val candSmall = small && candBound <= maxCollect
    val (cand, candShards) =
      if (candSmall) {
        val rows = candPlan
          .withColumn("bs", shardOf(col("b"), nShards))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getInt(4)))
        import spark.implicits._
        (rows.toSeq.toDF("a", "b", "na", "nb", "bs")
          .select("a", "b", "na", "nb"),
          rows.map(_._5.toLong).distinct.toSeq)
      } else {
        val cp = candPlan.localCheckpoint()
        (cp, cp.select(shardOf(col("b"), nShards).as("s"))
          .distinct().collect().map(_.getInt(0).toLong).toSeq)
      }
    stageTimer("cand_postings", (System.nanoTime() - tCand) / 1e9)
    val profs = layout.withDelta(spark, path, Profiles,
        layout.readLayer(spark, path, Profiles, candShards))(
        _.select(col("doc_id").as("b"), col("sh").as("shb")))
    val batchFull = sets.groupBy("a").agg(collect_list(col("x")).as("sha"))
    profs
      .join(if (candSmall) broadcast(cand) else cand, "b")
      .join(bc(batchFull), "a")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
      .filter(lit(den.toLong) * col("inter") >= lit(num.toLong) * col("na"))
      .withColumn("containment",
        col("inter").cast("double") / col("na").cast("double"))
      .select("a", "b", "containment")
  }

  def compact(spark: SparkSession, path: String,
              maxFilesPerShard: Int = 4): Unit =
    layout.compact(spark, path, SaltedStore.DefaultTargetBytes, maxFilesPerShard)

  def reshard(spark: SparkSession, path: String, newShards: Int): Unit =
    layout.reshard(spark, path, newShards)
}
