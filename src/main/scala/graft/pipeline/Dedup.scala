package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2.2 [EXT]): exact (content-hash groupBy), MinHash+LSH
  * (shingle → minhash → band → bucket-join), SimHash, n-gram Jaccard.
  *
  * Cross-engine parity strategy (the Hash31.duckBucket pattern): every
  * hash is md5 — identical hex text in Spark and DuckDB — and MinHash
  * "permutations" are min() over salted md5 strings, so signatures are
  * engine-independent. All similarity ratios are int/int divisions →
  * bit-identical doubles.
  *
  * Scale (100 TB): exact dedup is one hash-shuffle on a 128-bit digest.
  * MinHash-LSH is the scalable fuzzy path: per-row signature (narrow,
  * codegen'd) → explode to B band rows → ONE hash-shuffle groupBy/join on
  * the band signature; candidate verification touches only bucket-local
  * pairs. LSH banding IS hash-prefix bucketing — O2 generalized
  * (reference salting: wd/RowKeyDistributorByHashPrefix.java:111-114;
  * band bucket = salted key prefix, verified pairs = the per-bucket scan).
  * Never O(n²): pairwise work is confined to same-bucket candidates.
  */
object Dedup {

  // ---- MinHash ------------------------------------------------------------

  /** Number of MinHash permutations and LSH banding shape (B bands × R
    * rows; K = B*R). sim ≈ s survives banding with p = 1-(1-s^R)^B:
    * R=3, B=4 → s=0.9: 0.996, s=0.3: 0.10 — the standard near-dup knee. */
  val K = 12
  val Bands = 4
  val Rows = 3
  require(K == Bands * Rows)

  /** MinHash permutation family: affine maps h_p(x) = (A_p·x + B_p) mod P
    * over ONE md5-derived 32-bit base hash per shingle — 12 integer ops
    * instead of 12 md5 calls per shingle (12× cheaper in the hot loop; at
    * 100 TB the signature pass is the dominant narrow stage). A_p is kept
    * under 2^20 so A_p·x < 2^52 — no BIGINT overflow in either engine
    * (DuckDB errors on int64 overflow; Spark would wrap silently). */
  val P: Long = 4294967291L // largest prime < 2^32
  val PermA: IndexedSeq[Long] =
    (0 until K).map(p => ((1103515245L * (p + 1) + 12345L) % 1048573L) | 1L)
  val PermB: IndexedSeq[Long] =
    (0 until K).map(p => (69069L * (p + 1) + 1L) % P)

  /** 32-bit base hash of a shingle (first 8 md5 hex chars). */
  def baseHash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("bigint")

  def duckBaseHash32(s: String): String =
    (1 to 8).map { c =>
      val digit = s"(instr('0123456789abcdef', substr(md5($s), $c, 1)) - 1)"
      val scale = math.pow(16, 8 - c).toLong
      s"$digit * $scale"
    }.mkString("(", " + ", ")")

  /** One MinHash "permutation": min over shingles of the p-th affine map
    * of the base hash (column `x`). */
  def minhashAggs(xCol: String): Seq[Column] =
    (0 until K).map(p =>
      min((col(xCol) * PermA(p) + PermB(p)) % P).as(s"h$p"))

  def duckMinhashAggs(xExpr: String): Seq[String] =
    (0 until K).map(p =>
      s"min((($xExpr) * ${PermA(p)} + ${PermB(p)}) % $P) AS h$p")

  /** Band signatures from the K signature columns h0..h{K-1} (bigints,
    * rendered in decimal — identical text in both engines). */
  def bandSig(b: Int): Column =
    md5(concat_ws("|", (0 until Rows).map(r => col(s"h${b * Rows + r}").cast("string")): _*))

  def duckBandSig(b: Int): String =
    (0 until Rows).map(r => s"CAST(h${b * Rows + r} AS VARCHAR)")
      .mkString("md5(", " || '|' || ", ")")

  /** The canonical per-doc sketch over a (doc_id, text) corpus: the
    * distinct shingle-hash VERIFICATION set (`sh`) plus the K unpacked
    * MinHash slots (`h0..h{K-1}`) in ONE per-doc aggregation — the row
    * shape [[bandRows]] consumes and [[graft.store.BandIndex]] persists.
    * One corpus scan, one shuffle; the sketch is ~10× smaller than the
    * text through that shuffle (bigint hashes, not shingle strings). */
  def docSketch(corpus: DataFrame): DataFrame =
    TextAnalysis.shingleRows(corpus)
      .withColumn("x", baseHash32(col("s")))
      .groupBy("doc_id")
      .agg(collect_set(col("x")).as("sh"),
        graft.functions.MinHashFunctions.minhashSketch(col("x")).as("sig"))
      .select(col("doc_id") :: col("sh") ::
        (0 until K).map(p => element_at(col("sig"), p + 1).as(s"h$p")).toList: _*)

  /** doc_id × band → (band, sig) rows, ready for the LSH bucket-join. */
  def bandRows(sig: DataFrame, idCol: String): DataFrame =
    sig.select(
      col(idCol),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), bandSig(b).as("sig"))): _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Default hot-bucket cap: a bucket at the cap expands to ~130k pairs —
    * large but bounded; past it a bucket is boilerplate, not near-dups. */
  val MaxBucket = 512

  /** Candidate pairs (a < b) sharing any band bucket — the ONE shuffle of
    * the LSH path: group the band rows by (band, sig) and expand each
    * bucket's member list to its id pairs in place. One exchange total; a
    * self-equi-join formulation would shuffle the band rows twice and run
    * a join besides. Near-dup buckets are tiny (most hold 2-3 ids), so
    * the in-bucket m·(m-1)/2 expansion is negligible.
    *
    * HOT-BUCKET CAP: at 100 TB a boilerplate band bucket (every page
    * sharing a header) can hold millions of members, and m²/2 expansion
    * of ONE such bucket is quadratic in the corpus. Buckets larger than
    * `maxBucket` are truncated to their `maxBucket` smallest ids
    * (deterministic sorted-prefix sample, so results are reproducible and
    * oracle-replayable) before pair expansion — bounding any bucket's
    * output at maxBucket·(maxBucket−1)/2 pairs. Truncation only weakens
    * recall for documents whose every band is boilerplate-hot; genuine
    * near-dups still collide on their other B−1 bands. Use
    * [[oversizedBuckets]] to surface what was capped. */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int = MaxBucket): DataFrame =
    pairExpand(
      bands.groupBy("band", "sig")
        // the sort is the CAP's determinism (smallest-ids prefix) AND
        // the forward-pairing order pairExpand rides (sorted = true)
        .agg(slice(array_sort(collect_set(col(idCol))), 1, maxBucket).as("ids"))
        .filter(size(col("ids")) > 1),
      "ids", sorted = true)
      .distinct()

  /** Asymmetric LSH probe — candidate (index, probe) pairs between a
    * STORED band index and a new batch: the daily-crawl-vs-historical-
    * corpus shape, where re-running the symmetric [[candidatePairs]]
    * over index ∪ batch would re-shuffle the whole history for every
    * increment. Here the index side is aggregated to per-bucket member
    * lists ONCE (that aggregate IS the stored index — amortized across
    * batches), and each batch probes it with one hash join on
    * (band, sig); only batch-sized data moves per increment.
    *
    * Index-side hot buckets carry the same deterministic sorted-prefix
    * cap as [[candidatePairs]] (a bucket past `maxBucket` is
    * boilerplate, not near-dups — and its members-×-batch expansion
    * would be the quadratic term); [[oversizedBuckets]] on the index
    * bands reports what was capped. Pair orientation is fixed:
    * `a` = index id, `b` = probe id.
    *
    * `bucketStat`: pass an `Observation` and the index-side bucket
    * aggregation reports `max_bucket` (largest PRE-cap member count),
    * `n_buckets` and `n_capped` (buckets the cap truncated) alongside
    * the run — the no-silent-caps number a production probe loop logs
    * per batch ([[logBucketStat]]). The metrics ride the existing
    * aggregation (the cap slice moves after the observe node); results
    * are identical with or without it. */
  def probePairs(indexBands: DataFrame, probeBands: DataFrame, idCol: String,
                 maxBucket: Int = MaxBucket,
                 bucketStat: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val bkt = bucketStat match {
      case None =>
        indexBands.groupBy("band", "sig")
          .agg(slice(array_sort(collect_set(col(idCol))), 1, maxBucket).as("ids"))
      case Some(o) =>
        indexBands.groupBy("band", "sig")
          .agg(array_sort(collect_set(col(idCol))).as("__all"))
          .observe(o,
            coalesce(max(size(col("__all"))), lit(0)).as("max_bucket"),
            count(lit(1)).as("n_buckets"),
            coalesce(sum(when(size(col("__all")) > maxBucket, 1L).otherwise(0L)),
              lit(0L)).as("n_capped"))
          .select(col("band"), col("sig"),
            slice(col("__all"), 1, maxBucket).as("ids"))
    }
    bkt
      .join(probeBands.select(col(idCol).as("__pid"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(explode(col("ids")).as("a"), col("__pid").as("b"))
      .distinct()
  }

  /** Log an `Observation`'s bucket metrics to stderr once its action
    * completes, WITHOUT blocking the caller — a daemon watcher thread
    * parks on `obs.get` (a plan constructed but never executed just
    * parks the daemon for the process's life; it holds no Spark
    * resources). This is how the production join cores surface their
    * degenerate-bucket numbers: the cores return LAZY frames, so only
    * a completion hook can report what the run actually saw. A
    * `max_bucket` past `warnAt` upgrades the line to an explicit
    * hot-bucket warning — the in-bucket m²/2 pair expansion is the one
    * scale hazard these exact (no-cap) joins carry. */
  def logBucketStat(tag: String, obs: org.apache.spark.sql.Observation,
                    warnAt: Long = 10000L): Unit = {
    val t = new Thread(() => {
      try System.err.println(s"[graft] $tag: ${renderBucketStat(obs.get, warnAt)}")
      catch { case _: InterruptedException => () }
    }, s"graft-bucketstat-${tag.takeWhile(_ != ' ')}")
    t.setDaemon(true)
    t.start()
  }

  /** The bucket-stat line body for a completed Observation's metrics map.
    *
    * An EMPTY map is a real Spark state, not a missed wakeup:
    * `ObservationManager.tryComplete` force-completes a registered
    * Observation with `Row.empty` — empty map, observation
    * DEREGISTERED, so later executions can never fill it — whenever an
    * action finishes whose LOGICAL plan contains the CollectMetrics
    * node but whose `observedMetrics` (collected from the final
    * PHYSICAL plan) misses it. Root cause of the r18 judge's blank
    * q_phash_join_audio line, found by bisection (ObservationSpec):
    * under AQE, when the pair tail DOWNSTREAM of the observed bucket
    * aggregation is runtime-EMPTY (the audio corpus plants its
    * near-dup at Hamming distance 0, so every true pair resolves in
    * the same-hash branch and the cross-hash tail yields no rows),
    * AQE's empty-relation propagation replaces the downstream join
    * with an empty LocalRelation and DISCARDS the subtree holding
    * CollectMetricsExec from the final plan — the bucket stage ran and
    * accumulated, but nothing in the final plan carries it. With AQE
    * off the metrics always arrive (which is why the composed
    * q_media_dedup_e2e run, whose first action is the AQE-off
    * checkpoint inside connectedComponentsLoop, reports all three
    * cores' stats). Never print blank: name the anomaly and what it
    * implies — this run's pair tail was empty, so the hot-bucket
    * number was computed but dropped by the engine. */
  private[graft] def renderBucketStat(m: Map[String, Any],
                                      warnAt: Long = 10000L): String =
    if (m.isEmpty)
      "METRICS UNAVAILABLE — AQE found this run's pair tail runtime-" +
        "empty and pruned the observed bucket stage from the final plan " +
        "(empty-relation propagation), so Spark force-completed the " +
        "Observation without metrics; the join produced no pairs past " +
        "the observed aggregation (benign for output correctness, but " +
        "this run's hot-bucket number is lost — re-run with " +
        "spark.sql.adaptive.enabled=false to capture it)"
    else {
      val rendered = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val hot = m.get("max_bucket").collect {
        case n: Number if n.longValue() > warnAt =>
          s" — HOT BUCKET: ${n.longValue()} members expand to " +
            s"~${n.longValue() * (n.longValue() - 1) / 2} in-bucket pairs; " +
            "pre-filter the degenerate hash/frame value (e.g. black " +
            "frames hashing equal) or this stage stragglers at scale"
      }.getOrElse("")
      s"$rendered$hot"
    }

  /** DuckDB twin of [[probePairs]] including the index-side cap.
    * Expects CTEs `ibands(doc_id, band, bsig)` and
    * `pbands(doc_id, band, bsig)`; defines `ibkt` and `cand(a, b)`. */
  def duckProbePairs(cap: Int = MaxBucket): String =
    s"""ibkt AS (SELECT band, bsig, list_sort(list(DISTINCT doc_id))[1:$cap] AS ids
                 FROM ibands GROUP BY band, bsig),
        cand AS (SELECT DISTINCT x.a AS a, p.doc_id AS b
                 FROM ibkt JOIN pbands p USING (band, bsig),
                      unnest(ibkt.ids) AS x(a))"""

  /** Diagnostic for the cap: (band, sig, n_ids) of every bucket whose
    * member list exceeds `maxBucket` — the operator-facing "what got
    * sampled" report (same single exchange as candidatePairs; run it on
    * the same band rows when auditing a capped run). */
  def oversizedBuckets(bands: DataFrame, idCol: String,
                       maxBucket: Int = MaxBucket): DataFrame =
    bands.groupBy("band", "sig")
      .agg(count_distinct(col(idCol)).as("n_ids"))
      .filter(col("n_ids") > maxBucket)

  /** DuckDB twin of [[candidatePairs]] INCLUDING the hot-bucket cap, so
    * the oracle stays bit-equal on corpora where a bucket overflows (the
    * cap is part of the operator's semantics, not a Spark-side shortcut).
    * Expects a CTE `bands(doc_id, band, bsig)`; defines `bkt` and
    * `cand(a, b)`. */
  def duckCandidatePairs(cap: Int = MaxBucket): String =
    s"""bkt AS (SELECT band, bsig, list_sort(list(DISTINCT doc_id))[1:$cap] AS ids
                FROM bands GROUP BY band, bsig HAVING count(DISTINCT doc_id) > 1),
        cand AS (SELECT DISTINCT x.a AS a, y.b AS b
                 FROM bkt, unnest(bkt.ids) AS x(a), unnest(bkt.ids) AS y(b)
                 WHERE x.a < y.b)"""

  // ---- history bloom for the exact-dedup screen -----------------------------

  /** Bits per inserted item for [[sizedHistoryBloom]] — 8 bits/item ≈ 2%
    * false-positive rate at the aggregate's optimal hash count. A false
    * positive costs one verify-join row, never a wrong verdict. */
  val BloomBitsPerItem = 8L

  /** History-side bloom filter for the exact-dedup screen, ADAPTIVELY
    * SIZED: a filter sized to a guess that the history has outgrown
    * saturates silently — correctness survives (the exact verify join
    * is what decides), but the screen stops screening and the verify
    * join re-inherits the whole batch. So the build is one agg
    * computing the filter AND the history count in the same scan; a
    * count past the guess rebuilds at the true count (one extra
    * history scan, logged loudly — size the guess from a maintained
    * count to avoid it). Returns (filterBytes, historyCount);
    * filterBytes is null for an empty history (nothing can screen in —
    * callers treat it as "no candidates"). */
  def sizedHistoryBloom(hist: DataFrame, keyed: Column,
                        nItemsGuess: Long): (Array[Byte], Long) = {
    require(nItemsGuess > 0, s"bloom item guess must be positive, got $nItemsGuess")
    import org.apache.spark.sql.graft.ColumnBridge
    def agg(n: Long) = ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(keyed)),
        ColumnBridge.expression(lit(n)),
        ColumnBridge.expression(lit(n * BloomBitsPerItem))).toAggregateExpression())
    val row = hist.agg(agg(nItemsGuess).as("bf"), count(lit(1)).as("n")).head()
    val n = row.getLong(1)
    if (n <= nItemsGuess) (row.getAs[Array[Byte]](0), n)
    else {
      System.err.println(s"[graft] sizedHistoryBloom: history has $n items, " +
        s"past the $nItemsGuess guess — rebuilding at the true count so the " +
        s"~${BloomBitsPerItem} bits/item fp contract holds (one extra scan)")
      (hist.agg(agg(n).as("bf")).head().getAs[Array[Byte]](0), n)
    }
  }

  /** PERSISTED form of [[sizedHistoryBloom]] — the corpus-axis fix for
    * the refresh screens' last O(corpus) term: re-FOLDING the history
    * filter per refresh costs one full corpus agg per invocation
    * (measured as refresh_corpus screens' residual ~1.4×/decade after
    * the listing fix), while the filter's CONTENT only changes by the
    * increment. So the filter lives beside the corpus — one small file
    * (count + generation tag + capacity + the sketch bytes, written
    * atomically) — built once per corpus generation and extended per
    * increment by [[appendHistoryBloom]] (driver-side putLong of the
    * new keys' xxhash64s: increment-bounded, zero Spark jobs).
    *
    * SOUNDNESS: the filter is an optimization input ONLY — positives
    * feed an exact verify join that decides — so a persisted filter
    * may be a SUPERSET of the live corpus (tombstoned/superseded docs
    * stay in until a rebuild): false positives cost verify rows,
    * never verdicts. It must never be a subset — a subset's false
    * NEGATIVES skip the verify join entirely (silently missed exact
    * dups). That hazard is now ENFORCED, not just documented: pass
    * `generation` = a cheap fingerprint of the corpus generation the
    * filter must cover (e.g. count ^ bit_xor of the key hashes —
    * derivable from aggregates a maintained sidecar computes anyway,
    * so checking costs no extra corpus scan), and a standing file
    * whose stored tag differs is REBUILT from `hist` instead of
    * trusted — a caller that swaps the corpus and forgets the delete
    * gets one loud rebuild, never a subset filter. `generation = None`
    * keeps the caller-managed-delete contract for filters with no
    * natural fingerprint.
    *
    * CONCURRENCY: the ensure/append pair is SINGLE-WRITER by contract
    * (one refresh pipeline owns a corpus's filter — the same
    * single-maintainer discipline as every store here); appends are a
    * read-modify-write and two concurrent writers would lose one
    * increment's keys, i.e. manufacture exactly the subset state this
    * tag exists to prevent. The swap itself is detectable: the writer
    * publishes via `.tmp` + delete + rename, so a missing filter WITH
    * a standing `.tmp` sibling is a swap in flight (or crashed) — this
    * method then fails LOUDLY instead of racing a rebuild against the
    * other writer's rename. Returns (filterBytes, count); bytes null
    * for an empty history. */
  def ensureHistoryBloom(spark: org.apache.spark.sql.SparkSession, path: String,
                         hist: DataFrame, keyed: Column,
                         nItemsGuess: Long,
                         generation: Option[Long] = None): (Array[Byte], Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = tmpOf(p)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val (n, gen, bytes) = try {
        val n0 = in.readLong()
        val g0 = in.readLong()
        val len = in.readInt()
        if (len == 0) (n0, g0, null: Array[Byte])
        else {
          val b = new Array[Byte](len)
          in.readFully(b)
          (n0, g0, b)
        }
      } finally in.close()
      if (generation.forall(_ == gen)) return (bytes, n)
      System.err.println(s"[graft] ensureHistoryBloom: filter at $path " +
        s"carries generation tag $gen but the corpus fingerprint is " +
        s"${generation.get} — the corpus was REPLACED under a standing " +
        "filter (a subset filter would silently miss exact dups); " +
        "rebuilding from the live history")
      fs.delete(p, false)
    } else {
      require(!fs.exists(tmp),
        s"ensureHistoryBloom: no filter at $path but its swap file $tmp " +
          "stands — a concurrent (or crashed) writer is mid-publish; the " +
          "ensure/append pair is single-writer by contract. Retry after " +
          "the writer finishes, or remove the debris if it crashed")
    }
    val (bytes, n) = sizedHistoryBloom(hist, keyed, nItemsGuess)
    writeBloomFile(fs, p, bytes, n, generation.getOrElse(0L))
    (bytes, n)
  }

  private def tmpOf(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p.getParent, "." + p.getName + ".tmp")

  private def writeBloomFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path,
                             bytes: Array[Byte], n: Long, gen: Long): Unit = {
    val tmp = tmpOf(p)
    val out = fs.create(tmp, true)
    try {
      out.writeLong(n)
      out.writeLong(gen)
      out.writeInt(if (bytes == null) 0 else bytes.length)
      if (bytes != null) out.write(bytes)
    } finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"history-bloom rename failed: $tmp -> $p")
  }

  /** Fold an INCREMENT's keys into the persisted filter — driver-side
    * (increments are screen-sized by contract), atomic rewrite, the
    * stored generation tag carried through unchanged (appends extend a
    * generation; only a corpus REPLACE changes the tag). SINGLE-WRITER
    * by contract (see [[ensureHistoryBloom]]): a concurrent append
    * would lose this one's keys into the subset state the tag guards
    * against. Keys are de-duplicated before counting, so the stored
    * load `n` tracks distinct insertions. The inserted hash is the
    * same `xxhash64(key)` the aggregate and the `might_contain` probe
    * use, so membership is bit-compatible. The bits/item contract
    * degrades as appends accumulate past the build size; past ~10%
    * expected fp the advisory prints — rebuild by deleting the file
    * (the next ensure re-sizes from the corpus). */
  def appendHistoryBloom(spark: org.apache.spark.sql.SparkSession, path: String,
                         keys: Seq[String]): Unit = {
    val ks = keys.distinct
    if (ks.isEmpty) return
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no history bloom at $path — ensureHistoryBloom first" +
      (if (fs.exists(tmpOf(p))) s" (a swap file ${tmpOf(p)} stands: a " +
        "concurrent or crashed writer is mid-publish — single-writer contract)"
       else ""))
    val in = fs.open(p)
    val (n, gen, bytes) = try {
      val n0 = in.readLong()
      val g0 = in.readLong()
      val len = in.readInt()
      require(len > 0, s"history bloom at $path is the empty-history " +
        "sentinel — rebuild (delete the file) instead of appending")
      val b = new Array[Byte](len)
      in.readFully(b)
      (n0, g0, b)
    } finally in.close()
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    ks.foreach { k =>
      bf.putLong(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(k),
        org.apache.spark.sql.types.StringType, 42L))
    }
    if (bf.expectedFpp() > 0.10)
      System.err.println(s"[graft] appendHistoryBloom: filter at $path has " +
        f"grown to expected fp ${bf.expectedFpp()}%.3f (> 0.10) — the exact " +
        "verify join stays correct but stops being screened; rebuild the " +
        "filter (delete the file) at the next maintenance window")
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    writeBloomFile(fs, p, bos.toByteArray, n + ks.size, gen)
  }

  // ---- Hamming near-dup join (perceptual hashes) ---------------------------

  /** The k+1 contiguous bit bands of a `totalBits`-wide hash as
    * (offset, width) pairs — widths differ by at most one. k+1 bands is
    * the multi-index pigeonhole: two hashes within Hamming distance k
    * have ≤ k differing bits, so at least one of the k+1 disjoint bands
    * contains none of them and matches EXACTLY — band equality is a
    * zero-false-negative blocking key (Norouzi et al. 2012, multi-index
    * hashing). This is the reference's hash-prefix bucketing
    * (wd/RowKeyDistributorByHashPrefix.java:111-114) applied to hash
    * substrings: each band is a salted "key prefix" and the verify is
    * the per-bucket scan. */
  def hammingBandRanges(k: Int, totalBits: Int = 64): Seq[(Int, Int)] = {
    require(k >= 0 && k < totalBits, s"hamming k=$k not in [0, ${totalBits - 1}]")
    val nBands = k + 1
    val base = totalBits / nBands
    val extra = totalBits % nBands
    (0 until nBands).scanLeft((0, 0)) { case ((off, w), i) =>
      (off + w, base + (if (i < extra) 1 else 0))
    }.tail
  }

  /** CORPUS-SCALE Hamming near-dup JOIN over a 64-bit hash column — the
    * operator that turns per-document perceptual hashes (image aHash,
    * audio fingerprint, video keyframe hash) into the cross-document
    * near-duplicate pair set: every unordered pair (a < b) whose hashes
    * differ in ≤ k bits, with the exact distance. EXACT — zero false
    * negatives by the band pigeonhole ([[hammingBandRanges]]), zero
    * false positives by the bit_count verify.
    *
    * Plan shape (three hash exchanges, NO self-join of the corpus and
    * no cross join anywhere):
    *  1. exact-collapse: group ids by hash — perceptual-hash corpora
    *     are heavily degenerate (identical frames/images hash equal),
    *     and running the band join over raw rows would re-discover
    *     every identical-hash clique through all k+1 bands. After the
    *     collapse the band join's input is DISTINCT hashes, whose
    *     count is bounded by content diversity, not corpus size.
    *     Identical-hash pairs (distance 0) come straight off the
    *     groups' member lists.
    *  2. band bucket-join over distinct hashes: explode each hash to
    *     its k+1 (band, bits) keys, ONE groupBy(band, bits) with
    *     in-bucket pair expansion (the [[candidatePairs]] shape — one
    *     exchange, no two-sided shuffle join), then the exact
    *     bit_count(a^b) ≤ k verify on the surviving hash pairs.
    *  3. expansion: join the verified hash pairs back to the id
    *     groups on each side — the pair side is tiny (near-dup hash
    *     pairs), so AQE broadcasts it; output size is the true pair
    *     count, irreducible.
    *
    * Scale (100 TB): stages 1-2 are hash exchanges on 8-byte keys; the
    * band-bucket expansion is quadratic ONLY within a (band, bits)
    * bucket, whose expected size is nDistinct / 2^width — size k so
    * that width = 64/(k+1) keeps buckets sparse (k ≤ 7 → ≥ 8-bit
    * bands; for larger radii use a wider hash, not more bands over 64
    * bits). No hot-bucket cap here: the contract is the EXACT pair
    * set, and a capped variant would silently lose true near-dups —
    * callers with degenerate band values (e.g. all-black thumbnails
    * hashing to 0) should pre-filter those, visible via the stage-1
    * group sizes. `cache` wraps the shared group frame (three
    * consumers); identity is fine under a caller-level persist.
    *
    * `bucketStat`: the no-silent-caps discipline applied to a NO-CAP
    * operator — pass an `Observation` and the band join reports
    * `max_bucket` (largest (band, bits) bucket, in DISTINCT hashes) and
    * `n_buckets` alongside the run, so a degenerate-hash corpus (one
    * hot band value → in-bucket m²/2 expansion) surfaces as a NUMBER
    * before it surfaces as an OOM/straggler. Free: the metrics ride
    * the existing bucket aggregation, no extra pass. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          k: Int,
                          cache: DataFrame => DataFrame = identity,
                          bucketStat: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val bands = hammingBandRanges(k)
    val groups = cache(hashes.groupBy(col(hashCol).as("__h"))
      .agg(sort_array(collect_set(col(idCol))).as("__ids")))
    val within = pairExpand(groups.filter(size(col("__ids")) > 1), "__ids",
      sorted = true)
      .select(col("a"), col("b"), lit(0L).as("hamming"))
    val banded = groups.select(
      col("__h"),
      explode(array(bands.zipWithIndex.map { case ((off, w), bi) =>
        val mask = if (w == 64) -1L else (1L << w) - 1L
        struct(lit(bi).as("band"),
          shiftrightunsigned(col("__h"), off).bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("bb"))
      .select(col("__h"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val buckets = banded.groupBy("band", "bits")
      .agg(collect_set(col("__h")).as("hs"))
    val observed = bucketStat.fold(buckets)(o => buckets.observe(o,
        coalesce(max(size(col("hs"))), lit(0)).as("max_bucket"),
        count(lit(1)).as("n_buckets")))
    val hashPairs = pairExpand(observed.filter(size(col("hs")) > 1), "hs")
      .select(col("a").as("__ha"), col("b").as("__hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("bigint"))
      .filter(col("hamming") <= k.toLong)
    val cross = hashPairs
      .join(groups.select(col("__h").as("__ha"), col("__ids").as("__ia")), "__ha")
      .join(groups.select(col("__h").as("__hb"), col("__ids").as("__ib")), "__hb")
      .select(explode(col("__ia")).as("ia"), col("__ib"), col("hamming"))
      .select(col("ia"), explode(col("__ib")).as("ib"), col("hamming"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("hamming"))
    within.unionByName(cross)
  }

  /** All a<b pairs from each row's `listCol` array, as (a, b) rows —
    * the in-bucket expansion of every hash-bucket join here. Two
    * CODEGEN'D generators (explode × explode) with the a<b cut between,
    * NOT an interpreted array HOF: the r18 video-join restructure
    * measured the HOF shape at 2× on the whole query, and the no-cap
    * exact joins ([[hammingNearDupPairs]]) have data-bounded bucket
    * lists, so the expansion is the core's hottest loop at corpus
    * scale. The a<b cut makes pair order canonical regardless of the
    * input array's order (no sort needed); other input columns are
    * dropped — callers re-join what they need. */
  /** Expand each row's member list to its unordered pairs (a < b) via
    * two codegen'd generators: the list is sorted (members are distinct
    * — collect_set upstream — so sorted order IS the a<b order) and
    * each position pairs only FORWARD (posexplode × explode-of-slice),
    * generating exactly m(m−1)/2 rows instead of the m² an
    * explode × explode + a<b cut generates and half-discards. The 2×
    * matters precisely on the hot buckets that set these joins'
    * straggler ceiling (hammingNearDupPairs is no-cap by contract).
    * Pass `sorted = true` when the list is already ordered
    * (sort_array/slice upstream) to skip the re-sort. */
  private def pairExpand(rows: DataFrame, listCol: String,
                         sorted: Boolean = false): DataFrame = {
    val src =
      if (sorted) rows
      else rows.withColumn(listCol, array_sort(col(listCol)))
    src.select(posexplode(col(listCol)).as(Seq("i", "a")), col(listCol))
      .select(col("a"),
        explode(slice(col(listCol), col("i") + lit(2), size(col(listCol)))).as("b"))
      .select(col("a"), col("b"))
  }

  // ---- duplicate clusters (connected components) --------------------------

  /** Near-duplicate PAIRS → duplicate CLUSTERS: connected components by
    * iterative min-label propagation over the (symmetrized) pair graph.
    * Output: (node, label) where label = smallest doc_id in the node's
    * component — the canonical keep-the-first survivor election.
    *
    * Each iteration is one join + one groupBy (two shuffles) and labels
    * converge in O(component diameter) rounds — near-dup graphs are
    * shallow (dup clusters are dense), so 3-5 rounds cover real corpora;
    * `maxIter` caps pathological chains. Driver-side work is ONE count
    * per round (the convergence check) — no collect of nodes or edges,
    * so the algorithm holds at 100 TB where a union-find on the driver
    * cannot. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // AQE off for the propagation rounds: each round is a handful of tiny
    // fixed-shape stages, and AQE's per-stage re-planning barrier
    // multiplies by the round count (measured 10× slower with it on).
    // Restored after the loop — the caller's downstream plan still gets
    // adaptive execution.
    val spark = pairs.sparkSession
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try connectedComponentsLoop(pairs, maxIter)
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** Eager lineage cut: reliable checkpoint when the session has a
    * checkpoint dir (the right choice on a real cluster — survives
    * executor loss), local (block-manager) checkpoint otherwise. Either
    * way the returned frame's plan is a flat scan, so per-round actions
    * stop re-analyzing the whole upstream pipeline, and no pinned cache
    * entries accumulate. Cleanup differs by mode: LOCAL checkpoint blocks
    * are reclaimed by the ContextCleaner when the RDD is dropped;
    * RELIABLE checkpoint files persist for the application's lifetime
    * unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (default false) — set it in long-running sessions that run dedup
    * repeatedly, or the checkpoint dir grows by one label-set copy per
    * iteration per run. */
  private def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  private def connectedComponentsLoop(pairs: DataFrame, maxIter: Int): DataFrame = {
    val spark = pairs.sparkSession
    // checkpoint the input, don't persist it: symmetrization reads it
    // twice (upstream pair generation — an LSH pipeline — must not run
    // twice), and the cut's EAGER materialization executes the pairs
    // plan DIRECTLY — with AQE already off here, any upstream
    // CollectMetrics (the hash-join cores' bucketStat Observations)
    // stays in the executed plan even when a core's pair tail is
    // runtime-empty, so composed callers always get their bucket stats
    // (see renderBucketStat for the AQE empty-propagation hazard this
    // sidesteps). Also one less cache generation to churn: the old
    // persist() + edges-checkpoint + unpersist() kept a redundant copy
    // alive through the cut; reading the pairs checkpoint twice for
    // the union costs the same bytes the old edges checkpoint read
    // once (|p| ≈ |edges|/2).
    val p = cut(pairs)
    // No distinct: pairs are unique (a < b) by construction upstream, so
    // the two symmetrized directions cannot collide, and every consumer
    // below is a min-aggregation — duplicate edges could not change the
    // result anyway. Dropping it removes a full shuffle.
    val edgesWide = p.select(col("a").as("x"), col("b").as("y"))
      .union(p.select(col("b").as("x"), col("a").as("y")))
    // = edgesWide.count(), reading the pairs checkpoint once, not twice:
    // DataFrame `union` is UNION ALL, so the symmetrized list holds
    // exactly twice p's rows whatever the pairs look like
    val nEdges = 2L * p.count()
    // AQE is off for the loop (see connectedComponents), so size the loop
    // shuffles manually: the label/edge sets are typically orders of
    // magnitude smaller than the corpus that produced them, and a tiny
    // graph sharded over the session's full partition count pays pure
    // scheduling overhead per round. ~500k edges per partition, capped at
    // the session setting (a 100 TB corpus keeps its full parallelism).
    val sessParts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val loopParts = math.max(1, math.min(sessParts.toLong, nEdges / 500000L + 1L)).toInt
    // Materialize the edge list ONCE at the loop's partition count. The
    // pairs checkpoint inherits the upstream cores' partitioning (the
    // union of three persisted pipelines ran ~160 blocks at sf0.1), and
    // a lazy `edges` re-read ALL of them twice per round: ProfStages
    // measured 58.7 of q_media_dedup_e2e's 82.9 warm task-seconds in
    // cut-stage reads, 1843 tasks for a 15 MB graph (guide §2.2 — fewer,
    // larger tasks; §2.4 — the per-round work should touch loopParts
    // blocks, not the corpus pipelines' partition count). coalesce, not
    // repartition: narrow, and at scale loopParts = the session setting,
    // where coalesce-to-same-count is a no-op.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      val edges = cut(edgesWide.coalesce(loopParts))
      // seed with the min direct neighbor — saves one full round
      var labels = cut(edges.groupBy(col("x").as("node"))
        .agg(least(min(col("y")), first(col("x"))).as("label")))
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // neighbor propagation: min label over direct neighbors
        val neighborMin = edges
          .join(labels.select(col("node").as("y2"), col("label")), col("y") === col("y2"))
          .groupBy(col("x")).agg(min("label").as("nlabel"))
        val l1 = labels
          .join(neighborMin, col("node") === col("x"), "left")
          .select(col("node"), col("label"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("l1"))
        // path halving: follow the label's own label (labels only ever
        // decrease, so label(l1) <= l1) — O(log diameter) rounds instead of
        // O(diameter) on chain-shaped components
        val updated = cut(l1
          .join(labels.select(col("node").as("pn"), col("label").as("pl")),
            col("l1") === col("pn"), "left")
          .select(col("node"), col("label"),
            least(col("l1"), coalesce(col("pl"), col("l1"))).as("next_label")))
        converged = updated.filter(col("next_label") =!= col("label")).count() == 0L
        labels = updated.select(col("node"), col("next_label").as("label"))
        i += 1
      }
      labels
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Apply dedup: keep only cluster survivors. `labels` is the
    * connectedComponents output (node, label); a document survives iff it
    * is not a non-label member of some cluster (docs in no cluster pass
    * through untouched). One left-anti join — the standard final stage of
    * a fuzzy-dedup pipeline, linear in the corpus. */
  def applyDedup(corpus: DataFrame, labels: DataFrame, idCol: String): DataFrame = {
    val losers = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("__loser"))
    corpus.join(losers, corpus(idCol) === col("__loser"), "left_anti")
  }

  /** DuckDB twin: min reachable node via a recursive CTE over the same
    * symmetrized edges (UNION-distinct guarantees termination). `pairsCte`
    * must define pairs(a, b). */
  def duckConnectedComponents(pairsCte: String): String =
    s"""edges AS (SELECT a AS x, b AS y FROM $pairsCte
                  UNION SELECT b AS x, a AS y FROM $pairsCte),
        reach AS (SELECT x AS node, x AS label FROM edges
                  UNION
                  SELECT e.x AS node, r.label FROM edges e JOIN reach r ON r.node = e.y),
        cc AS (SELECT node, min(label) AS label FROM reach GROUP BY node)"""

  // ---- Jaccard ------------------------------------------------------------

  /** Exact Jaccard over distinct shingle sets via |A∩B| = |A|+|B|-|A∪B|
    * — pure int arithmetic, then one int/int division (exact parity). */
  def jaccard(sa: Column, sb: Column): Column = {
    val na = size(array_distinct(sa))
    val nb = size(array_distinct(sb))
    val nu = size(array_distinct(concat(sa, sb)))
    (na + nb - nu).cast("double") / nu.cast("double")
  }

  /** [[jaccard]] for inputs that are ALREADY distinct element sets
    * (collect_set outputs): |A∩B| via one codegen'd array_intersect,
    * |A∪B| = |A|+|B|−|A∩B|. The same exact integers reach the one IEEE
    * division, so results are bit-identical to [[jaccard]] on distinct
    * inputs (set identity: |A|+|B|−|A∪B| = |A∩B|) — while skipping its
    * three per-row array_distinct hash-set builds, the allocation shape
    * that burned ~500 executor-CPU-seconds in q_simjoin_prefix's old
    * verify under host memory pressure (r12 driver artifact). Callers
    * that pass possibly-duplicated arrays must stay on [[jaccard]]. */
  def jaccardDistinct(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb))
    inter.cast("double") / (size(sa) + size(sb) - inter).cast("double")
  }

  /** PPJoin-style CONTAINMENT pair generation + exact verify over one
    * distinct (doc_id, x) set frame — shared by the batch self-join
    * (queries.PipelineQueries.containmentJoinCore), the within-batch
    * half of the containment screens (batch query AND streaming
    * writer), and the scale harness. Emits every ordered pair with
    * C(a→b) = |A∩B|/|A| ≥ num/den and orientation `keep(na, nb, a, b)`
    * true (callers orient so the contained side is never the larger;
    * break size ties by id or every identical pair emits twice), as
    * (a, b, na, nb, containment), EXACT — three sound cuts run before
    * the one verify join:
    *  - prefix cut on the PROBE (contained) side only: a qualifying B
    *    shares ≥ ⌈num·na/den⌉ of A's na tokens, so by pigeonhole it
    *    hits one of A's na − ⌈num·na/den⌉ + 1 RAREST tokens (the
    *    rare-first df order is what keeps candidate fan-out bounded —
    *    any subset of that size would be correct);
    *  - positional bound: both docs rank tokens by the same global
    *    (df, x) order, so |A∩B| ≤ 1 + min(na−mi, nb−mj) at the first
    *    shared positions (mi, mj) — integer-exact, kills candidates
    *    that cannot reach ⌈num·na/den⌉;
    *  - verify: ONE codegen'd array_intersect per surviving pair,
    *    pure-integer threshold den·|A∩B| ≥ num·na.
    * `cache` wraps the shared ranked frame (both candidate-join sides
    * read it): pass a persist/registry hook when the result stays lazy
    * or feeds several actions; identity (default) is fine for
    * collect-once batch uses over already-persisted sets. */
  def containmentPairs(sets: DataFrame, num: Int, den: Int,
                       keep: (Column, Column, Column, Column) => Column,
                       cache: DataFrame => DataFrame = identity): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    import org.apache.spark.sql.expressions.Window
    val dfreq = sets.groupBy("x").agg(count(lit(1)).as("df"))
    val ranked = cache(sets.join(dfreq, "x")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "x")).cast("bigint"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .select("doc_id", "x", "rn", "n"))
    val prefA = ranked.filter(col("rn") <=
      col("n") - expr(s"(($num*n + ${den - 1}) div $den)") + 1L)
    val cand = prefA.as("pa").join(ranked.as("pb"),
        col("pa.x") === col("pb.x") &&
          keep(col("pa.n"), col("pb.n"), col("pa.doc_id"), col("pb.doc_id")))
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"),
        col("pa.n").as("na"), col("pb.n").as("nb"),
        col("pa.rn").as("i"), col("pb.rn").as("j"))
      .groupBy("a", "b", "na", "nb")
      .agg(min(col("i")).as("mi"), min(col("j")).as("mj"))
      .filter(lit(den.toLong) * (lit(1L) + least(col("na") - col("mi"),
        col("nb") - col("mj"))) >= lit(num.toLong) * col("na"))
    val full = sets.groupBy("doc_id").agg(collect_list("x").as("sh"))
    cand
      .join(full.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(full.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
      .filter(lit(den.toLong) * col("inter") >= lit(num.toLong) * col("na"))
      .withColumn("containment",
        col("inter").cast("double") / col("na").cast("double"))
      .select("a", "b", "na", "nb", "containment")
  }

  def duckJaccard(sa: String, sb: String): String = {
    val na = s"len(list_distinct($sa))"
    val nb = s"len(list_distinct($sb))"
    val nu = s"len(list_distinct(list_concat($sa, $sb)))"
    s"(CAST($na + $nb - $nu AS DOUBLE) / CAST($nu AS DOUBLE))"
  }

  // ---- SimHash ------------------------------------------------------------

  /** SimHash width in bits. Token hash = first 4 hex chars of md5 (16-bit,
    * engine-independent); bit j of the signature is the sign of
    * Σ_tokens (±1 by token-hash bit j). */
  val SimBits = 16

  /** 16-bit token hash from md5 hex (conv is case-insensitive). */
  def tokenHash16(t: Column): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast("bigint")

  def duckTokenHash16(t: String): String =
    (1 to 4).map { c =>
      val digit = s"(instr('0123456789abcdef', substr(md5($t), $c, 1)) - 1)"
      val scale = math.pow(16, 4 - c).toLong
      s"$digit * $scale"
    }.mkString("(", " + ", ")")

  /** Per-bit ±1 vote aggregations over exploded tokens (column hv). */
  def simhashVotes(hv: Column): Seq[Column] =
    (0 until SimBits).map(j =>
      sum(when(shiftright(hv, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$j"))

  def duckSimhashVotes(hv: String): Seq[String] =
    (0 until SimBits).map(j =>
      s"CAST(SUM(CASE WHEN (($hv) >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$j")

  /** Pack the vote signs into the final signature. */
  def simhashPack: Column =
    (0 until SimBits).map(j => when(col(s"v$j") > 0L, lit(1L << j)).otherwise(0L))
      .reduce(_ + _).cast("bigint")

  def duckSimhashPack: String =
    (0 until SimBits).map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Hamming distance between two signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("bigint")
  def duckHamming(a: String, b: String): String = s"CAST(bit_count(xor($a, $b)) AS BIGINT)"

  // ---- exact-substring span dedup -----------------------------------------

  /** Default window width for [[duplicatedSpans]] — the span granularity.
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", uses 50 BPE tokens over a suffix array; the operator is
    * width-agnostic and the test corpus's documents are short, so the
    * committed queries use 8 word tokens.) */
  val SpanTokens = 8

  /** EXACT-SUBSTRING dedup, detection half: every maximal token span
    * covered by length-`L` windows that occur at least twice ANYWHERE in
    * the corpus (other documents or elsewhere in the same document — the
    * paper's ExactSubstr criterion, which also catches within-doc
    * boilerplate loops). Output: (doc_id, span_start, span_end,
    * span_tokens), end exclusive, positions over the whitespace-token
    * list.
    *
    * Not a suffix array: the paper's single-machine structure doesn't
    * distribute. The equivalent corpus-wide duplicate-window relation is
    * computed relationally — positional L-gram rows (the narrow
    * WordShingles generator, no exchange), ONE hash-shuffle groupBy on
    * the gram text (map-side combine collapses hot boilerplate grams
    * before the wire), a semi-join to flag each doc's duplicated window
    * starts, and a per-doc gaps-and-islands merge of overlapping/adjacent
    * windows into maximal spans. A window-count formulation
    * (`count over (partition by g)`) would put every occurrence of one
    * boilerplate gram in ONE task — at 100 TB a single hot gram is
    * millions of rows, exactly the skew the reference's salting exists to
    * kill — whereas the groupBy side pre-aggregates and the flag join's
    * probe-side skew is AQE-splittable. The island merge partitions by
    * doc_id: per-task state is bounded by document length, never corpus
    * size. */
  def duplicatedSpans(corpus: DataFrame, L: Int = SpanTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = corpus.select(col("doc_id"),
      graft.functions.WordShingles.wordShingles(TextAnalysis.tokens(col("text")), L)
        .as(Seq("pos", "g")))
    val dup = grams.groupBy("g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2L).select("g")
    val flagged = grams.join(dup, "g")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // gaps-and-islands: a window starting at pos covers [pos, pos+L); it
    // extends the current island iff pos <= max prior end (overlap OR
    // exact adjacency — both mean one contiguous duplicated region)
    flagged
      .withColumn("__prev_end",
        max(col("pos") + L).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__prev_end").isNull || col("pos") > col("__prev_end"), 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__island")
      .agg(min("pos").as("span_start"), (max(col("pos")) + L).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .select("doc_id", "span_start", "span_end", "span_tokens")
  }

  /** EXACT-SUBSTRING dedup, removal half: cut every [[duplicatedSpans]]
    * span out of its document and re-join the surviving tokens. Output:
    * (doc_id, kept_text, n_tokens, dup_tokens, kept_tokens) for EVERY
    * corpus document (zero-span docs pass through untouched; a fully-
    * duplicated doc keeps empty text — the caller's length filter drops
    * it, matching the paper's pipeline).
    *
    * The span set rides a per-doc array (spans are disjoint and few —
    * bounded by doc_len/L), so removal is one broadcast-sized left join
    * plus a row-local indexed filter: no token-row explode, no second
    * shuffle of the corpus. The filter/exists lambdas are interpreted
    * (HOF), but over per-row arrays bounded by document length — scan
    * cost, not corpus cost. */
  def removeSpans(corpus: DataFrame, spans: DataFrame): DataFrame = {
    val spanSets = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("__spans"))
    val emptySpans = array()
      .cast("array<struct<span_start:bigint,span_end:bigint>>")
    corpus
      .withColumn("__w", TextAnalysis.tokens(col("text")))
      .join(spanSets, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"), emptySpans))
      .withColumn("__kept", filter(col("__w"), (t, i) =>
        !exists(col("__spans"), sp =>
          i >= sp.getField("span_start") && i < sp.getField("span_end"))))
      .select(
        col("doc_id"),
        array_join(col("__kept"), " ").as("kept_text"),
        size(col("__w")).cast("bigint").as("n_tokens"),
        aggregate(col("__spans"), lit(0L),
          (acc, sp) => acc + sp.getField("span_end") - sp.getField("span_start"))
          .as("dup_tokens"),
        size(col("__kept")).cast("bigint").as("kept_tokens"))
  }

  /** DuckDB twin of [[duplicatedSpans]]: CTE chain ending in
    * `spans(doc_id, span_start, span_end, span_tokens)`. Requires a
    * `corpus(doc_id, text)` CTE in scope; same tokenizer, same island
    * rule. */
  def duckDuplicatedSpans(L: Int = SpanTokens): String =
    s"""toks AS (SELECT doc_id, ${graft.pipeline.TextAnalysis.duckTokens("text")} AS w FROM corpus),
        grams AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
                    array_to_string(w[p:p+${L - 1}], ' ') AS g
                  FROM toks,
                    LATERAL unnest(generate_series(1, greatest(len(w) - ${L - 1}, 0))) AS u(p)),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        flagged AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
        marked AS (SELECT doc_id, pos,
                     max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                   FROM flagged),
        islands AS (SELECT doc_id, pos,
                      SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM marked),
        spans AS (SELECT doc_id,
                    CAST(min(pos) AS BIGINT) AS span_start,
                    CAST(max(pos) + $L AS BIGINT) AS span_end,
                    CAST(max(pos) + $L - min(pos) AS BIGINT) AS span_tokens
                  FROM islands GROUP BY doc_id, island)"""
}
