package graft.store

import graft.SparkSuite
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Persisted band index: probe parity with the in-memory probePairs,
  * shard pruning at file-listing time, append growth, meta guards. */
class BandIndexSpec extends SparkSuite {

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/idx"

  // 10-token docs, each with a unique token so sketches differ
  private def doc(i: Long) =
    s"alpha bravo charlie delta echo token$i foxtrot golf hotel india$i"

  test("probeCandidates matches the in-memory probePairs exactly") {
    import spark.implicits._
    val corpus = (0L until 50L).map(i => (i, doc(i))).toDF("doc_id", "text")
    // batch: 5 exact dups of corpus docs (ids shifted), 5 fresh
    val batch = ((0L until 5L).map(i => (1000L + i, doc(i))) ++
      (5L until 10L).map(i => (2000L + i, s"zulu yankee xray$i whiskey victor uniform tango sierra"))
      ).toDF("doc_id", "text")
    val idxSketch = Dedup.docSketch(corpus)
    val probeSketch = Dedup.docSketch(batch)
    val p = tmp("bandidx_parity")
    BandIndex.write(idxSketch, p)
    val got = BandIndex.probeCandidates(spark, p,
        Dedup.bandRows(probeSketch, "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    val want = Dedup.probePairs(Dedup.bandRows(idxSketch, "doc_id"),
        Dedup.bandRows(probeSketch, "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    // every exact dup found (J = 1 collides in every band)
    (0L until 5L).foreach(i => assert(got.contains((i, 1000L + i)), s"dup $i"))
  }

  test("probe prunes the bands scan to the batch's shards at file-listing time") {
    import spark.implicits._
    val corpus = (0L until 60L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val p = tmp("bandidx_prune")
    BandIndex.write(Dedup.docSketch(corpus), p)
    // one probe doc → at most Bands distinct signatures → ≤ Bands shards
    // (AQE off for the assertion: the adaptive wrapper hides the scan
    // node from a pre-execution collect; the listing itself is
    // AQE-independent — static partition filters prune at plan time)
    val one = Seq((999L, doc(7))).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scan = try {
      val q = BandIndex.probeCandidates(spark, p,
        Dedup.bandRows(Dedup.docSketch(one), "doc_id"), "doc_id")
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // the probe read now prunes at LISTING CONSTRUCTION, stronger than a
    // partition filter: only the probed shard dirs are ever enumerated
    // (readPartitions — the O(probe) listing), so the scan's file index
    // contains nothing but probed shards
    // the probe now reads through the MANIFEST index (listing-free) and
    // its file set is confined to the probed sig-shards — strictly
    // stronger than the old rootPaths assertion
    assert(scan.relation.location.isInstanceOf[ManifestFileIndex],
      "probe scan fell back to a listing file index")
    val surviving = scan.relation.location.inputFiles
      .map(f => new java.io.File(f).getParentFile.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt).distinct.sorted
    val total = new java.io.File(s"$p/bands").list().count(_.startsWith("shard="))
    assert(surviving.nonEmpty, "scan must read the probed shards' files")
    assert(surviving.length <= Dedup.Bands,
      s"probe must touch <= ${Dedup.Bands} shards, got ${surviving.toSeq}")
    assert(surviving.length < total,
      s"pruning must drop shards ($total present, ${surviving.length} survive)")
  }

  test("append grows the index; probes see appended docs; meta guards layout") {
    import spark.implicits._
    val p = tmp("bandidx_append")
    // append before write refuses
    val first = (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      BandIndex.append(Dedup.docSketch(first), p)
    }
    BandIndex.write(Dedup.docSketch(first), p)
    val second = (30L until 50L).map(i => (i, doc(i))).toDF("doc_id", "text")
    BandIndex.append(Dedup.docSketch(second), p)
    assert(BandIndex.sketches(spark, p).count() === 50L)
    // an exact dup of an APPENDED doc is found through the grown layout
    val probe = Seq((5000L, doc(42))).toDF("doc_id", "text")
    val got = BandIndex.probeCandidates(spark, p,
        Dedup.bandRows(Dedup.docSketch(probe), "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(got.contains((42L, 5000L)), s"got $got")
  }

  test("sketchesFor reads only the candidate shards, same live-visibility as sketches") {
    import spark.implicits._
    val p = tmp("bandidx_sketchfor")
    BandIndex.write(Dedup.docSketch(
      (0L until 50L).map(i => (i, doc(i))).toDF("doc_id", "text")), p,
      nShards = 16)
    BandIndex.delete(spark, p, Seq(7L, 13L))
    val want = Seq(5L, 7L, 13L, 42L).toDF("a")
    val got = BandIndex.sketchesFor(spark, p, want)
      .select("doc_id").as[Long].collect().toSet
    // every LIVE requested id is readable (its shard was constructed)…
    assert(got.contains(5L) && got.contains(42L))
    // …tombstones apply exactly as in the full read…
    assert(!got.contains(7L) && !got.contains(13L))
    // …and the read is genuinely pruned: only the 4 candidate shards'
    // resident docs appear, not the whole corpus
    val candShards = Seq(5L, 7L, 13L, 42L)
      .map(i => java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
          .hash(i, org.apache.spark.sql.types.LongType, 42L).toInt, 16)).toSet
    assert(got.forall(i => candShards.contains(java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(i, org.apache.spark.sql.types.LongType, 42L).toInt, 16))))
    assert(got.size < 50)
  }

  test("shardOfId is bit-identical to the layout's pmod(hash(doc_id), n) for every n") {
    import spark.implicits._
    val ids = (-5L until 50L).toSeq ++ Seq(Long.MaxValue, Long.MinValue, 0L)
    for (n <- Seq(1, 7, 16, 64, 6400)) {
      val want = ids.toDF("doc_id")
        .select(col("doc_id"), pmod(hash(col("doc_id")), lit(n)).as("s"))
        .as[(Long, Int)].collect().toMap
      ids.foreach(i => assert(BandIndex.shardOfId(i, n) === want(i).toLong,
        s"id=$i n=$n"))
    }
  }

  test("sketchesForIds equals sketchesFor on the same candidate set") {
    import spark.implicits._
    val p = tmp("bandidx_sketchforids")
    BandIndex.write(Dedup.docSketch(
      (0L until 50L).map(i => (i, doc(i))).toDF("doc_id", "text")), p,
      nShards = 16)
    BandIndex.delete(spark, p, Seq(7L))
    val ids = Seq(5L, 7L, 42L)
    val viaDf = BandIndex.sketchesFor(spark, p, ids.toDF("a"))
      .select("doc_id").as[Long].collect().toSet
    val viaSeq = BandIndex.sketchesForIds(spark, p, ids)
      .select("doc_id").as[Long].collect().toSet
    assert(viaSeq === viaDf)
    assert(viaSeq.contains(5L) && !viaSeq.contains(7L))
  }

  test("deltaAdvisory reports unfolded segments; needsCompaction keys on them") {
    import spark.implicits._
    val p = tmp("bandidx_advisory")
    BandIndex.write(Dedup.docSketch(
      (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    assert(BandIndex.deltaAdvisory(spark, p) == (0L, 0L))
    (0 until 2).foreach { b =>
      BandIndex.append(Dedup.docSketch(Seq((1000L + b, doc(90L + b)))
        .toDF("doc_id", "text")), p)
    }
    val (segs, bytes) = BandIndex.deltaAdvisory(spark, p)
    assert(segs == 2L && bytes > 0L, s"advisory: ($segs, $bytes)")
    assert(BandIndex.needsCompaction(spark, p, maxSegments = 1))
    BandIndex.compact(spark, p)
    assert(BandIndex.deltaAdvisory(spark, p) == (0L, 0L))
  }

  test("empty candidate/probe sets short-circuit — no full-table slowPath read") {
    import spark.implicits._
    val p = tmp("bandidx_empty")
    BandIndex.write(Dedup.docSketch(
      (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    // empty ids: an empty frame with the sketch schema, zero scan jobs
    val sk = BandIndex.sketchesForIds(spark, p, Seq.empty)
    assert(sk.columns.toSeq === Seq("doc_id", "sh"))
    assert(sk.count() === 0L)
    assert(BandIndex.sketchesFor(spark, p,
      Seq.empty[Long].toDF("a")).count() === 0L)
    // the empty frames must be LEAVES (LocalRelation), never a parquet
    // scan of the store — the slowPath fallback this guard removes
    assert(!sk.queryExecution.optimizedPlan.toString.contains("Relation ["),
      "empty-candidate read still plans a file scan")
    // empty probe bands: empty candidates, no file scan of the bands
    val emptyBands = Dedup.bandRows(
      Dedup.docSketch(Seq.empty[(Long, String)].toDF("doc_id", "text")), "doc_id")
    val cand = BandIndex.probeCandidates(spark, p, emptyBands, "doc_id")
    assert(cand.count() === 0L)
    assert(cand.columns.toSeq === Seq("a", "b"))
  }

  test("append publishes ONE 2-file delta segment; compact folds it; answers identical") {
    import spark.implicits._
    val p = tmp("bandidx_delta")
    BandIndex.write(Dedup.docSketch(
      (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    BandIndex.append(Dedup.docSketch(
      (30L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    val segs = new java.io.File(s"$p/delta").listFiles()
      .filter(_.getName.startsWith("seg_"))
    assert(segs.length === 1, s"expected one segment, got ${segs.toSeq}")
    Seq("sketches", "bands").foreach { layer =>
      val files = new java.io.File(segs(0), layer).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"$layer: ${files.toSeq}")
    }
    // probes see delta docs; sketches (full + pruned) see them too
    def candidates = {
      val probe = Seq((5000L, doc(35))).toDF("doc_id", "text")
      BandIndex.probeCandidates(spark, p,
          Dedup.bandRows(Dedup.docSketch(probe), "doc_id"), "doc_id")
        .as[(Long, Long)].collect().toSet
    }
    val preFold = candidates
    assert(preFold.contains((35L, 5000L)), s"delta doc not probed: $preFold")
    assert(BandIndex.sketches(spark, p).count() === 40L)
    assert(BandIndex.sketchesFor(spark, p, Seq(35L).toDF("a"))
      .filter(col("doc_id") === 35L).count() === 1L)
    // compact folds the segment into the sharded base, answers unchanged.
    // The segment is MARKED folded, not deleted (probe-atomicity —
    // FoldAtomicSpec); no live segment remains, and the NEXT
    // maintenance op reclaims the debris.
    BandIndex.compact(spark, p)
    val deltaDir = new org.apache.hadoop.fs.Path(p, "delta")
    val dfs = deltaDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(DeltaSegments.liveSegs(dfs, deltaDir).isEmpty,
      "a live segment survived the fold")
    assert(candidates === preFold)
    assert(BandIndex.sketches(spark, p).count() === 40L)
    BandIndex.compact(spark, p) // next maintenance op: debris reclaimed
    assert(!new java.io.File(s"$p/delta").exists(), "folded debris survived reclaim")
    assert(candidates === preFold)
  }

  test("probe during APPEND sees a verifiable generation (sketches-first ordering)") {
    import spark.implicits._
    // The mid-append snapshot a probe can observe under the write-order
    // contract (sketches commit BEFORE bands): batch sketches visible,
    // batch bands not. Plant that state deterministically: build
    // idx(A) and idx(A∪B), then assemble a hybrid with idx(A)'s bands
    // and idx(A∪B)'s sketches.
    val corpusA = (0L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val batchB = (0L until 5L).map(i => (3000L + i, doc(100L + i))).toDF("doc_id", "text")
    val probe = (0L until 8L).map(i => (9000L + i, doc(i))).toDF("doc_id", "text")
    val pA = tmp("iso_a"); val pAB = tmp("iso_ab"); val pHy = tmp("iso_hybrid")
    BandIndex.write(Dedup.docSketch(corpusA), pA)
    BandIndex.write(Dedup.docSketch(corpusA.union(batchB)), pAB)
    val hy = new java.io.File(pHy); hy.mkdirs()
    def cp(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
      java.nio.file.Files.walk(s).forEach { f =>
        val t = d.resolve(s.relativize(f))
        if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(f, t)
      }
    }
    cp(s"$pA/bands", s"$pHy/bands")
    cp(s"$pAB/sketches", s"$pHy/sketches")
    cp(s"$pA/${BandIndex.MetaFile}", s"$pHy/${BandIndex.MetaFile}")
    val probeBands = Dedup.bandRows(Dedup.docSketch(probe), "doc_id")
    val candHy = BandIndex.probeCandidates(spark, pHy, probeBands, "doc_id")
      .as[(Long, Long)].collect().toSet
    val candA = BandIndex.probeCandidates(spark, pA, probeBands, "doc_id")
      .as[(Long, Long)].collect().toSet
    // one generation: the probe sees exactly the old bands' candidates
    assert(candHy === candA)
    // and EVERY candidate is verifiable in the SAME snapshot — no
    // candidate references a doc whose sketch hasn't committed
    val sk = BandIndex.sketches(spark, pHy).select("doc_id").as[Long].collect().toSet
    assert(candHy.map(_._1).forall(sk), "every candidate index doc has a sketch")
    // the REVERSE ordering's observable state (new bands, old sketches)
    // is exactly what the contract forbids: it would generate batch-B
    // candidates with no sketch to verify against
    val pRev = tmp("iso_reverse"); new java.io.File(pRev).mkdirs()
    cp(s"$pAB/bands", s"$pRev/bands")
    cp(s"$pA/sketches", s"$pRev/sketches")
    cp(s"$pA/${BandIndex.MetaFile}", s"$pRev/${BandIndex.MetaFile}")
    val probeB = Dedup.bandRows(Dedup.docSketch(
      Seq((9500L, doc(100L))).toDF("doc_id", "text")), "doc_id")
    val candRev = BandIndex.probeCandidates(spark, pRev, probeB, "doc_id")
      .as[(Long, Long)].collect().toSet
    val skRev = BandIndex.sketches(spark, pRev).select("doc_id").as[Long].collect().toSet
    assert(candRev.exists(c => !skRev(c._1)),
      "reverse ordering really does strand unverifiable candidates — " +
        "the sketches-first contract is load-bearing")
  }

  test("probe during a crashed/in-flight COMPACT still reads one full generation") {
    import spark.implicits._
    val corpus = (0L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val probe = (0L until 8L).map(i => (9000L + i, doc(i))).toDF("doc_id", "text")
    val p = tmp("iso_compact")
    BandIndex.write(Dedup.docSketch(corpus), p)
    val probeBands = Dedup.bandRows(Dedup.docSketch(probe), "doc_id")
    val before = BandIndex.probeCandidates(spark, p, probeBands, "doc_id")
      .as[(Long, Long)].collect().toSet
    // freeze a compact mid-swap on the bands layout: one probed shard
    // parked as .old_, marker standing — the probe must fall back to
    // the recovering read and still see the complete generation
    val root = new org.apache.hadoop.fs.Path(s"$p/bands")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val firstShard = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("shard=")).sorted.head
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, firstShard),
      new org.apache.hadoop.fs.Path(root, s".old_$firstShard")))
    val m = fs.create(new org.apache.hadoop.fs.Path(root,
      SaltedStore.CompactingMarker), true)
    m.writeUTF(firstShard); m.close()
    spark.conf.set("spark.graft.compact.waitMs", "0")
    try {
      val during = BandIndex.probeCandidates(spark, p, probeBands, "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(during === before, "mid-compact probe must see one full generation")
    } finally {
      spark.conf.unset("spark.graft.compact.waitMs")
      assert(fs.rename(new org.apache.hadoop.fs.Path(root, s".old_$firstShard"),
        new org.apache.hadoop.fs.Path(root, firstShard)))
      fs.delete(new org.apache.hadoop.fs.Path(root, SaltedStore.CompactingMarker), false)
    }
  }

  test("delete hides a doc immediately; compact folds tombstones and small files") {
    import spark.implicits._
    val p = tmp("bandidx_compact")
    BandIndex.write(Dedup.docSketch(
      (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    BandIndex.append(Dedup.docSketch(
      (30L until 60L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    val probe = Dedup.bandRows(Dedup.docSketch(
      Seq((7000L, doc(3)), (7001L, doc(45))).toDF("doc_id", "text")), "doc_id")
    def probeNow() = BandIndex.probeCandidates(spark, p, probe, "doc_id")
      .as[(Long, Long)].collect().toSet
    val before = probeNow()
    assert(before.contains((3L, 7000L)) && before.contains((45L, 7001L)))
    // tombstone doc 3: every probe and the sketches view hide it NOW
    BandIndex.delete(spark, p, Seq(3L))
    val afterDel = probeNow()
    assert(!afterDel.exists(_._1 == 3L), s"tombstoned doc still probed: $afterDel")
    assert(afterDel.contains((45L, 7001L)))
    assert(BandIndex.sketches(spark, p).filter(col("doc_id") === 3L).count() === 0)
    // compact: folds the tombstone physically (both sharded layouts ride
    // SaltedStore.compact's marker-guarded swap), coalesces per-batch
    // small files, clears the markers; probe semantics unchanged
    BandIndex.compact(spark, p)
    for (dir <- Seq("bands", "sketches")) {
      val shards = new java.io.File(s"$p/$dir").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      assert(shards.nonEmpty, dir)
      shards.foreach { s =>
        val files = s.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length === 1, s"$dir/${s.getName}: ${files.length} files")
      }
    }
    assert(!new java.io.File(s"$p/_deletes").exists, "tombstones must clear")
    assert(spark.read.parquet(s"$p/bands").filter(col("doc_id") === 3L).count() === 0,
      "folded rows must be physically gone")
    assert(probeNow() === afterDel)
    assert(BandIndex.sketches(spark, p).count() === 59)
  }

  test("write(overwrite) clears stale tombstones from the replaced generation") {
    import spark.implicits._
    val p = tmp("bandidx_staletomb")
    val corpus = (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    BandIndex.write(Dedup.docSketch(corpus), p)
    BandIndex.delete(spark, p, Seq(3L))
    // full rebuild (corrected source, reused ids): the old generation's
    // tombstone must not hide the NEW generation's doc 3
    BandIndex.write(Dedup.docSketch(corpus), p)
    val probe = Dedup.bandRows(Dedup.docSketch(
      Seq((7000L, doc(3))).toDF("doc_id", "text")), "doc_id")
    val got = BandIndex.probeCandidates(spark, p, probe, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(got.contains((3L, 7000L)),
      "stale tombstone from the replaced generation hid doc 3")
  }

  test("a FAILED rebuild keeps the old generation's tombstones live (purge-last ordering)") {
    import spark.implicits._
    val p = tmp("bandidx_failtomb")
    val corpus = (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    BandIndex.write(Dedup.docSketch(corpus), p)
    BandIndex.delete(spark, p, Seq(3L))
    def hits() = BandIndex.probeCandidates(spark, p,
        Dedup.bandRows(Dedup.docSketch(
          Seq((7000L, doc(3))).toDF("doc_id", "text")), "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(!hits().contains((3L, 7000L)))
    // a rebuild that dies before its layouts commit (malformed sketch —
    // no sh column — fails at analysis, before any file IO): the old
    // index stays live and doc 3's tombstone must STAY with it
    intercept[Throwable] {
      BandIndex.write(corpus.select(col("doc_id")), p)
    }
    assert(!hits().contains((3L, 7000L)),
      "failed rebuild resurrected a tombstoned doc — purge ran before the layouts committed")
  }

  test("write refuses a standing streaming commit log (resume-skip data loss)") {
    import spark.implicits._
    val p = tmp("bandidx_commitlog")
    val corpus = (0L until 10L).map(i => (i, doc(i))).toDF("doc_id", "text")
    BandIndex.write(Dedup.docSketch(corpus), p)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val log = new org.apache.hadoop.fs.Path(p, "_graft_commits/q0")
    fs.mkdirs(log)
    fs.create(new org.apache.hadoop.fs.Path(log, "0"), true).close()
    val e = intercept[IllegalArgumentException] {
      BandIndex.write(Dedup.docSketch(corpus), p)
    }
    assert(e.getMessage.contains("_graft_commits"))
    fs.delete(new org.apache.hadoop.fs.Path(p, "_graft_commits"), true)
    BandIndex.write(Dedup.docSketch(corpus), p)
    assert(BandIndex.storedShards(spark, p).nonEmpty)
  }
}
