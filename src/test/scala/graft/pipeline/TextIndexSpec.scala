package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Persisted inverted text index: sharded layout, static partition
  * pruning on probe, manifest-guarded shard contract, idempotent build. */
class TextIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog ate the bone of the day"),
    (3L, "cat and dog and bird"),
    (4L, "of mice and men"),
    (5L, "completely unrelated words here")).toDF("doc_id", "text")

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("tindex").toString
    TextIndex.write(docs, d)
    d
  }

  test("layout: shard=N partitions, manifest written after data") {
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("shard=")))
    assert(names.contains(TextIndex.ManifestFile))
    assert(TextIndex.storedShards(spark, dir).contains(TextIndex.DefaultShards))
  }

  test("conjunctive search matches a direct computation") {
    val got = TextIndex.searchAll(spark, dir, Seq("the", "of"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // docs containing BOTH: 2 ("the"×3 + "of"×1 = 4); doc 1 has no "of"
    assert(got == Seq((2L, 4L)))
    val single = TextIndex.searchAll(spark, dir, Seq("cat"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(single == Seq((1L, 1L), (3L, 1L)))
  }

  test("boolean search: mustNot excludes via postings, empty mustNot = searchAll") {
    // cat docs: 1, 3; "dog" excludes 3 → only 1 survives
    val got = TextIndex.searchBoolean(spark, dir,
        must = Seq("cat"), mustNot = Seq("dog"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L)))
    // excluding a term absent from every doc changes nothing
    val noop = TextIndex.searchBoolean(spark, dir,
        must = Seq("cat"), mustNot = Seq("zebra"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(noop == Seq((1L, 1L), (3L, 1L)))
    // empty mustNot is exactly searchAll
    val all = TextIndex.searchBoolean(spark, dir, Seq("cat"), Nil)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(all == Seq((1L, 1L), (3L, 1L)))
  }

  test("ranked boolean: ALL-match scoring minus exclusions, one probe, shard-pruned") {
    // cat docs: 1, 3; "dog" excludes 3 → doc 1 survives, scored
    val got = TextIndex.searchBooleanRanked(spark, dir,
        must = Seq("cat"), mustNot = Seq("dog"))
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L))
    // the score is the SAME BM25-lite arithmetic as searchRanked —
    // for a doc matching all must terms the two probes agree exactly
    val ranked = TextIndex.searchRanked(spark, dir, Seq("cat"))
      .filter(col("doc_id") === 1L).as[(Long, Double)].collect().head
    assert(got.head._2 === ranked._2)
    // ALL semantics: a doc missing one must term scores nowhere
    val strict = TextIndex.searchBooleanRanked(spark, dir,
        must = Seq("cat", "dog"), mustNot = Nil)
      .as[(Long, Double)].collect().toSeq
    assert(strict.map(_._1) == Seq(3L), s"only doc 3 has cat AND dog: $strict")
    // file listing prunes to the probed terms' shards on BOTH sides
    val q = TextIndex.searchBooleanRanked(spark, dir, Seq("cat"), Seq("dog"))
    // sparkPlan, not executedPlan: this query aggregates, so AQE wraps
    // it and the adaptive tree exposes no scan nodes until execution
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val want = Set("cat", "dog")
      .map(t => TextIndex.shardOfTerm(t, TextIndex.DefaultShards))
    scans.foreach { s =>
      val surviving = s.relation.location
        .listFiles(s.partitionFilters, s.dataFilters)
        .map(_.values.getInt(0)).toSet
      assert(surviving.subsetOf(want.map(_.toInt)),
        s"scan read shards $surviving beyond the probed terms' $want")
    }
  }

  test("termDf: live per-term doc counts, absent terms yield no row") {
    val got = TextIndex.termDf(spark, dir, Seq("cat", "the", "zebra"))
      .orderBy("t").as[(String, Long)].collect().toSeq
    assert(got == Seq(("cat", 2L), ("the", 2L)))
  }

  test("moreLikeThis selects the rarest source terms, source doc ranks first") {
    // doc 1 terms: the(df2) cat(df2) sat(1) on(1) mat(1)
    val src = Seq("the", "cat", "sat", "on", "mat")
    // 3 rarest = mat/on/sat, all unique to doc 1 → only doc 1 scores
    val top3 = TextIndex.moreLikeThis(spark, dir, src, nTerms = 3)
      .as[(Long, Double)].collect().toSeq
    assert(top3.map(_._1) == Seq(1L))
    // 4th term by (df, t) is cat (beats "the" on the tie) → doc 3 joins,
    // and the source doc outranks it (matches all four query terms)
    val top4 = TextIndex.moreLikeThis(spark, dir, src, nTerms = 4)
      .orderBy(col("score").desc, col("doc_id"))
      .as[(Long, Double)].collect().toSeq
    assert(top4.map(_._1) == Seq(1L, 3L), s"got $top4")
    assert(top4.head._2 > top4(1)._2)
    // no source term in the index at all → a clear error, not NaNs
    val err = intercept[IllegalArgumentException] {
      TextIndex.moreLikeThis(spark, dir, Seq("zebra"), nTerms = 2)
    }
    assert(err.getMessage.contains("none of the source terms"))
  }

  test("probe prunes to the probed term shards at LISTING construction") {
    val shard = TextIndex.shardOfTerm("cat", TextIndex.DefaultShards)
    // the probe read enumerates ONLY the probed shard dirs
    // (SaltedStore.readPartitions): listing cost is O(probed terms),
    // not O(shards) — the scan's file index roots prove it (AQE off:
    // the adaptive wrapper hides the scan from a pre-execution collect)
    // since r18 the file set comes off the persisted FILE MANIFEST
    // (ManifestFileIndex — zero exists/list calls at any shard count,
    // stronger than the constructed-dir listing this test originally
    // pinned), so the proof moved from rootPaths to the file set itself
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val roots = try {
      TextIndex.searchAll(spark, dir, Seq("cat"))
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            assert(f.relation.location.isInstanceOf[graft.store.ManifestFileIndex],
              s"text probe scan built a listing file index")
            f.relation.location.inputFiles
              .flatMap(_.split('/').find(_.startsWith("shard="))).toSeq
        }.flatten.distinct
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(roots == Seq(s"shard=$shard"),
      s"scan must cover exactly the probed shard, got $roots")
    // the shard column arithmetic agrees between driver and executors
    val stored = spark.read.parquet(dir).filter(col("t") === "cat")
      .select("shard").distinct().as[Int].collect().toSeq
    assert(stored == Seq(shard.toInt))
  }

  test("proximity probe prunes to the query terms' shards, in-shard term filter pushed") {
    val expected = Seq("cat", "dog")
      .map(t => TextIndex.shardOfTerm(t, TextIndex.DefaultShards))
      .distinct.map(s => s"shard=$s").sorted
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val roots = try {
      TextIndex.searchProximity(spark, dir, Seq("cat", "dog"), 2)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles
              .flatMap(_.split('/').find(_.startsWith("shard="))).toSeq
        }.flatten.distinct.sorted
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(roots == expected,
      s"scan must cover exactly the probed shards $expected, got $roots")
    val p = TextIndex.searchProximity(spark, dir, Seq("cat", "dog"), 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("In(t, [cat,dog])") || p.contains("In(t, [dog,cat])"),
      s"term filter not pushed to the postings scan:\n$p")
  }

  test("streaming append: disjoint batches accumulate, replays skip, compact preserves") {
    val d3 = java.nio.file.Files.createTempDirectory("tindex3").toString
    val b0 = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha beta beta")).toDF("doc_id", "text")
    graft.streaming.StreamingIngest.writeTextBatchIdempotent(b0, 0L, d3, "t")
    graft.streaming.StreamingIngest.writeTextBatchIdempotent(b1, 1L, d3, "t")
    def hits = TextIndex.searchAll(spark, d3, Seq("alpha", "beta"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(hits == Seq((1L, 2L), (3L, 3L)))
    // replayed batch (same id) must be a no-op, not a double append
    graft.streaming.StreamingIngest.writeTextBatchIdempotent(b1, 1L, d3, "t")
    assert(hits == Seq((1L, 2L), (3L, 3L)))
    // appended batches land as atomic DELTA SEGMENTS now (one file
    // commit per batch, not one per touched shard); the accumulation
    // signal compactIfNeeded keys on moved with them — segments, since
    // shard dirs no longer grow between compactions
    val (nSegs, segBytes) = TextIndex.deltaAdvisory(spark, d3)
    assert(nSegs == 1L && segBytes > 0L,
      s"expected 1 published delta segment, got $nSegs")
    // compaction folds the segments, results unchanged; the need-check
    // fires on accumulated segments and goes quiet once folded (the
    // maintenance-loop contract)
    assert(TextIndex.compactIfNeeded(spark, d3, maxDeltaSegments = 0),
      "published delta segments must trigger compaction")
    assert(!TextIndex.compactIfNeeded(spark, d3, maxDeltaSegments = 0),
      "a folded index must not re-compact")
    assert(hits == Seq((1L, 2L), (3L, 3L)))
    assert(TextIndex.deltaAdvisory(spark, d3) == (0L, 0L))
    assert(new java.io.File(d3).listFiles().map(_.getName)
      .count(_.startsWith("shard=")) > 0)
    // the grown-then-compacted index answers exactly like a one-shot
    // index of the same docs — the continuous-ingest consistency claim
    val dOne = java.nio.file.Files.createTempDirectory("tindex1shot").toString
    TextIndex.write(
      Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha beta beta"))
        .toDF("doc_id", "text"), dOne)
    val oneShot = TextIndex.searchAll(spark, dOne, Seq("alpha", "beta"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(hits == oneShot)
    assert(TextIndex.storedDocs(spark, d3) == TextIndex.storedDocs(spark, dOne))
    assert(TextIndex.storedTokens(spark, d3) == TextIndex.storedTokens(spark, dOne))
  }

  test("phrase search verifies adjacency from positions alone") {
    // "the cat": doc 1 only (doc 3 has cat but not preceded by the)
    val got = TextIndex.searchPhrase(spark, dir, Seq("the", "cat"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1)))
    // both terms present but never adjacent: no hit
    assert(TextIndex.searchPhrase(spark, dir, Seq("cat", "mat")).count() == 0)
    // single-term phrase degenerates to tf
    val one = TextIndex.searchPhrase(spark, dir, Seq("the"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(one == Seq((1L, 2), (2L, 3)))
  }

  test("proximity search counts slop-window anchors from positions alone") {
    // docs fixture positions (0-based per doc):
    //   doc1: the(0,4) cat(1) sat(2) on(3) mat(5)
    //   doc2: the(0,3,6) dog(1) ate(2) bone(4) of(5) day(7)
    //   doc3: cat(0) and(1,3) dog(2) bird(4)
    // ("cat","dog") slop 2: doc3 only — |2−0| = 2 ≤ 2, one cat anchor
    val s2 = TextIndex.searchProximity(spark, dir, Seq("cat", "dog"), slop = 2)
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(s2 == Seq((3L, 1)))
    // ("cat","mat") never adjacent but within 4: doc1, anchor cat@1, mat@5
    assert(TextIndex.searchProximity(spark, dir, Seq("cat", "mat"), 3).count() == 0)
    val s4 = TextIndex.searchProximity(spark, dir, Seq("cat", "mat"), 4)
      .as[(Long, Int)].collect().toSeq
    assert(s4 == Seq((1L, 1)))
    // three terms, every companion must be inside the window of the SAME
    // anchor: ("the","bone","day") slop 3 in doc2 → anchors the@3 (bone
    // 1 away, day 4 away? |7−3|=4 > 3 ✗), the@6 (bone 2, day 1 ✓),
    // the@0 (bone 4 ✗) → exactly one anchor
    val s3 = TextIndex.searchProximity(spark, dir, Seq("the", "bone", "day"), 3)
      .as[(Long, Int)].collect().toSeq
    assert(s3 == Seq((2L, 1)))
    // anchor multiplicity: ("the","dog") slop 3 in doc2 → anchors
    // the@0 (dog@1 ✓), the@3 (✓), the@6 (|1−6|=5 ✗) → n_prox 2
    val sm = TextIndex.searchProximity(spark, dir, Seq("the", "dog"), 3)
      .as[(Long, Int)].collect().toSeq
    assert(sm == Seq((2L, 2)))
    // a term absent from the index yields no hits, not an error
    assert(TextIndex.searchProximity(spark, dir, Seq("cat", "zebra"), 9).count() == 0)
    // contract guards
    intercept[IllegalArgumentException](
      TextIndex.searchProximity(spark, dir, Seq("cat"), 2))
    intercept[IllegalArgumentException](
      TextIndex.searchProximity(spark, dir, Seq("cat", "dog"), 0))
  }

  test("phrase search handles repeated terms and multiple occurrences") {
    val d6 = java.nio.file.Files.createTempDirectory("tindex6").toString
    TextIndex.write(Seq(
      (1L, "cat and dog and bird"),
      (2L, "and dog and dog and"),
      (3L, "dog and cat")).toDF("doc_id", "text"), d6, shards = 3)
    // repeated-term phrase "and dog and": doc1 @1, doc2 @0 and @2
    val got = TextIndex.searchPhrase(spark, d6, Seq("and", "dog", "and"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1), (2L, 2)))
  }

  test("prefix search: df/tf per matching term, StartsWith pushed to the scan") {
    val got = TextIndex.searchPrefix(spark, dir, "d")
      .orderBy("t").as[(String, Long, Long)].collect().toSeq
    // "day" (doc 2), "dog" (docs 2, 3)
    assert(got == Seq(("day", 1L, 1L), ("dog", 2L, 2L)))
    val p = TextIndex.searchPrefix(spark, dir, "d").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("StartsWith"), s"StartsWith must reach the scan:\n$p")
  }

  test("BM25 b-term: shorter doc outranks longer doc at equal tf") {
    val dB = java.nio.file.Files.createTempDirectory("tindexB").toString
    TextIndex.write(Seq(
      (1L, "cat sat"),
      (2L, "cat plus many many more filler tokens stretching this document out")
    ).toDF("doc_id", "text"), dB, shards = 3)
    // without length normalization both docs tie on tf=1
    val flat = TextIndex.searchRanked(spark, dB, Seq("cat"))
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    assert(flat(0)._2 == flat(1)._2, s"b=0 must ignore length: $flat")
    // with b=0.75 the short doc scores strictly higher
    val bm = TextIndex.searchRanked(spark, dB, Seq("cat"), b = 0.75)
      .orderBy("doc_id").as[(Long, Double)].collect().toMap
    assert(bm(1L) > bm(2L), s"length norm must favor the short doc: $bm")
    // manifest carries the corpus totals avgdl derives from
    assert(TextIndex.storedDocs(spark, dB).contains(2L))
    assert(TextIndex.storedTokens(spark, dB).contains(13L))
  }

  test("probe adapts to a non-default stored shard count") {
    // the shard count is a stored layout parameter (the reference's
    // serialized-params contract): the same corpus indexed with 5 shards
    // must answer every query identically — probes read the count from
    // the manifest and re-derive their pruning arithmetic from it
    val d5 = java.nio.file.Files.createTempDirectory("tindex5").toString
    TextIndex.write(docs, d5, shards = 5)
    assert(TextIndex.storedShards(spark, d5).contains(5))
    val got = TextIndex.searchAll(spark, d5, Seq("the", "of"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 4L)))
    // and the layout really is 5-sharded (not default-sharded)
    val shardDirs = new java.io.File(d5).listFiles()
      .map(_.getName).filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt)
    assert(shardDirs.forall(s => s >= 0 && s < 5))
    // ranked search adapts through the same manifest read
    val ranked = TextIndex.searchRanked(spark, d5, Seq("cat"))
      .orderBy(col("score").desc, col("doc_id"))
    assert(ranked.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("append adopts the stored shard count, ignoring the writer default") {
    val dA = java.nio.file.Files.createTempDirectory("tindexA").toString
    TextIndex.write(Seq((1L, "alpha beta")).toDF("doc_id", "text"), dA, shards = 3)
    // append WITHOUT passing shards — must adopt 3, not DefaultShards
    TextIndex.write(Seq((2L, "alpha gamma")).toDF("doc_id", "text"), dA, mode = "append")
    assert(TextIndex.storedShards(spark, dA).contains(3))
    assert(TextIndex.storedDocs(spark, dA).contains(2L))
    val got = TextIndex.searchAll(spark, dA, Seq("alpha"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L)))
  }

  test("delete tombstones immediately, compaction folds physically") {
    val dD = java.nio.file.Files.createTempDirectory("tindexD").toString
    TextIndex.write(docs, dD, shards = 3)
    TextIndex.delete(spark, dD, Seq(1L, 3L))
    // every probe excludes the docs BEFORE any compaction
    assert(TextIndex.searchAll(spark, dD, Seq("cat"))
      .select("doc_id").as[Long].collect().isEmpty) // cat was in 1 and 3
    assert(TextIndex.searchRanked(spark, dD, Seq("the"))
      .select("doc_id").as[Long].collect().toSet == Set(2L)) // 1 deleted
    assert(TextIndex.searchPhrase(spark, dD, Seq("the", "cat")).count() == 0)
    // prefix c: "cat" (docs 1, 3 — deleted) and "completely" (doc 5)
    assert(TextIndex.searchPrefix(spark, dD, "c")
      .select("t").as[String].collect().toSeq == Seq("completely"))
    assert(TextIndex.hasPendingDeletes(spark, dD))
    // the maintenance gate fires on pending deletes, folds, clears, and
    // refreshes the manifest from the surviving docs
    assert(TextIndex.compactIfNeeded(spark, dD, maxFilesPerShard = 64))
    assert(!TextIndex.hasPendingDeletes(spark, dD))
    assert(!TextIndex.compactIfNeeded(spark, dD, maxFilesPerShard = 64))
    // physical: the postings rows are gone, not just masked
    assert(spark.read.parquet(dD).filter(col("doc_id").isin(1L, 3L)).count() == 0)
    // manifest: docs 2, 4, 5 with 8 + 4 + 4 = 16 tokens
    assert(TextIndex.storedDocs(spark, dD).contains(3L))
    assert(TextIndex.storedTokens(spark, dD).contains(16L))
    // results unchanged after the fold
    assert(TextIndex.searchAll(spark, dD, Seq("cat")).count() == 0)
  }

  test("ranking a fully-tombstoned index fails loudly, not NaN") {
    val dT = java.nio.file.Files.createTempDirectory("tindexT").toString
    TextIndex.write(docs, dT, shards = 2)
    TextIndex.delete(spark, dT,
      docs.select("doc_id").as[Long].collect().toSeq)
    // n = 0 live docs: avgdl/idf would divide to NaN/Infinity scores —
    // the probe must say WHY instead (and compaction must restore a
    // usable, honestly-empty index)
    val e = intercept[IllegalStateException] {
      TextIndex.searchRanked(spark, dT, Seq("the")).collect()
    }
    assert(e.getMessage.contains("compact"), s"unhelpful failure: ${e.getMessage}")
  }

  test("update replaces a doc; plain append of a deleted doc refuses") {
    val dU = java.nio.file.Files.createTempDirectory("tindexU").toString
    TextIndex.write(docs, dU, shards = 3)
    // plain append of a tombstoned doc is ambiguous — must refuse
    TextIndex.delete(spark, dU, Seq(1L))
    val e = intercept[IllegalStateException] {
      TextIndex.write(Seq((1L, "totally new text")).toDF("doc_id", "text"),
        dU, mode = "append")
    }
    assert(e.getMessage.contains("update"))
    // update = delete → fold → append: only the new content remains
    TextIndex.update(Seq((1L, "falcon flies at night")).toDF("doc_id", "text"), dU)
    assert(TextIndex.searchAll(spark, dU, Seq("falcon"))
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // doc 1's old content is gone; "cat" survives only in untouched doc 3
    assert(TextIndex.searchAll(spark, dU, Seq("cat"))
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
    // manifest reflects the replacement: still 5 docs
    assert(TextIndex.storedDocs(spark, dU).contains(5L))
  }

  test("merge: different shard counts, dest layout kept, totals add, search is whole-corpus") {
    val dA = java.nio.file.Files.createTempDirectory("tmergeA").toString
    val dB = java.nio.file.Files.createTempDirectory("tmergeB").toString
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    TextIndex.write(half1, dA, shards = 4)
    TextIndex.write(half0, dB, shards = 16)
    TextIndex.merge(spark, dA, dB)
    // dest keeps ITS shard count; totals are the sum of both manifests
    assert(TextIndex.storedShards(spark, dA).contains(4))
    assert(TextIndex.storedDocs(spark, dA).contains(5L))
    val full = java.nio.file.Files.createTempDirectory("tmergeF").toString
    TextIndex.write(docs, full, shards = 4)
    def q(d: String) = TextIndex.searchAll(spark, d, Seq("the"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(q(dA) == q(full))
    // re-sharded src postings are findable (doc 4 "of mice and men" was in src)
    assert(TextIndex.searchAll(spark, dA, Seq("mice"))
      .as[(Long, Long)].collect().toSeq == Seq((4L, 1L)))
    // src untouched
    assert(TextIndex.storedDocs(spark, dB).contains(2L))
  }

  test("merge refuses overlapping doc sets; folds pending tombstones first") {
    val dA = java.nio.file.Files.createTempDirectory("tmergeC").toString
    val dB = java.nio.file.Files.createTempDirectory("tmergeD").toString
    TextIndex.write(docs.filter(col("doc_id") <= 3), dA, shards = 2)
    TextIndex.write(docs.filter(col("doc_id") >= 3), dB, shards = 2)
    val e = intercept[IllegalStateException] { TextIndex.merge(spark, dA, dB) }
    assert(e.getMessage.contains("overlap"))
    // tombstone the overlap on dest; merge must fold it before appending,
    // so totals and search reflect survivors + src
    TextIndex.delete(spark, dA, Seq(3L))
    TextIndex.merge(spark, dA, dB)
    assert(!TextIndex.hasPendingDeletes(spark, dA))
    assert(TextIndex.storedDocs(spark, dA).contains(5L))
    assert(TextIndex.searchAll(spark, dA, Seq("cat"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (3L, 1L)))
  }

  test("ensure is idempotent; missing manifest fails loudly; diverged layout rebuilds") {
    val d2 = java.nio.file.Files.createTempDirectory("tindex2").toString
    assert(TextIndex.ensure(docs, d2), "first ensure writes")
    assert(!TextIndex.ensure(docs, d2), "second ensure reuses")
    // a probe cannot guess the shard count: no manifest ⇒ loud failure
    // (delete through the Hadoop fs so the checksum sidecar goes too)
    val root = new org.apache.hadoop.fs.Path(d2)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, TextIndex.ManifestFile), false)
    val e = intercept[IllegalStateException] {
      TextIndex.searchAll(spark, d2, Seq("cat"))
    }
    assert(e.getMessage.contains("manifest"))
    // an index built with a different count than ensure() requests is
    // rebuilt to the requested layout
    assert(TextIndex.ensure(docs, d2), "missing manifest rebuilds")
    assert(TextIndex.ensure(docs, d2, shards = 4), "diverged layout rebuilds")
    assert(TextIndex.storedShards(spark, d2).contains(4))
  }

  // ---- delta-segment appends (the gram/band discipline ported) --------

  test("append publishes ONE single-file delta segment; every probe sees it; compact folds it") {
    val p = java.nio.file.Files.createTempDirectory("tindex_delta").toString
    TextIndex.write(docs, p, shards = 6)
    TextIndex.write(Seq((6L, "cat cat dog newterm"), (7L, "bird of prey"))
      .toDF("doc_id", "text"), p, mode = "append")
    // segment grain: one seg dir, ONE data file — the O(nShards) commit
    // floor is gone (the sharded append wrote ~one file per touched shard)
    val segs = new java.io.File(s"$p/${TextIndex.DeltaDir}").listFiles()
      .filter(_.getName.startsWith("seg_"))
    assert(segs.length == 1, s"expected one segment, got ${segs.length}")
    assert(segs.head.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // manifest totals carried the appended batch (6 + 3 tokens, 2 docs)
    assert(TextIndex.storedDocs(spark, p).contains(7L))
    // every probe family unions the delta:
    def allHits = TextIndex.searchAll(spark, p, Seq("cat", "dog"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(allHits == Seq((3L, 2L), (6L, 3L)), s"searchAll: $allHits")
    val ranked = TextIndex.searchRanked(spark, p, Seq("newterm"))
      .as[(Long, Double)].collect().toMap
    assert(ranked.contains(6L) && ranked.size == 1, "BM25 missed the delta doc")
    val phrase = TextIndex.searchPhrase(spark, p, Seq("cat", "dog"))
      .as[(Long, Long)].collect().toMap
    assert(phrase == Map(6L -> 1L), s"phrase: $phrase")
    val prox = TextIndex.searchProximity(spark, p, Seq("bird", "prey"), slop = 2)
      .as[(Long, Long)].collect().toMap
    assert(prox == Map(7L -> 1L), s"proximity: $prox")
    val pref = TextIndex.searchPrefix(spark, p, "newt")
      .as[(String, Long, Long)].collect().toSeq
    assert(pref == Seq(("newterm", 1L, 1L)), s"prefix: $pref")
    val dfs = TextIndex.termDf(spark, p, Seq("cat"))
      .as[(String, Long)].collect().toMap
    assert(dfs == Map("cat" -> 3L), s"termDf: $dfs")
    val excl = TextIndex.searchBoolean(spark, p, Seq("cat"), Seq("newterm"))
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._1).toSeq
    assert(excl == Seq(1L, 3L), "mustNot missed the delta doc's postings")
    // fold: answers identical; the segment is MARKED folded, not
    // deleted (probe-atomicity — FoldAtomicSpec: pre-fold probes keep
    // their pinned paths readable), and the NEXT maintenance op
    // reclaims the debris
    TextIndex.compact(spark, p)
    val deltaDir = new org.apache.hadoop.fs.Path(p, TextIndex.DeltaDir)
    val dFs = deltaDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.store.DeltaSegments.liveSegs(dFs, deltaDir).isEmpty,
      "a live segment survived the fold")
    assert(allHits == Seq((3L, 2L), (6L, 3L)))
    assert(TextIndex.storedDocs(spark, p).contains(7L))
    TextIndex.compact(spark, p) // next maintenance op: debris reclaimed
    assert(!new java.io.File(s"$p/${TextIndex.DeltaDir}").exists())
    assert(allHits == Seq((3L, 2L), (6L, 3L)))
  }

  test("a crashed delta fold refuses probes and recovers to exact answers") {
    val p = java.nio.file.Files.createTempDirectory("tindex_crash").toString
    TextIndex.write(docs, p, shards = 4)
    TextIndex.write(Seq((8L, "cat nap")).toDF("doc_id", "text"), p,
      mode = "append")
    // simulate the crash: fold the segment into the base (as a dying
    // compact would) but leave the delta AND the marker standing —
    // rows now sit on BOTH sides
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(new java.io.File(s"$p/${TextIndex.DeltaDir}")
        .listFiles().filter(_.getName.startsWith("seg_")).head.toString)
      .withColumn("shard", TextIndex.shardOf(col("t"), 4))
      .repartition(col("shard")).sortWithinPartitions("t", "doc_id")
      .write.mode("append").partitionBy("shard").parquet(p)
    fs.create(new org.apache.hadoop.fs.Path(root, TextIndex.FoldingMarker),
      true).close()
    // probes refuse the torn state loudly (double-counted tf otherwise)
    val e = intercept[IllegalArgumentException] {
      TextIndex.searchAll(spark, p, Seq("cat"))
    }
    assert(e.getMessage.contains(TextIndex.FoldingMarker))
    // appends refuse too
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.write(Seq((9L, "more text")).toDF("doc_id", "text"), p,
        mode = "append")
    }
    assert(e2.getMessage.contains(TextIndex.FoldingMarker))
    // recovery: compact routes through the staged rewrite, dedups the
    // two-sided rows, clears marker + delta — answers exactly clean
    TextIndex.compact(spark, p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, TextIndex.FoldingMarker)))
    assert(!new java.io.File(s"$p/${TextIndex.DeltaDir}").exists())
    val got = TextIndex.searchAll(spark, p, Seq("cat"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (3L, 1L), (8L, 1L)), s"recovered: $got")
    assert(TextIndex.storedDocs(spark, p).contains(6L))
  }

  test("write(overwrite) refuses dynamic partition overwrite: stale tombstones would hide reused ids") {
    val p = java.nio.file.Files.createTempDirectory("tindex_dynamic").toString
    TextIndex.write(docs, p)
    TextIndex.delete(spark, p, Seq(3L)) // "cat and dog and bird"
    // a dynamic overwrite keeps the root's _deletes: the rebuilt doc 3
    // would stay hidden behind the replaced generation's tombstone
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[IllegalArgumentException] { TextIndex.write(docs, p) }
      assert(e.getMessage.contains("partitionOverwriteMode"))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // the refused rebuild left the old generation and its tombstone intact
    assert(TextIndex.searchAll(spark, p, Seq("bird")).isEmpty)
    // a static rebuild replaces the generation: reused id 3 is visible again
    TextIndex.write(docs, p)
    assert(TextIndex.searchAll(spark, p, Seq("bird")).select("doc_id")
      .as[Long].collect().toSeq === Seq(3L))
  }

  test("write(overwrite) purges unfolded delta segments of the replaced generation") {
    val p = java.nio.file.Files.createTempDirectory("tindex_purge").toString
    TextIndex.write(docs, p)
    TextIndex.write(Seq((10L, "stale doc")).toDF("doc_id", "text"), p,
      mode = "append")
    assert(TextIndex.hasDeltaSegments(spark, p))
    TextIndex.write(docs, p) // rebuild
    assert(!TextIndex.hasDeltaSegments(spark, p),
      "a replaced generation's delta segment leaked into the rebuilt index")
    assert(TextIndex.searchAll(spark, p, Seq("stale")).isEmpty)
  }
}
