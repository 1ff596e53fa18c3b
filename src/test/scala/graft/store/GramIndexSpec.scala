package graft.store

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Persisted gram index: probe parity with a brute-force containment
  * join, shard pruning at file-listing time, append growth, tombstone
  * visibility, df-soundness under deletes, and the profiles-first
  * isolation contract. */
class GramIndexSpec extends SparkSuite {

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/idx"

  // 12 tokens → 10 shingles per doc; token9$i keeps docs distinct
  private def doc(i: Long) =
    s"alpha bravo charlie delta echo foxtrot golf hotel token$i india juliet kilo"

  private def setsOf(df: org.apache.spark.sql.DataFrame) =
    graft.pipeline.TextAnalysis.shingleRows(df)
      .withColumn("x", graft.pipeline.Dedup.baseHash32(col("s")))
      .select("doc_id", "x").distinct()

  private def brute(batch: org.apache.spark.sql.DataFrame,
                    corpus: org.apache.spark.sql.DataFrame) = {
    val bs = setsOf(batch).groupBy("doc_id").agg(collect_list("x").as("sh"))
    val cs = setsOf(corpus).groupBy("doc_id").agg(collect_list("x").as("sh"))
    bs.as("b").crossJoin(cs.as("c"))
      .select(col("b.doc_id").as("a"), col("c.doc_id").as("b"),
        size(col("b.sh")).cast("bigint").as("na"),
        size(array_intersect(col("b.sh"), col("c.sh"))).cast("bigint").as("inter"))
      .filter(lit(4L) * col("inter") >= lit(3L) * col("na"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("na").cast("double")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }

  private def probe(path: String, batch: org.apache.spark.sql.DataFrame) =
    GramIndex.probeContainment(spark, path, setsOf(batch))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  test("probeContainment matches brute-force all-pairs exactly") {
    import spark.implicits._
    val corpus = (0L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")
    // batch: truncations (contained, C=1.0), one mutation, novel docs
    val batch = (
      (0L until 5L).map(i => (1000L + i,
        doc(i).split(" ").dropRight(2).mkString(" "))) ++
      Seq((1500L, doc(3).replace("delta", "DELTAX"))) ++
      (0L until 3L).map(i => (2000L + i, s"zulu$i yankee$i xray$i whiskey$i"))
      ).toDF("doc_id", "text")
    val p = tmp("gramidx_parity")
    GramIndex.write(setsOf(corpus), p)
    val got = probe(p, batch)
    val want = brute(batch, corpus)
    assert(want.nonEmpty)
    assert(got === want,
      s"missed: ${(want.keySet -- got.keySet).take(5)}; " +
        s"spurious: ${(got.keySet -- want.keySet).take(5)}")
    (0L until 5L).foreach(i => assert(got((1000L + i, i)) === 1.0))
    (2000L until 2003L).foreach(b =>
      assert(!got.keySet.exists(_._1 == b), s"novel doc $b matched"))
  }

  test("probe prunes all three layout scans to the batch's shards at listing time") {
    import spark.implicits._
    // alternating unique/common tokens: every shingle carries a
    // doc-unique token (df = 1), so the df-ranked prefix is all-rare and
    // the candidate set is exactly the planted container. The shared
    // template [[doc]] would be the WRONG corpus here: its prefix must
    // by pigeonhole include one corpus-common shingle (p = na − ⌈τ·na⌉
    // + 1 tokens, and only 2 are rare), whose postings ARE the whole
    // corpus — candidate blow-up on boilerplate is inherent to
    // containment, not a pruning defect.
    def udoc(i: Long) =
      s"alpha$i bravo charlie$i delta echo$i foxtrot golf$i hotel india$i juliet kilo$i lima"
    val corpus = (0L until 60L).map(i => (i, udoc(i))).toDF("doc_id", "text")
    val p = tmp("gramidx_prune")
    GramIndex.write(setsOf(corpus), p)
    val one = Seq((999L, udoc(7).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      // dfs/postings scans live under the broadcast candidate subtree
      // (a ReusedExchange referencing the DPP subquery) — traverse
      // subqueries too
      GramIndex.probeContainment(spark, p, setsOf(one))
        .queryExecution.executedPlan.collectWithSubqueries {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // profiles prunes at LISTING time in the returned plan
    // (readPartitions roots at the probed shard dirs only) — dynamic
    // partition pruning was tried for profiles and rejected: it prunes
    // DATA, not the O(corpus-shards) directory listing, which the r14
    // scale harness measured growing 2.4→4.5→15.9s for the same 8-doc
    // batch. The dfs AND postings reads ride the SAME readPartitions
    // call but run eagerly inside probeContainment (the batch-sized
    // prefix — and, since the r19 collect-once, the candidate set — is
    // collected once to end its lineage), so neither scan can appear in
    // the returned plan: its presence would mean the candidate subtree
    // regressed to executing under the shard collect AND the returned
    // plan again (the r20 A/B measured that double execution at +4.6 s
    // on q_refresh_e2e alone).
    assert(!scans.exists(_.relation.location.rootPaths
        .exists(p => p.toString.contains("/postings") ||
          p.toString.contains("/dfs"))),
      "postings/dfs scan in the returned plan — the candidate/prefix " +
        "subtrees must execute eagerly (collect-once), not lazily twice")
    val scan = scans.find(_.relation.location.rootPaths
      .exists(_.toString.contains("/profiles")))
      .getOrElse(fail("no profiles scan in the probe plan"))
    // the probe reads through the MANIFEST index (listing-free: zero
    // exists/listStatus at any shard count) and its file set is
    // confined to the probed shards — strictly stronger than the old
    // rootPaths assertion (pruned listing construction)
    assert(scan.relation.location.isInstanceOf[ManifestFileIndex],
      "profiles: probe scan fell back to a listing file index")
    val shardsTouched = scan.relation.location.inputFiles
      .map(f => new java.io.File(f).getParentFile.getName)
      .filter(_.startsWith("shard=")).distinct
    val totalProf = new java.io.File(s"$p/profiles").list()
      .count(_.startsWith("shard="))
    assert(shardsTouched.nonEmpty, "profiles: scan must read probed shard files")
    assert(shardsTouched.length < totalProf,
      s"profiles: pruning must drop shards ($totalProf present, ${shardsTouched.length} survive)")
    // the eager dfs/postings reads ride readLayer = the manifest read
    // below — assert the same manifest-backed, file-confined contract on
    // it directly for both layouts (the probe's shard lists are
    // batch-derived; parity tests pin that wiring behaviorally)
    Seq("postings", "dfs").foreach { layout =>
      val present = new java.io.File(s"$p/$layout").list().toSeq
        .filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong).sorted
      assert(present.size >= 2, s"$layout: need ≥2 shards to show pruning")
      val want = present.take(1)
      val df = FileManifest.readPartitions(spark, s"$p/$layout", want)
        .getOrElse(fail(s"$layout: no manifest-backed read"))
      val sc = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.headOption.getOrElse(fail(s"$layout: no file scan"))
      assert(sc.relation.location.isInstanceOf[ManifestFileIndex],
        s"$layout: readPartitions fell back to a listing file index")
      val touched = sc.relation.location.inputFiles
        .map(f => new java.io.File(f).getParentFile.getName)
        .filter(_.startsWith("shard=")).distinct
      assert(touched.toSeq == want.map(v => s"shard=$v"),
        s"$layout: file set not confined to requested shards " +
          s"(want shard=${want.mkString(",")}, got ${touched.mkString(",")})")
    }
  }

  test("append grows the index; probes see appended docs; meta guards layout") {
    import spark.implicits._
    val p = tmp("gramidx_append")
    val first = (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      GramIndex.append(setsOf(first), p)
    }
    GramIndex.write(setsOf(first), p)
    val second = (30L until 50L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.append(setsOf(second), p)
    val batch = Seq((5000L, doc(42).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    val got = probe(p, batch)
    assert(got.get((5000L, 42L)).contains(1.0), s"got $got")
    // dfs folded across the two writes: the brute answer still matches
    assert(got === brute(batch, (0L until 50L).map(i => (i, doc(i)))
      .toDF("doc_id", "text")))
  }

  test("tombstoned docs vanish from probes immediately; compact folds them in") {
    import spark.implicits._
    val p = tmp("gramidx_delete")
    val corpus = (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    val batch = Seq((9000L, doc(7).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    assert(probe(p, batch).contains((9000L, 7L)))
    GramIndex.delete(spark, p, Seq(7L))
    val after = probe(p, batch)
    assert(!after.contains((9000L, 7L)), s"tombstoned doc still matched: $after")
    GramIndex.compact(spark, p)
    assert(!probe(p, batch).contains((9000L, 7L)))
    // dfs were recomputed exactly: post-compact equals a fresh index
    val fresh = tmp("gramidx_fresh")
    GramIndex.write(setsOf(corpus.filter(col("doc_id") =!= 7L)), fresh)
    assert(probe(p, batch) === probe(fresh, batch))
  }

  test("past-cap probes take the distributed plan and return identical output") {
    import spark.implicits._
    val p = tmp("gramidx_cap")
    val corpus = (0L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    val batch = (
      (0L until 5L).map(i => (1000L + i,
        doc(i).split(" ").dropRight(2).mkString(" "))) ++
      (0L until 3L).map(i => (2000L + i, s"zulu$i yankee$i xray$i whiskey$i"))
      ).toDF("doc_id", "text")
    val collected = probe(p, batch)
    assert(collected.nonEmpty)
    val key = GramIndex.MaxPrefixCollectKey
    spark.conf.set(key, "1") // every prefix is past this cap
    try {
      assert(probe(p, batch) === collected,
        "distributed (past-cap) plan diverged from the collected plan")
      // the regime really flipped: past the cap nothing batch-sized may
      // broadcast (the driver-literal prefix is gone too, but that is
      // not visible in the plan — the absence of EVERY broadcast hint
      // is, since all three hints ride the same `small` switch)
      val hints = GramIndex.probeContainment(spark, p, setsOf(batch))
        .queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }
      assert(hints.isEmpty, s"past-cap plan still carries broadcast hints: $hints")
    } finally spark.conf.unset(key)
    val hintsSmall = GramIndex.probeContainment(spark, p, setsOf(batch))
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hintsSmall.nonEmpty, "ingest-sized plan lost its broadcast hints")
  }

  test("write(overwrite) clears stale tombstones from the replaced generation") {
    import spark.implicits._
    val p = tmp("gramidx_staletomb")
    val corpus = (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    GramIndex.delete(spark, p, Seq(7L))
    // full rebuild (corrected source, reused ids): the old generation's
    // tombstone must not hide the NEW generation's doc 7
    GramIndex.write(setsOf(corpus), p)
    val batch = Seq((9000L, doc(7).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    assert(probe(p, batch).contains((9000L, 7L)),
      "stale tombstone from the replaced generation hid doc 7")
  }

  test("a FAILED rebuild keeps the old generation's tombstones live (purge-last ordering)") {
    import spark.implicits._
    val p = tmp("gramidx_failtomb")
    val corpus = (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    GramIndex.delete(spark, p, Seq(7L))
    val batch = Seq((9000L, doc(7).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    assert(!probe(p, batch).contains((9000L, 7L)))
    // a rebuild that dies before its layouts commit (malformed input —
    // no x column — fails at analysis, before any file IO): the old
    // index stays live and doc 7's tombstone must STAY with it; a
    // purge-first ordering would have resurrected the deleted doc here
    intercept[Throwable] {
      GramIndex.write(corpus.select(col("doc_id")), p)
    }
    assert(!probe(p, batch).contains((9000L, 7L)),
      "failed rebuild resurrected a tombstoned doc — purge ran before the layouts committed")
  }

  test("write refuses a standing streaming commit log (resume-skip data loss)") {
    import spark.implicits._
    val p = tmp("gramidx_commitlog")
    val corpus = (0L until 10L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    // plant the log a streaming writer would leave behind
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val log = new org.apache.hadoop.fs.Path(p, "_graft_commits/q0")
    fs.mkdirs(log)
    fs.create(new org.apache.hadoop.fs.Path(log, "0"), true).close()
    val e = intercept[IllegalArgumentException] {
      GramIndex.write(setsOf(corpus), p)
    }
    assert(e.getMessage.contains("_graft_commits"))
    // clearing the log re-enables the rebuild
    fs.delete(new org.apache.hadoop.fs.Path(p, "_graft_commits"), true)
    GramIndex.write(setsOf(corpus), p)
    assert(GramIndex.storedShards(spark, p).nonEmpty)
  }

  test("candidates past maxPrefixCollect are never broadcast, even when the prefix is under it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val p = tmp("gramidx_candcap")
    GramIndex.write(setsOf((0L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    // one truncated doc: 8 set rows, under the cap of 20, so the prefix
    // is collected; but its 3-row prefix takes one shingle every corpus
    // doc shares, so the candidate bound is 1 + 1 + 40 = 42 > 20
    val batch = Seq((9000L, doc(7).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    val want = probe(p, batch)
    assert(want.get((9000L, 7L)).contains(1.0))
    def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    // Spark's own size-based broadcast is off, so any BroadcastExchange
    // left in the plan comes from the probe's explicit hints
    spark.conf.set(GramIndex.MaxPrefixCollectKey, "20")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = GramIndex.probeContainment(spark, p, setsOf(batch))
      val got = out.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got === want)
      val all = nodes(out.queryExecution.executedPlan)
      // the candidate set is localCheckpoint()ed past the cap: its scan
      // is the plan's only RDD scan, and no broadcast may sit over it
      assert(all.exists(_.isInstanceOf[RDDScanExec]), "candidates were not checkpointed")
      val candBroadcasts = all.collect { case b: BroadcastExchangeExec => b }
        .filter(b => nodes(b).exists(_.isInstanceOf[RDDScanExec]))
      assert(candBroadcasts.isEmpty,
        s"candidate side broadcast past the cap:\n${candBroadcasts.mkString("\n")}")
    } finally {
      spark.conf.unset(GramIndex.MaxPrefixCollectKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("malformed maxPrefixCollect conf fails loudly with the key name") {
    import spark.implicits._
    val p = tmp("gramidx_badconf")
    val corpus = (0L until 5L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p)
    spark.conf.set(GramIndex.MaxPrefixCollectKey, "1m")
    try {
      val e = intercept[IllegalArgumentException] {
        GramIndex.probeContainment(spark, p,
          setsOf(Seq((9000L, doc(1))).toDF("doc_id", "text")))
      }
      assert(e.getMessage.contains(GramIndex.MaxPrefixCollectKey))
    } finally spark.conf.unset(GramIndex.MaxPrefixCollectKey)
  }

  test("reshard migrates all three layouts; probes refuse mid-migration") {
    import spark.implicits._
    val p = tmp("gramidx_reshard")
    val corpus = (0L until 25L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(corpus), p, nShards = 8)
    val batch = Seq((9000L, doc(11).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    val before = probe(p, batch)
    GramIndex.reshard(spark, p, 32)
    assert(GramIndex.storedShards(spark, p).contains(32))
    assert(probe(p, batch) === before)
    // a standing marker makes every probe refuse
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(p, GramIndex.ReshardMarker), true).close()
    intercept[IllegalArgumentException] { probe(p, batch) }
    fs.delete(new org.apache.hadoop.fs.Path(p, GramIndex.ReshardMarker), false)
  }

  test("deltaAdvisory reports unfolded segments; needsCompaction keys on them") {
    import spark.implicits._
    val p = tmp("gramidx_advisory")
    GramIndex.write(setsOf(
      (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    assert(GramIndex.deltaAdvisory(spark, p) == (0L, 0L))
    assert(!GramIndex.needsCompaction(spark, p, maxSegments = 0))
    // a never-compacted appender accumulates one segment per batch —
    // and the advisory is what reports it (probes union every segment)
    (0 until 3).foreach { b =>
      GramIndex.append(setsOf(Seq((1000L + b, doc(90L + b)))
        .toDF("doc_id", "text")), p)
    }
    val (segs, bytes) = GramIndex.deltaAdvisory(spark, p)
    assert(segs == 3L && bytes > 0L, s"advisory: ($segs, $bytes)")
    assert(GramIndex.needsCompaction(spark, p, maxSegments = 2))
    assert(!GramIndex.needsCompaction(spark, p, maxSegments = 3))
    GramIndex.compact(spark, p)
    assert(GramIndex.deltaAdvisory(spark, p) == (0L, 0L))
    assert(!GramIndex.needsCompaction(spark, p, maxSegments = 0))
  }

  test("an EMPTY batch short-circuits the probe — no full-table slowPath reads") {
    import spark.implicits._
    val p = tmp("gramidx_empty")
    GramIndex.write(setsOf(
      (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")), p)
    val out = GramIndex.probeContainment(spark, p,
      setsOf(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    assert(out.columns.toSeq === Seq("a", "b", "containment"))
    assert(out.count() === 0L)
    // the empty result must be a LEAF, never the three-layout
    // full-listing fallback an empty shard list would otherwise take
    assert(!out.queryExecution.optimizedPlan.toString.contains("Relation ["),
      "empty-batch probe still plans a file scan")
  }

  test("append publishes ONE 3-file delta segment; compact folds it; answers identical") {
    import spark.implicits._
    val p = tmp("gramidx_delta")
    val gen1 = (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(gen1), p)
    val gen2 = (30L until 40L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.append(setsOf(gen2), p)
    // the append grain: one published segment, one data file per layer —
    // 3 commits total, NOT one per touched shard per layout (the
    // O(nShards) floor the r16 harness measured at 165s/append)
    val segs = new java.io.File(s"$p/delta").listFiles()
      .filter(_.getName.startsWith("seg_"))
    assert(segs.length === 1, s"expected one segment, got ${segs.toSeq}")
    Seq("profiles", "postings", "dfs").foreach { layer =>
      val files = new java.io.File(segs(0), layer).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"$layer: ${files.toSeq}")
    }
    // probes see delta docs through the unions, answers = brute over all
    val batch = Seq(
      (9000L, doc(5).split(" ").dropRight(2).mkString(" ")),   // base hit
      (9001L, doc(35).split(" ").dropRight(2).mkString(" ")))  // delta hit
      .toDF("doc_id", "text")
    val preFold = probe(p, batch)
    assert(preFold.get((9001L, 35L)).contains(1.0), "delta doc not probed")
    assert(preFold === brute(batch, gen1.union(gen2)))
    // compact folds the segment into the sharded base, answers unchanged.
    // The segment is MARKED folded, not deleted (probe-atomicity: a
    // pre-fold probe keeps its pinned paths readable — FoldAtomicSpec);
    // no live segment remains, and the NEXT maintenance op reclaims.
    GramIndex.compact(spark, p)
    val deltaDir = new org.apache.hadoop.fs.Path(p, "delta")
    val fs = deltaDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(DeltaSegments.liveSegs(fs, deltaDir).isEmpty,
      "a live segment survived the fold")
    assert(DeltaSegments.foldedNames(fs, deltaDir).size === 1)
    assert(probe(p, batch) === preFold)
    GramIndex.compact(spark, p) // next maintenance op: debris reclaimed
    assert(!new java.io.File(s"$p/delta").exists(), "folded debris survived reclaim")
    assert(probe(p, batch) === preFold)
  }

  test("write(overwrite) clears unfolded delta segments of the replaced generation") {
    import spark.implicits._
    val p = tmp("gramidx_deltapurge")
    val gen1 = (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(gen1), p)
    GramIndex.append(setsOf(
      Seq((77L, doc(77))).toDF("doc_id", "text")), p)
    // rebuild WITHOUT doc 77: its stale segment must not resurrect it
    GramIndex.write(setsOf(gen1), p)
    val batch = Seq((9000L, doc(77).split(" ").dropRight(2).mkString(" ")))
      .toDF("doc_id", "text")
    assert(!probe(p, batch).keySet.exists(_._2 == 77L),
      "a replaced generation's delta segment leaked into the rebuilt index")
  }

  test("probe during APPEND sees a verifiable generation (profiles-first ordering)") {
    import spark.implicits._
    // The mid-append snapshot a probe can observe under the write order
    // (profiles commit before postings): {old postings, old+new
    // profiles}. Simulate it directly: write gen-1, append ONLY the
    // profiles of gen-2 (the prefix of an in-flight append), and assert
    // the probe still returns exactly the gen-1 answer — every
    // candidate it generates has its verification profile, and no
    // unverifiable candidate exists.
    val p = tmp("gramidx_isolation")
    val gen1 = (0L until 20L).map(i => (i, doc(i))).toDF("doc_id", "text")
    GramIndex.write(setsOf(gen1), p)
    val gen2 = (20L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val nShards = GramIndex.storedShards(spark, p).get
    setsOf(gen2).groupBy("doc_id")
      .agg(collect_list(col("x")).as("sh"), count(lit(1)).as("n"))
      .withColumn("shard", GramIndex.shardOf(col("doc_id"), nShards))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$p/profiles")
    val batch = Seq(
      (9000L, doc(5).split(" ").dropRight(2).mkString(" ")),   // gen-1 hit
      (9001L, doc(25).split(" ").dropRight(2).mkString(" ")))  // gen-2: not yet
      .toDF("doc_id", "text")
    val got = probe(p, batch)
    assert(got.get((9000L, 5L)).contains(1.0))
    // the probe's whole answer equals the GEN-1-ONLY brute answer: the
    // batch docs may legitimately be contained in gen-1 docs (this
    // template corpus shares 6 of 8 shingles across all docs — C = 0.75
    // exactly), but no gen-2 pair can surface without its postings
    assert(got === brute(batch, gen1))
    assert(!got.contains((9001L, 25L)),
      "gen-2 doc matched before its postings committed")
  }
}
