package graft.pipeline

import graft.SparkSuite
import graft.store.{FileManifest, ManifestFileIndex}
import org.apache.spark.sql.functions._

/** The TEXT index's FileManifest lifecycle (the r17 top ask: gram/band
  * probe reads went listing-free in r17, text still paid the per-dir
  * exists/list work on its constructed shard dirs): the owner drops
  * the manifest before any file-set mutation and rewrites it at rest,
  * probes build their scans from it with zero listing, and every
  * in-flight/foreign state falls back to the listing read — same spec
  * shape as FileManifestSpec, on the text layout. */
class TextIndexManifestSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/tindex"

  private def doc(i: Long) =
    s"alpha bravo charlie delta echo token$i foxtrot golf hotel india$i"

  private def corpus(n: Long) =
    (0L until n).map(i => (i, doc(i))).toDF("doc_id", "text")

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("write records the manifest; probe scans are manifest-backed (zero listing)") {
    val p = tmp("tmanifest_plan")
    TextIndex.write(corpus(30), p, shards = 8)
    assert(FileManifest.exists(spark, p), "write must leave a file manifest")
    // AQE off for the plan collect: the adaptive wrapper hides the scan
    // from a pre-execution executedPlan walk (the TextIndexSpec rule)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (df <- Seq(
        TextIndex.searchAll(spark, p, Seq("alpha", "token7")),
        TextIndex.searchRanked(spark, p, Seq("alpha", "bravo"), b = 0.75),
        TextIndex.searchPhrase(spark, p, Seq("alpha", "bravo")),
        TextIndex.searchBoolean(spark, p, Seq("alpha"), Seq("token3")),
        TextIndex.searchPrefix(spark, p, "tok"))) {
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      scans.foreach(sc => assert(
        sc.relation.location.isInstanceOf[ManifestFileIndex],
        s"text probe built a listing file index:\n${df.queryExecution.executedPlan}"))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("manifest read = listing read, bit for bit, incl. the delta union") {
    val p = tmp("tmanifest_parity")
    TextIndex.write(corpus(30), p, shards = 8)
    TextIndex.write((100L until 110L).map(i => (i, doc(i))).toDF("doc_id", "text"),
      p, mode = "append") // delta segment rides both paths identically
    val terms = Seq("alpha", "bravo", "token5", "token105")
    val viaManifest = TextIndex.searchAll(spark, p, Seq("alpha", "bravo"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    FileManifest.delete(spark, p)
    val viaListing = TextIndex.searchAll(spark, p, Seq("alpha", "bravo"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    assert(viaManifest === viaListing)
    assert(viaManifest.size === 40)
    // compact (here: fold + possible major) restores the manifest
    TextIndex.compact(spark, p)
    assert(FileManifest.exists(spark, p))
    assert(TextIndex.searchAll(spark, p, Seq("alpha", "bravo"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      === viaManifest)
    val _ = terms
  }

  test("maintenance lifecycle: delete keeps it, merge and reshard rewrite it (relative paths survive the swap)") {
    val p = tmp("tmanifest_lifecycle")
    TextIndex.write(corpus(30), p, shards = 4)
    // tombstones mutate no shard file: the manifest stays
    TextIndex.delete(spark, p, Seq(3L))
    assert(FileManifest.exists(spark, p))
    assert(!TextIndex.searchAll(spark, p, Seq("alpha"))
      .collect().map(_.getLong(0)).contains(3L))
    // merge appends into dest: manifest dropped before, reborn at rest
    val src = tmp("tmanifest_src")
    TextIndex.write((200L until 210L).map(i => (i, doc(i))).toDF("doc_id", "text"),
      src, shards = 2)
    TextIndex.merge(spark, p, src)
    assert(FileManifest.exists(spark, p))
    val afterMerge = TextIndex.searchAll(spark, p, Seq("alpha"))
      .collect().map(_.getLong(0)).sorted
    assert(afterMerge.length === 39 && afterMerge.contains(205L))
    // reshard stages its manifest and swaps it in with the data
    TextIndex.reshard(spark, p, 9)
    assert(TextIndex.storedShards(spark, p) === Some(9))
    assert(FileManifest.exists(spark, p))
    // the staged totals are a recount of the swapped-in postings
    val recount = spark.read.parquet(p).agg(count_distinct($"doc_id"), sum($"tf")).head()
    assert((TextIndex.storedDocs(spark, p), TextIndex.storedTokens(spark, p)) ===
      ((Some(recount.getLong(0)), Some(recount.getLong(1)))))
    assert(recount.getLong(0) === afterMerge.length)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = TextIndex.searchAll(spark, p, Seq("alpha"))
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      scans.foreach(sc => assert(
        sc.relation.location.isInstanceOf[ManifestFileIndex],
        "post-reshard probe must ride the staged-then-swapped manifest"))
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === afterMerge.toSeq)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
