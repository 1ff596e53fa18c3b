package graft.scan

import graft.SparkSuite
import graft.keys.HashPrefix
import graft.plans.MergeScanExec
import graft.store.{FileManifest, ManifestFileIndex, SaltedStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge scan against the plan it replaces. Each range is scanned
  * through a fresh read with the store's manifest standing (the merge
  * plan) and again, every manifest dropped, through a fresh listing read
  * (Spark's range exchange and sort); the two must return the same rows,
  * keys ascending. Also: the staleness guard, the unsorted-file guard,
  * the inputs the strategy must leave alone (a range too large for one
  * task among them), key ranges after an append to a store no manifest
  * described, and per-file key order after every store op. */
class MergeScanSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dist = HashPrefix(4)

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/s"

  private def rows(lo: Long, hi: Long, step: Long = 10) =
    spark.range(lo, hi).select((col("id") * step).as("k"), (col("id") * 7 % 1000).as("v"))

  /** A store with a base write and three appends over disjoint key ranges. */
  private lazy val store: String = {
    val dir = tmp("merge_diff")
    SaltedStore.write(rows(0, 5000), col("k"), dist, dir)
    (0 until 3).foreach(b =>
      SaltedStore.write(rows(5000 + b * 500, 5500 + b * 500), col("k"), dist, dir, mode = "append"))
    dir
  }

  private def mergeNodes(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case m: MergeScanExec => m }

  private def fileScans(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }

  private def scan(dir: String, lo: Long, hi: Option[Long]): DataFrame = {
    val t = SaltedStore.read(spark, dir)
    hi.fold(DistributedScan.rangeScanFrom(t, col("k"), lo))(DistributedScan.rangeScan(t, col("k"), lo, _))
      .select("k", "v")
  }

  /** (merge side, listing side) for every range; the listing side runs
    * after the manifest is dropped, and the manifest is republished. */
  private def bothSides(dir: String, ranges: Seq[(Long, Option[Long])]): Seq[(Seq[Row], Seq[Row])] = {
    val merged = ranges.map { case (lo, hi) =>
      val df = scan(dir, lo, hi)
      val got = df.collect().toSeq
      // (a range the optimizer proves empty scans nothing at all)
      assert(mergeNodes(df).nonEmpty || fileScans(df).isEmpty,
        s"[$lo, $hi) did not plan a merge scan")
      got
    }
    val prior = FileManifest.load(spark, dir)
    FileManifest.delete(spark, dir)
    try {
      val listed = ranges.map { case (lo, hi) =>
        val df = scan(dir, lo, hi)
        val got = df.collect().toSeq
        assert(mergeNodes(df).isEmpty, s"[$lo, $hi) merged without a manifest")
        got
      }
      merged.zip(listed)
    } finally FileManifest.publish(spark, dir, "bucket", prior.flatMap(_.key), Map.empty)
  }

  private def keysAscending(rs: Seq[Row]) =
    rs.map(_.getLong(0)).sliding(2).forall { case Seq(a, b) => a <= b; case _ => true }

  test("random ranges, rangeScanFrom, empty ranges and file-boundary bounds match the listing plan") {
    val rnd = new scala.util.Random(7)
    val maxKey = 6500L * 10
    val random = Seq.fill(25) {
      val a = rnd.nextLong(maxKey + 200) - 100
      (a, Some(a + rnd.nextLong(20000)))
    }
    val from = Seq((-5L, None), (31234L, None), (maxKey - 15, None), (maxKey + 10, None))
    val empty = Seq((400L, Some(400L)), (900L, Some(300L)), (maxKey + 1, Some(maxKey + 500)))
    val ranges = FileManifest.load(spark, store).get.entries.map(_.keyRange.get)
    val edges = ranges.flatMap { case (a, b) =>
      Seq((a, Some(b)), (a, Some(b + 1)), (a + 1, Some(b)), (b, Some(b + 10)), (b + 1, None))
    }.distinct.take(20)
    val spanning = Seq((49000L, Some(51000L)), (49990L, Some(65000L)), (0L, Some(maxKey)))
    bothSides(store, random ++ from ++ empty ++ edges ++ spanning).zipWithIndex.foreach {
      case ((m, l), i) =>
        assert(m === l, s"range $i differs")
        assert(keysAscending(m))
    }
  }

  test("duplicate keys across files merge to the listing plan's rows, keys ascending") {
    val dir = tmp("merge_dups")
    SaltedStore.write(rows(0, 3000), col("k"), dist, dir)
    // appends that repeat base keys (other values): every key in
    // [5000, 15000) sits in two or three files of its bucket
    SaltedStore.write(rows(500, 1500).withColumn("v", col("v") + 1), col("k"), dist, dir,
      mode = "append")
    SaltedStore.write(rows(1000, 1200).withColumn("v", col("v") + 2), col("k"), dist, dir,
      mode = "append")
    val ranges = Seq((4000L, Some(16000L)), (9990L, Some(10010L)), (0L, None), (11990L, Some(12000L)))
    bothSides(dir, ranges).foreach { case (m, l) =>
      assert(keysAscending(m) && keysAscending(l))
      assert(m.groupBy(identity).view.mapValues(_.size).toMap ===
        l.groupBy(identity).view.mapValues(_.size).toMap)
    }
  }

  test("a range above the advisory size keeps Spark's range sort; a small one still merges") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "4096")
    try {
      // every bucket's files span the whole key range: cut into tasks,
      // the merge would read each file once per task, so it declines
      val big = scan(store, 1234L, Some(61234L))
      val got = big.collect().map(_.getLong(0)).toSeq
      assert(mergeNodes(big).isEmpty)
      assert(big.queryExecution.executedPlan.toString.contains("rangepartitioning"))
      assert(got === (1240L until 61234L by 10L))
      val run = scan(store, 1234L, Some(61234L))
        .withColumn("run", sum(col("v")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runs = run.orderBy("k").collect().map(_.getLong(2))
      assert(runs.toSeq === got.map(k => (k / 10) * 7 % 1000).scanLeft(0L)(_ + _).tail)
      val small = scan(store, 20000L, Some(20100L))
      assert(small.collect().map(_.getLong(0)).toSeq === (20000L until 20100L by 10L))
      assert(mergeNodes(small).nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("the size estimate spreads each file's bytes over its key range") {
    def e(min: Long, max: Long, len: Long) = FileManifest.Entry(s"f$min", len, 0L, Some((min, max)))
    val files = Seq(e(0, 999, 1000), e(0, 999, 1000), e(1000, 1999, 4000))
    assert(MergeScanExec.estimatedBytes(files, Long.MinValue, Long.MaxValue) === 6000.0)
    assert(MergeScanExec.estimatedBytes(files, 500, 1499) === 1000.0 + 2000.0)
    assert(MergeScanExec.estimatedBytes(files, 5000, 6000) === 0.0)
  }

  test("the merge closes each file's reader once its stream passes the range") {
    final class Rows(keys: Seq[Long]) extends Iterator[InternalRow] with java.io.Closeable {
      private val it = keys.iterator
      var closed = false
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = InternalRow(it.next())
      override def close(): Unit = closed = true
    }
    // none of these readers closes itself at its end, as a parquet
    // reader stopped before its end does not
    val readers = Seq(new Rows(Seq(1, 5, 9, 20, 30)), new Rows(Seq(2, 3, 40)), new Rows(Seq(50, 60)))
    val files = readers.indices.map(i =>
      (InternalRow.empty, FileManifest.Entry(s"f$i", 1L, 0L, Some((0L, 60L)))))
    val out = MergeScanExec.merge("/r", files, 2L, 25L,
      (f: PartitionedFile) => readers(f.toPath.getName.drop(1).toInt),
      MergeScanExec.Key(0, isInt = false, "k"), SQLMetrics.createMetric(spark.sparkContext, "n"))
    assert(out.map(_.getLong(0)).toList === List(2L, 3L, 5L, 9L, 20L))
    assert(readers.map(_.closed) === Seq(true, true, true))
  }

  test("the strategy leaves other inputs on Spark's plan") {
    val t = SaltedStore.read(spark, store)
    assert(mergeNodes(t.filter(col("k") > 100).orderBy(col("k").desc)).isEmpty, "descending")
    assert(mergeNodes(t.orderBy((col("k") + 1).as("k1"))).isEmpty, "derived column")
    assert(mergeNodes(t.orderBy(col("v"))).isEmpty, "not the key")
    assert(mergeNodes(t.orderBy(col("k"), col("v"))).isEmpty, "two sort columns")
    val orc = tmp("merge_orc")
    SaltedStore.write(rows(0, 100), col("k"), dist, orc, format = "orc")
    assert(mergeNodes(SaltedStore.read(spark, orc, format = "orc").orderBy("k")).isEmpty, "orc")
    val derived = tmp("merge_derived")
    SaltedStore.write(rows(0, 100), col("k") + 1, dist, derived)
    assert(FileManifest.load(spark, derived).get.key.isEmpty)
    assert(mergeNodes(SaltedStore.read(spark, derived).orderBy("k")).isEmpty, "derived key")
  }

  test("a file out of key order fails the merge and is named") {
    val dir = tmp("merge_unsorted")
    SaltedStore.write(rows(0, 400), col("k"), dist, dir)
    // a foreign, unsorted file in bucket=3, then a republished manifest
    rows(400, 800).orderBy(col("k").desc).coalesce(1).write.mode("append")
      .parquet(s"$dir/bucket=3")
    FileManifest.publish(spark, dir, "bucket", Some("k"), Map.empty)
    val df = DistributedScan.rangeScan(SaltedStore.read(spark, dir), col("k"), 0L, 10000L)
    assert(mergeNodes(df).nonEmpty)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("is not sorted by k") && e.getMessage.contains("bucket=3/"),
      e.getMessage)
  }

  test("a plain-Spark append into a bucket after the manifest is visible to the next read") {
    val dir = tmp("merge_stale")
    SaltedStore.write(rows(0, 1000), col("k"), dist, dir)
    assert(SaltedStore.read(spark, dir).count() === 1000L)
    rows(1000, 1100).write.mode("append").parquet(s"$dir/bucket=3")
    val t = SaltedStore.read(spark, dir)
    assert(t.count() === 1100L)
    val scanned = DistributedScan.rangeScan(t, col("k"), 9990L, 11000L).select("k").as[Long].collect()
    assert(scanned.toSeq === (9990L until 11000L by 10L))
  }

  test("a missing manifest after a crash gives the listing read") {
    val dir = tmp("merge_crash")
    SaltedStore.write(rows(0, 1000), col("k"), dist, dir)
    // a writer that died after its commit and before republishing
    FileManifest.delete(spark, dir)
    rows(1000, 1200).withColumn("bucket", lit(1)).write.mode("append").partitionBy("bucket")
      .parquet(dir)
    val t = SaltedStore.read(spark, dir)
    assert(t.count() === 1200L)
    val scans = fileScans(t)
    assert(scans.nonEmpty && scans.forall(!_.relation.location.isInstanceOf[ManifestFileIndex]))
  }

  test("an append to a store with no manifest records key ranges only for the files it wrote") {
    val dir = tmp("merge_legacy")
    // a store no manifest describes, one file of bucket=3 out of key order
    dist.withBucket(rows(0, 400), col("k")).write.partitionBy("bucket").parquet(dir)
    rows(400, 800).orderBy(col("k").desc).coalesce(1).write.mode("append")
      .parquet(s"$dir/bucket=3")
    assert(!FileManifest.exists(spark, dir))
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val old = fs.listStatus(new Path(dir)).filter(_.isDirectory).flatMap { d =>
      FileManifest.dataFiles(fs, d.getPath).map(f => s"${d.getPath.getName}/${f.getPath.getName}")
    }.toSet
    SaltedStore.write(rows(800, 1000), col("k"), dist, dir, mode = "append")
    val (ranged, unranged) = FileManifest.load(spark, dir).get.entries.partition(_.keyRange.isDefined)
    assert(unranged.map(_.rel).toSet === old)
    assert(ranged.nonEmpty && ranged.forall(e => !old.contains(e.rel)))
    def keys = DistributedScan.rangeScan(SaltedStore.read(spark, dir), col("k"), 0L, 100000L)
    val before = keys
    assert(mergeNodes(before).isEmpty)
    assert(before.select("k").as[Long].collect().toSeq === (0L until 10000L by 10L))
    // a compaction rewrites every file sorted and records every range
    SaltedStore.compact(spark, dir, col("k"))
    assert(FileManifest.load(spark, dir).get.entries.forall(_.keyRange.isDefined))
    val after = keys
    assert(mergeNodes(after).nonEmpty)
    assert(after.select("k").as[Long].collect().toSeq === (0L until 10000L by 10L))
  }

  test("bucket dirs that report no mtime send every read to the listing path") {
    val dir = tmp("merge_nomtime")
    SaltedStore.write(rows(0, 1000), col("k"), dist, dir)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // an object store's listing: dirs carry mtime 0, and an added file
    // leaves it 0
    def zeroDirMtimes(): Unit = fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .foreach(d => fs.setTimes(d.getPath, 0L, -1L))
    zeroDirMtimes()
    FileManifest.publish(spark, dir, "bucket", Some("k"), Map.empty)
    assert(FileManifest.load(spark, dir).get.dirs.values.toSet === Set(0L))
    rows(1000, 1100).write.mode("append").parquet(s"$dir/bucket=3")
    zeroDirMtimes()
    val t = SaltedStore.read(spark, dir)
    assert(t.count() === 1100L)
    assert(fileScans(t).forall(!_.relation.location.isInstanceOf[ManifestFileIndex]))
    assert(FileManifest.dirsUnchanged(Map("bucket=0" -> 5L), Map("bucket=0" -> 5L)))
    assert(!FileManifest.dirsUnchanged(Map("bucket=0" -> 0L), Map("bucket=0" -> 0L)))
  }

  test("every file of a written, appended, compacted and resalted store is sorted by key") {
    val dir = tmp("merge_order")
    // many equal-bucket rows per task: the write's sort must order each file
    SaltedStore.write(rows(0, 6000, step = 3).repartition(8), col("k"), dist, dir)
    def check(stage: String): Unit = FileManifest.load(spark, dir).get.entries.foreach { e =>
      val ks = spark.read.parquet(s"$dir/${e.rel}").select("k").as[Long].collect()
      assert(ks.toSeq == ks.sorted.toSeq, s"$stage: ${e.rel} is not sorted by key")
    }
    check("write")
    SaltedStore.write(rows(6000, 7000, step = 3).repartition(3), col("k"), dist, dir, mode = "append")
    check("append")
    SaltedStore.compact(spark, dir, col("k"))
    check("compact")
    SaltedStore.resalt(spark, dir, col("k"), HashPrefix(6))
    check("resalt")
    assert(SaltedStore.read(spark, dir).count() === 7000L)
  }
}
