package graft.scan

import graft.SparkSuite
import graft.keys._
import graft.store.SaltedStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end salted store + distributed scan — mirrors the reference's
  * integration suite (wd-test/RowKeyDistributorTestBase.java): zigzag
  * non-monotonic writes, expected-count-while-writing, global-order and
  * in-range assertions, for several distributor configs. */
class StoreScanSpec extends SparkSuite {
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft-store").toString

  // zigzag keys as in wd-test/RowKeyDistributorTestBase.java:142 —
  // 500, 499, 502, 497, 504 ... deliberately non-monotonic inserts
  private val base = 500L
  private val zigzag: Seq[Long] =
    (0 until 500).map(i => if (i % 2 == 0) base + i else base - i)

  private val start = 400L
  private val stop = 800L
  private val expectedInRange = zigzag.count(k => k >= start && k < stop)

  private def writeAndRead(dist: Distributor, path: String) = {
    val df = zigzag.zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
    SaltedStore.write(df, $"k", dist, path)
    SaltedStore.read(spark, path)
  }

  for (
    (name, dist) <- Seq(
      "roundrobin-12" -> RoundRobin(12, "k"), // ref test: 12 buckets
      "hash-15" -> HashPrefix(15),            // ref test: 15 buckets
      "identity" -> Identity,                 // ref degenerate hasher
      "multibyte-3" -> MultiBytePrefix(3))    // ref 2-byte-prefix hasher
  ) test(s"bounded range scan: global order + exact count + in-range [$name]") {
    val t = writeAndRead(dist, s"$tmp/$name")
    val got = DistributedScan.rangeScan(t, $"k", start, stop)
      .select("k").as[Long].collect()
    assert(got.length == expectedInRange)
    assert(got.toSeq == got.sorted.toSeq, "global original-key order")
    assert(got.forall(k => k >= start && k < stop))
  }

  test("orderedIterator pulls rows in global key order (pull-based scanner parity)") {
    val t = writeAndRead(HashPrefix(15), s"$tmp/iter")
    val it = DistributedScan.orderedIterator(t.select(col("k")), $"k", start, stop)
    val keys = it.map(_.getLong(0)).toList
    assert(keys.length == expectedInRange)
    assert(keys == keys.sorted)
  }

  test("unbounded scan returns everything in order") {
    val t = writeAndRead(HashPrefix(15), s"$tmp/unbounded")
    val got = DistributedScan.rangeScanFrom(t, $"k", Long.MinValue)
      .select("k").as[Long].collect()
    assert(got.length == zigzag.length)
    assert(got.toSeq == zigzag.sorted)
  }

  test("point get finds the row; hash mode prunes to one bucket partition") {
    val dist = HashPrefix(15)
    val t = writeAndRead(dist, s"$tmp/pointget")
    val k = 504L // zigzag writes evens ≥500 and odds <500; 504 is present
    val got = DistributedScan.pointGet(t, $"k", k, dist)
    assert(got.select("k").as[Long].collect().toSeq == Seq(k))
    // partition pruning visible in the physical plan's partition filters
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition filter in plan:\n$plan")
  }

  test("range predicate is pushed down to the parquet scan") {
    val t = writeAndRead(HashPrefix(15), s"$tmp/pushdown")
    val plan = DistributedScan.rangeScan(t, $"k", start, stop)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(k,"),
      s"expected pushed range filter in plan:\n$plan")
  }

  test("per-bucket mode: bucket-local order only (MR-path parity, §3.3)") {
    val t = writeAndRead(HashPrefix(15), s"$tmp/perbucket")
    val sortedWithin = DistributedScan.perBucket(t, $"k")
      .select("bucket", "k").as[(Long, Long)]
      .mapPartitions { it =>
        val rows = it.toSeq
        Iterator.single(rows.map(_._2).sliding(2).forall {
          case Seq(a, b) => a <= b
          case _         => true
        })
      }.collect()
    assert(sortedWithin.forall(identity), "each partition sorted by key")
  }

  test("countNonEmpty counts only rows with non-empty value (O11)") {
    val df = Seq((1L, "x"), (2L, ""), (3L, null.asInstanceOf[String]), (4L, "y"))
      .toDF("k", "v")
    val cnt = DistributedScan.countNonEmpty(df, $"v").as[Long].head()
    assert(cnt == 2L)
  }

  test("store round-trips through orc, json and csv sinks too") {
    val df = zigzag.zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
    val dist = HashPrefix(8)
    for (fmt <- Seq("orc", "json", "csv")) {
      val path = s"$tmp/fmt-$fmt"
      SaltedStore.write(df, $"k", dist, path, format = fmt)
      val schema = if (fmt == "csv") Some("k LONG, v STRING") else None
      val back = SaltedStore.read(spark, path, fmt, schema)
      assert(back.count() === zigzag.length.toLong, s"format $fmt")
      val got = DistributedScan.rangeScan(back, col("k").cast("long"), start, stop)
        .select(col("k").cast("long")).as[Long].collect()
      assert(got.length === expectedInRange && got.toSeq == got.sorted.toSeq, s"format $fmt")
    }
  }

  test("bucketed layout: every bucket directory is written and keys recoverable") {
    val dist = HashPrefix(15)
    val t = SaltedStore.read(spark, s"$tmp/hash-15")
    val buckets = t.select("bucket").distinct().as[Long].collect().sorted
    assert(buckets.length > 1 && buckets.forall(b => b >= 0 && b < 15))
    // recomputed bucket matches the stored partition value
    val mismatches = t.filter(Hash31.bucket($"k", 15) =!= $"bucket").count()
    assert(mismatches == 0L)
  }

  test("co-bucketed tables join with NO shuffle exchange") {
    val left = (1L to 2000L).map(i => (i, i * 2.0)).toDF("k", "v")
    val right = (1L to 2000L by 2L).map(i => (i, s"dim$i")).toDF("k", "name")
    SaltedStore.writeBucketedTable(left, col("k"), 8, "t_fact_bkt")
    SaltedStore.writeBucketedTable(right, col("k"), 8, "t_dim_bkt")
    try {
      // disable broadcast so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("t_fact_bkt").join(spark.table("t_dim_bkt"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(joined.count() === 1000L)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS t_fact_bkt")
      spark.sql("DROP TABLE IF EXISTS t_dim_bkt")
    }
  }

  test("zstd-compressed store round-trips and actually writes zstd files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zstd_store").toString
    val df = (1L to 2000L).map(i => (i, s"row-$i" * 10)).toDF("k", "payload")
    SaltedStore.write(df, col("k"), HashPrefix(4), dir,
      options = Map("compression" -> "zstd"))
    assert(spark.read.parquet(dir).count() === 2000)
    val files = new java.io.File(s"$dir/bucket=0").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      s"expected zstd parquet files, got ${files.toList}")
  }

  test("compact recovers a crashed predecessor's parked bucket before proceeding") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("crash_store").toString
    val df = (1L to 2000L).map(i => (i, i * 3)).toDF("k", "v")
    SaltedStore.write(df, col("k"), HashPrefix(4), dir)
    // simulate a compactor that died between its two renames on
    // bucket=1: the bucket sits parked as .old_bucket=1, the marker
    // stands, and a leftover .compact_ tmp dir exists
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "bucket=1"),
      new org.apache.hadoop.fs.Path(root, ".old_bucket=1")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".compact_bucket=1"))
    val mk = new org.apache.hadoop.fs.Path(root, SaltedStore.CompactingMarker)
    val m = fs.create(mk, true)
    m.writeUTF("bucket=1"); m.close()
    // a real crash leaves the marker's heartbeat frozen in the past —
    // backdate it past livenessMs so the guard reads it as crashed
    fs.setTimes(mk, System.currentTimeMillis() - 60000L, -1L)
    // a fresh compact() must restore the parked bucket FIRST — if it
    // compacted the visible state and deleted the marker, the parked
    // rows would silently vanish from every later marker-free read
    // (waitMs=0: the planted marker is a CRASH, don't wait it out;
    // the at-rest stability check still runs)
    spark.conf.set("spark.graft.compact.waitMs", "0")
    try {
      SaltedStore.compact(spark, dir, col("k"))
      assert(SaltedStore.read(spark, dir).count() === 2000L)
      val leftovers = fs.listStatus(root).map(_.getPath.getName)
        .filter(n => n.startsWith(".old_") || n.startsWith(".compact_") ||
          n == SaltedStore.CompactingMarker)
      assert(leftovers.isEmpty, s"crash debris must be gone: ${leftovers.toList}")
    } finally spark.conf.unset("spark.graft.compact.waitMs")
  }

  test("compact refuses to recover a LIVE peer's marker (state still moving)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("live_peer_store").toString
    val df = (1L to 500L).map(i => (i, i)).toDF("k", "v")
    SaltedStore.write(df, col("k"), HashPrefix(2), dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(root, SaltedStore.CompactingMarker)
    val m = fs.create(marker, true); m.writeUTF("bucket=0"); m.close()
    // a "live peer": keeps rewriting the marker, so its mtime never
    // holds still through the stability snapshots
    @volatile var stop = false
    val peer = new Thread(() => {
      while (!stop) {
        val w = fs.create(marker, true); w.writeUTF("bucket=0"); w.close()
        Thread.sleep(20)
      }
    })
    peer.start()
    spark.conf.set("spark.graft.compact.waitMs", "0")
    spark.conf.set("spark.graft.compact.stabilityMs", "50")
    try {
      val e = intercept[IllegalArgumentException] {
        SaltedStore.compact(spark, dir, col("k"))
      }
      assert(e.getMessage.contains("concurrent compact"))
      // and the peer's state was NOT destroyed: marker still up
      assert(fs.exists(marker))
    } finally {
      stop = true; peer.join()
      spark.conf.unset("spark.graft.compact.waitMs")
      spark.conf.unset("spark.graft.compact.stabilityMs")
    }
  }

  test("compact refuses a STILL peer with a fresh heartbeat (parked between renames)") {
    // The round-13 ADVICE scenario: a live compactor parked between its
    // two renames for longer than the stability window (normal between
    // Spark stages) used to pass the listing-stability check and have
    // its swap state recovered out from under it. Liveness is now read
    // DIRECTLY off the marker heartbeat: a fresh mtime refuses recovery
    // even when the listing holds perfectly still.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("still_peer_store").toString
    val df = (1L to 500L).map(i => (i, i)).toDF("k", "v")
    SaltedStore.write(df, col("k"), HashPrefix(2), dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(root, SaltedStore.CompactingMarker)
    val m = fs.create(marker, true); m.writeUTF("bucket=0"); m.close()
    // peer holds STILL: no marker rewrites, no listing churn — only the
    // heartbeat mtime says it's alive (it was refreshed "just now")
    spark.conf.set("spark.graft.compact.waitMs", "0")
    spark.conf.set("spark.graft.compact.stabilityMs", "20")
    try {
      val e = intercept[IllegalArgumentException] {
        SaltedStore.compact(spark, dir, col("k"))
      }
      assert(e.getMessage.contains("fresh heartbeat"))
      assert(fs.exists(marker)) // peer state untouched
    } finally {
      spark.conf.unset("spark.graft.compact.waitMs")
      spark.conf.unset("spark.graft.compact.stabilityMs")
    }
  }

  test("compactRetain drops expired rows in the rewrite, layout and prune intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("retain_store").toString
    val df = (1L to 4000L).map(i => (i, i % 100)).toDF("k", "age")
    SaltedStore.write(df, col("k"), HashPrefix(4), dir)
    // TTL pass: keep age < 50 — exactly half the rows, spread everywhere
    SaltedStore.compactRetain(spark, dir, col("k"), col("age") < 50L)
    val kept = SaltedStore.read(spark, dir).select("k").as[Long].collect().sorted
    assert(kept.toSeq === (1L to 4000L).filter(_ % 100 < 50))
    // idempotent: a second retention pass with the same predicate is a
    // rewrite of already-retained data — nothing more vanishes
    SaltedStore.compactRetain(spark, dir, col("k"), col("age") < 50L)
    assert(SaltedStore.read(spark, dir).count() === kept.length.toLong)
    // the rewrite kept the bucketed layout: every bucket dir present,
    // files key-sorted so the point-get prune still works
    val q = graft.scan.DistributedScan.pointGet(
      SaltedStore.read(spark, dir), col("k"), 7L, HashPrefix(4))
    assert(q.count() === 1L)
  }

  test("describe reports per-bucket files, bytes, rows, and key ranges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("describe_store").toString
    val df = (1L to 4000L).map(i => (i, i * 2.0)).toDF("k", "v")
    SaltedStore.write(df, col("k"), HashPrefix(4), dir)
    val d = SaltedStore.describe(spark, dir, col("k")).collect()
    assert(d.map(_.getLong(0)).sorted.sameElements(0L until 4L))
    assert(d.map(_.getLong(3)).sum === 4000L) // n_rows across buckets
    d.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) > 0) // files, bytes
      assert(r.getLong(4) >= 1L && r.getLong(5) <= 4000L) // key range sane
      assert(r.getLong(4) <= r.getLong(5))
    }
  }

  test("describe counts the same files and bytes from the manifest as from a listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("describe_listing").toString
    (0 until 2).foreach { b =>
      val part = ((b * 1000L + 1) to (b * 1000L + 1000L)).map(i => (i, i * 2.0)).toDF("k", "v")
      SaltedStore.write(part, col("k"), HashPrefix(4), dir, mode = "append")
    }
    // a local write leaves a checksum sidecar next to every part file
    assert(new java.io.File(s"$dir/bucket=0").listFiles().exists(_.getName.endsWith(".crc")))
    def facts = SaltedStore.describe(spark, dir, col("k"))
      .select("bucket", "n_files", "bytes").as[(Long, Long, Long)].collect().toSeq
    val fromManifest = facts
    assert(fromManifest.forall(_._2 >= 2), fromManifest)
    graft.store.FileManifest.delete(spark, dir)
    // the raw local filesystem lists the sidecars, as an object store
    // holding a copied tree does (the checksummed one hides them)
    spark.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try assert(facts === fromManifest)
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("compact merges small files per bucket, preserving data and order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_store").toString
    val dist = HashPrefix(4)
    // 6 appends = 6 small files per bucket (streaming micro-batch analog)
    (0 until 6).foreach { b =>
      val part = ((b * 500L + 1) to (b * 500L + 500L)).map(i => (i, i * 1.5)).toDF("k", "v")
      SaltedStore.write(part, col("k"), dist, dir, mode = "append")
    }
    def bucketFiles(b: Int) = new java.io.File(s"$dir/bucket=$b")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    val before = (0 until 4).map(bucketFiles)
    assert(before.forall(_ >= 6), s"expected >=6 files per bucket, got $before")
    val beforeData = spark.read.parquet(dir).select("k", "v", "bucket")
      .as[(Long, Double, Long)].collect().toSet

    SaltedStore.compact(spark, dir, col("k"))

    val after = (0 until 4).map(bucketFiles)
    assert(after.forall(_ == 1), s"expected 1 file per bucket, got $after")
    val afterData = spark.read.parquet(dir).select("k", "v", "bucket")
      .as[(Long, Double, Long)].collect().toSet
    assert(afterData === beforeData)
    // within each compacted file the keys are sorted (scan order parity)
    (0 until 4).foreach { b =>
      val ks = spark.read.parquet(s"$dir/bucket=$b").select("k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"bucket $b not sorted after compact")
    }
  }

  test("reader mid-compaction-swap sees the full table via the marker fallback") {
    import spark.implicits._
    // a persistent marker means a CRASHED compact; don't wait out the
    // (simulated) swap in the test. Restored in the finally — the session
    // is shared, and a leaked 0 would disable the wait for later suites.
    spark.conf.set("spark.graft.compact.waitMs", "0")
    try {
    val dir = java.nio.file.Files.createTempDirectory("compact_swap").toString
    val dist = HashPrefix(4)
    val df = (1L to 2000L).map(i => (i, i * 1.5)).toDF("k", "v")
    SaltedStore.write(df, col("k"), dist, dir)
    val full = SaltedStore.read(spark, dir).select("k", "v", "bucket")
      .as[(Long, Double, Long)].collect().toSet

    // freeze the compact swap window for bucket 2: data parked at
    // .old_bucket=2, no visible bucket=2, marker up — exactly the state
    // between compact's two renames (or after a crash there)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(dir, s)
    assert(fs.rename(p("bucket=2"), p(".old_bucket=2")))
    val m = fs.create(p(SaltedStore.CompactingMarker), true)
    try m.writeUTF("bucket=2") finally m.close()

    // plain spark.read would now silently drop bucket 2...
    val naive = spark.read.parquet(dir).count()
    assert(naive < full.size, "test setup: bucket 2 should be invisible to a naive read")
    // ...but the store reader recovers it, with the partition col restored
    val got = SaltedStore.read(spark, dir).select("k", "v", "bucket")
      .as[(Long, Double, Long)].collect().toSet
    assert(got === full)
    // describe also reports all 4 buckets
    val desc = SaltedStore.describe(spark, dir, col("k"))
      .select("bucket", "n_rows").as[(Long, Long)].collect().toMap
    assert(desc.keySet === Set(0L, 1L, 2L, 3L))
    assert(desc.values.sum === full.size.toLong)

    // swap completes: marker down, bucket visible again → fallback inert
    assert(fs.rename(p(".old_bucket=2"), p("bucket=2")))
    fs.delete(p(SaltedStore.CompactingMarker), false)
    assert(SaltedStore.read(spark, dir).count() === full.size.toLong)
    } finally spark.conf.unset("spark.graft.compact.waitMs")
  }

  test("crashed compact with EVERY bucket parked is still readable") {
    import spark.implicits._
    spark.conf.set("spark.graft.compact.waitMs", "0")
    try {
    val dir = java.nio.file.Files.createTempDirectory("compact_crash").toString
    val df = (1L to 300L).map(i => (i, s"r$i")).toDF("k", "v")
    SaltedStore.write(df, col("k"), graft.keys.Identity, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(dir, s)
    // crash state on a single-bucket store: the ONLY bucket is parked —
    // a plain read has no visible data files at all
    assert(fs.rename(p("bucket=0"), p(".old_bucket=0")))
    fs.create(p(SaltedStore.CompactingMarker), true).close()
    val got = SaltedStore.read(spark, dir)
    assert(got.count() === 300)
    assert(got.filter(col("bucket") =!= 0).count() === 0)
    } finally spark.conf.unset("spark.graft.compact.waitMs")
  }
}
