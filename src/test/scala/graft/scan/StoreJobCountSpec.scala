package graft.scan

import graft.{JobCounting, SparkSuite}
import graft.keys.HashPrefix
import graft.store.{FileManifest, GramIndex, SaltedStore}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Job-count pins for the paper's operations on a manifest-backed salted
  * store with appends (four files per bucket): the read starts no job, a
  * point get one job over one file, an ordered scan below the advisory
  * partition size one job, the running sum at most three; building the
  * sharded indexes' tombstone and delta-segment reads starts none. */
class StoreJobCountSpec extends SparkSuite with JobCounting with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dist = HashPrefix(4)
  private val Base = 20000L
  private val Batch = 2000L

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select((col("id") * 10).as("k"), (col("id") * 7 % 1000).as("v"),
      concat(lit("p"), col("id").cast("string")).as("payload"))

  private lazy val store: String = {
    val dir = java.nio.file.Files.createTempDirectory("store_jobs").toString + "/s"
    SaltedStore.write(rows(0, Base), col("k"), dist, dir)
    (0 until 3).foreach { b =>
      SaltedStore.write(rows(Base + b * Batch, Base + (b + 1) * Batch), col("k"), dist, dir,
        mode = "append")
    }
    dir
  }
  private def total = Base + 3 * Batch

  test("the store is multi-file and its manifest records every file's key range") {
    val m = FileManifest.load(spark, store).get
    assert(m.parts.map(_._2.size).toSet === Set(4), m.parts)
    assert(m.key.contains("k") && m.entries.forall(_.keyRange.isDefined))
  }

  test("read() starts no job") {
    val (df, jobs) = countingJobs(SaltedStore.read(spark, store))
    assert(jobs === 0)
    assert(df.columns.toSeq === Seq("k", "v", "payload", "bucket"))
    assert(df.count() === total)
  }

  test("a point get starts one job and opens one file") {
    val k = (Base + Batch + 17) * 10 // an appended row
    val df = DistributedScan.pointGet(SaltedStore.read(spark, store), col("k"), k, dist)
    val (got, jobs) = countingJobs(df.collect())
    assert(got.map(_.getAs[Long]("k")).toSeq === Seq(k))
    assert(jobs === 1)
    val files = collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }
    assert(files === Seq(1L))
  }

  test("orderedIterator below the advisory partition size starts one job") {
    val (lo, hi) = ((Base - 500) * 10, (Base + 2500) * 10) // base and appended files
    val t = SaltedStore.read(spark, store)
    val (keys, jobs) = countingJobs(
      DistributedScan.orderedIterator(t, col("k"), lo, hi).map(_.getAs[Long]("k")).toVector)
    assert(keys === (lo until hi by 10L).toVector)
    assert(jobs === 1)
  }

  test("the running sum over a range starts at most three jobs, rescued and unexchanged") {
    val (lo, hi) = (1000L * 10, 21000L * 10)
    def df = DistributedScan.rangeScan(SaltedStore.read(spark, store), col("k"), lo, hi)
      .withColumn("run", sum(col("v")).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(count(lit(1)), max(col("run")))
    val q = df
    val (r, jobs) = countingJobs(q.collect()(0))
    val expected = (1000L until 21000L).map(_ * 7 % 1000).sum
    assert(r.getLong(0) === 20000L && r.getLong(1) === expected)
    assert(jobs <= 3, s"$jobs jobs")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRunningAgg") && plan.contains("MergeScan") &&
      !plan.contains("rangepartitioning"), plan)
  }

  test("building the tombstone and delta-segment reads starts no job") {
    val p = java.nio.file.Files.createTempDirectory("delta_jobs").toString + "/idx"
    def sets(lo: Long, hi: Long) =
      (lo until hi).flatMap(d => (0L until 5L).map(j => (d, d * 31 + j))).toDF("doc_id", "x")
    GramIndex.write(sets(0, 40), p, nShards = 4)
    GramIndex.append(sets(40, 50), p)
    GramIndex.delete(spark, p, Seq(3L, 41L))
    val layout = GramIndex.layout
    val (built, jobs) = countingJobs {
      val t = layout.tombstones(spark, p)
      val d = layout.layers.map(l => layout.withDelta(spark, p, l, layout.readAll(spark, p, l))(_.drop("shard")))
      (t, d)
    }
    assert(jobs === 0)
    assert(built._1.get.as[Long].collect().sorted.toSeq === Seq(3L, 41L))
    val postings = layout.layers.indexWhere(_.dir == "postings")
    assert(built._2(postings).count() === 50L * 5)
  }
}
