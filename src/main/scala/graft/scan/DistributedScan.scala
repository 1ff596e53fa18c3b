package graft.scan

import graft.keys._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed read path — SURVEY.md §3.2/§3.3 re-expressed declaratively.
  *
  * The reference fans one logical [start, stop) scan into N per-bucket
  * scans (wd/AbstractRowKeyDistributor.java:47-81) and k-way-merges the
  * sorted streams back into global original-key order
  * (wd/DistributedScanner.java:106-139). On Spark the same semantics are
  * one declarative plan: `filter(key ∈ [start, stop)) → orderBy(key)`.
  * On a store `SaltedStore.read` serves off its file manifest, that plan
  * is the k-way merge itself: `graft.plans.MergeScanExec` opens each
  * key-sorted file whose recorded key range meets [start, stop) (the
  * per-bucket scanners, the range pushed to the row groups) and merges
  * their streams through a priority queue — no sample, no exchange, no
  * sort, one task — when the range's estimated bytes fit the advisory
  * partition size. Any other input (a larger range, a store read by
  * listing or holding a file with no recorded key range, another
  * format, a derived or descending sort key) keeps Spark's
  * range-partitioned SortExec, which restores the same order with a
  * sample job and an exchange and spreads a large range over many
  * tasks. Neither materializes the result on the driver.
  */
object DistributedScan {

  /** O6+O7+O8: ordered range scan. Global order by original key —
    * the reference's DistributedScanner contract
    * (wd/DistributedScanner.java:126-131, asserted in
    * wd-test/RowKeyDistributorTestBase.java:164-167). */
  def rangeScan(table: DataFrame, key: Column, start: Long, stop: Long): DataFrame =
    table.filter(key >= start && key < stop).orderBy(key)

  /** Unbounded-stop variant (reference empty-stop branch,
    * wd/AbstractRowKeyDistributor.java:50-57). */
  def rangeScanFrom(table: DataFrame, key: Column, start: Long): DataFrame =
    table.filter(key >= start).orderBy(key)

  /** Streaming-iterator consumption of the ordered scan — the reference's
    * pull-based ResultScanner contract (wd/DistributedScanner.java:61-86:
    * batched `next(nbRows)`, nothing materialized ahead of the consumer).
    * `toLocalIterator` pulls ONE sorted partition at a time to the
    * driver, one job per partition, in key order: a merge scan's one
    * partition (one job, at most the advisory partition size) or a
    * range-partitioned sort's partitions. Peak driver memory is one
    * partition, not the result set (SURVEY.md §7.5). */
  def orderedIterator(table: DataFrame, key: Column, start: Long,
                      stop: Long): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    rangeScan(table, key, start, stop).toLocalIterator().asScala
  }

  /** O9 point get. On a hash-salted table the added `bucket = hash(k)`
    * predicate partition-prunes to ONE bucket — an improvement over the
    * reference, which always fans to all prefixes
    * (wd/RowKeyDistributorByHashPrefix.java:126-135; SURVEY.md §4). */
  def pointGet(table: DataFrame, key: Column, k: Long, dist: Distributor): DataFrame = {
    val base = table.filter(key === k)
    dist match {
      case h: HashPrefix      => base.filter(col("bucket") === h.bucket(lit(k)))
      case m: MultiBytePrefix => base.filter(col("bucket") === m.bucket(lit(k)))
      case _                  => base // round-robin/identity: probe all buckets (O5 semantics)
    }
  }

  /** §3.3 MR-path parity: per-bucket processing, bucket-local order only —
    * global order deliberately NOT restored (the reference's mappers see
    * salted rows in bucket order; wd/WdTableInputFormat.java:58-77). */
  def perBucket(table: DataFrame, key: Column): DataFrame =
    table.repartition(col("bucket")).sortWithinPartitions(key)

  /** O11 row-count: rows having a non-empty value, the reference's one
    * aggregation (wd-test/RowKeyDistributorTestBase.java:210-223). */
  def countNonEmpty(table: DataFrame, value: Column): DataFrame =
    table.filter(value.isNotNull && length(value) > 0).agg(count(lit(1)).as("cnt"))

  /** O13 debug dump: capped ordered sample with rendered salted key
    * (reference wd-test/DebugUtil.java:38-60, 1000-row cap :43). */
  def debugDump(table: DataFrame, key: Column, dist: Distributor, cap: Int = 1000): DataFrame =
    table
      .withColumn("salted_key_hex",
        lower(hex(Salt.saltedKey(col("bucket"), key, dist.prefixLength))))
      .orderBy(key)
      .limit(cap)

  /** O6 interval fan-out, materialized: the N per-bucket
    * [prefix⧺start, prefix⧺stop) physical intervals for one logical range
    * (reference wd/AbstractRowKeyDistributor.java:47-69). Kept as an
    * inspectable operator for parity; the scan path itself never needs it
    * (Catalyst partition-pruning subsumes it). */
  def distributedIntervals(spark: org.apache.spark.sql.SparkSession,
                           dist: Distributor, start: Long, stop: Long): DataFrame = {
    import spark.implicits._
    val pl = math.max(dist.prefixLength, 1)
    spark.range(dist.numBuckets).toDF("bucket")
      .select(
        $"bucket",
        lower(hex(Salt.saltedKey($"bucket", lit(start), pl))).as("start_hex"),
        lower(hex(Salt.saltedKey($"bucket", lit(stop), pl))).as("stop_hex"))
      .orderBy($"bucket")
  }
}
