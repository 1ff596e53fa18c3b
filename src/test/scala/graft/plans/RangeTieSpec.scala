package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A rescue needs every tie run of its ordering in one task. Spark's
  * OrderedDistribution(k) is also met by a range partitioning on a
  * longer ordering (k, id), which splits a tie run of k across tasks:
  * the rescue must then re-exchange instead of ranking each slice from
  * its own task's start. Both shapes that reach it, against a freshly
  * planned built-in, on uncoalesced range partitions. */
class RangeTieSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // key 7 holds 800 of the 2,000 rows: its tie run spans range tasks
  private def hot = (0 until 2000)
    .map(i => (if (i < 800) 7L else (i % 40) * 3L, ((i * 7919) % 1000).toLong, i.toLong))
    .toDF("k", "v", "id").repartition(5)

  test("rank over k stacked on nth_value over (k, id) keeps k's tie run whole") {
    val byKId = Window.orderBy("k", "id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    assertMatchesBuiltIn("rank over a rescue over (k, id)", 4,
        Seq("GlobalRowNumber", "GlobalNthValue")) {
      hot.withColumn("nth", nth_value(col("v"), 20).over(byKId))
        .withColumn("rnk", rank().over(Window.orderBy("k")))
    }
  }

  test("rank over k above a global sort on (k, id) keeps k's tie run whole") {
    assertMatchesBuiltIn("rank over a sort on (k, id)", 4, Seq("GlobalRowNumber")) {
      hot.orderBy("k", "id").withColumn("rnk", rank().over(Window.orderBy("k")))
    }
  }
}
