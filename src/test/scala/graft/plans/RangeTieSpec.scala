package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A rescue needs every tie run of its ordering in one task. Spark's
  * OrderedDistribution(k) is also met by a range partitioning on a
  * longer ordering (k, id), which splits a tie run of k across tasks:
  * the rescue must then re-exchange instead of ranking each slice from
  * its own task's start. Both shapes that reach it, against a freshly
  * planned built-in, on uncoalesced range partitions. */
class RangeTieSpec extends SparkSuite {
  import spark.implicits._

  // key 7 holds 800 of the 2,000 rows: its tie run spans range tasks
  private def hot = (0 until 2000)
    .map(i => (if (i < 800) 7L else (i % 40) * 3L, ((i * 7919) % 1000).toLong, i.toLong))
    .toDF("k", "v", "id").repartition(5)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Rows of a fresh `build()` with the rescues on and off, at 4
    * uncoalesced range partitions, plus the rescued plan. */
  private def bothSides(build: => DataFrame): (Seq[String], Seq[String], String) = {
    def snap(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      withConf("spark.sql.shuffle.partitions", "4") {
        val rescued = build
        val got = snap(rescued)
        val expected = withConf(GlobalRowNumberStrategy.ConfKey, "false")(snap(build))
        (got, expected, rescued.queryExecution.executedPlan.toString)
      }
    }
  }

  test("rank over k stacked on nth_value over (k, id) keeps k's tie run whole") {
    val byKId = Window.orderBy("k", "id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val (got, expected, plan) = bothSides(hot
      .withColumn("nth", nth_value(col("v"), 20).over(byKId))
      .withColumn("rnk", rank().over(Window.orderBy("k"))))
    assert(plan.contains("GlobalRowNumber") && plan.contains("GlobalNthValue"), plan)
    assert(got == expected, s"rescued ${got.diff(expected).take(3)}, " +
      s"built-in ${expected.diff(got).take(3)}")
  }

  test("rank over k above a global sort on (k, id) keeps k's tie run whole") {
    val (got, expected, plan) = bothSides(hot.orderBy("k", "id")
      .withColumn("rnk", rank().over(Window.orderBy("k"))))
    assert(plan.contains("GlobalRowNumber"), plan)
    assert(got == expected, s"rescued ${got.diff(expected).take(3)}, " +
      s"built-in ${expected.diff(got).take(3)}")
  }
}
