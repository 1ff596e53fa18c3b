package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** GlobalWindowFallback: a global Window shape no strategy claims must
  * WARN and count at plan time (the single-task stage would otherwise
  * hang silently at scale); rescued shapes and opted-out sessions must
  * not. */
class GlobalWindowFallbackSpec extends SparkSuite {
  import spark.implicits._

  private def df = (0 until 500)
    .map(i => (((i * 2654435761L) % 7200).toLong, i.toLong))
    .toDF("secs", "id")
    .withColumn("ts", timestamp_seconds(col("secs")))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("unclaimed month-interval frame counts a fallback; rescued shapes do not") {
    df.createOrReplaceTempView("gwf_t")
    val before = GlobalWindowFallback.fallbacks.get()
    // collect_list stays unclaimed DELIBERATELY (its value IS the
    // enumeration order — no partial-merge preserves it; month frames
    // resolve per row through the calendar, and nth_value past the
    // head cap now fetches, so neither falls back any more)
    val month = spark.sql(
      """SELECT id, collect_list(id) OVER (ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         FROM gwf_t""")
    val p = month.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"the month frame must keep the built-in (that is the point):\n$p")
    assert(GlobalWindowFallback.fallbacks.get() > before,
      "planning a SinglePartition WindowExec must increment the fallback counter")

    // a rescued running sum plans GlobalRunningAgg — no fallback counted
    val after = GlobalWindowFallback.fallbacks.get()
    val rescued = spark.sql("SELECT id, SUM(id) OVER (ORDER BY id) AS rs FROM gwf_t")
    assert(rescued.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    assert(GlobalWindowFallback.fallbacks.get() == after,
      "rescued shapes must not count as fallbacks")
  }

  test("warned-shape memory is bounded; the counter stays exact past the cap") {
    // the remembered-shape set must not grow without bound on a
    // long-lived cluster (generated SQL mints endless distinct shapes);
    // the COUNTER keeps counting exactly regardless
    assert(GlobalWindowFallback.MaxWarnedShapes > 0 &&
      GlobalWindowFallback.MaxWarnedShapes <= 65536,
      "the cap must exist and be modest")
    df.createOrReplaceTempView("gwf_t3")
    val before = GlobalWindowFallback.fallbacks.get()
    // two distinct unclaimed shapes: both count
    (1 to 2).foreach { n =>
      spark.sql(
        s"""SELECT id, collect_list(id + $n) OVER (ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            FROM gwf_t3""").queryExecution.executedPlan
    }
    assert(GlobalWindowFallback.fallbacks.get() == before + 2,
      "every fallback must count, warned or not")
  }

  test("opt-out sessions are not warned: single-task plans are then chosen") {
    df.createOrReplaceTempView("gwf_t2")
    withConf(GlobalWindowStrategy.ConfKey, "false") {
      val before = GlobalWindowFallback.fallbacks.get()
      val out = spark.sql("SELECT id, SUM(id) OVER (ORDER BY id) AS rs FROM gwf_t2")
      out.queryExecution.executedPlan // force planning
      assert(GlobalWindowFallback.fallbacks.get() == before,
        "with rescues opted out, the built-in plan is deliberate — no warning")
    }
  }
}
