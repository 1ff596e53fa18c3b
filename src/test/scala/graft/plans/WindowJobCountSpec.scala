package graft.plans

import graft.{JobCounting, SparkSuite}

/** Job-count pin for the window rescues: one global and one PARTITION
  * BY shape of every family, each on the same fixed small input, must
  * plan its rescue exec and start exactly the committed number of Spark
  * jobs per `collect` ([[graft.JobCounting]] counts them). The counts include
  * the input's and the exchanges' own jobs (map stages, the range
  * partitioner's sampling), so any extra or missing boundary, fetch or
  * stats job in an exec shows up as a changed number. */
class WindowJobCountSpec extends SparkSuite with JobCounting {

  /** Jobs started by one `collect` of `sql`, and its executed plan. */
  private def jobsOf(sql: String): (Int, String) = {
    val df = spark.sql(sql)
    val (_, n) = countingJobs(df.collect())
    (n, df.queryExecution.executedPlan.toString)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** (family, window expression, exec it must plan, jobs per collect).
    * An ordered rescue starts four: the range partitioner's sampling
    * job, the exchange's map stage, the exec's one edge-summary job and
    * the result job. The unordered whole-table constant starts two: its
    * partials job and the result job. Measured before the window
    * rescues shared one planner strategy and one exec base, and
    * unchanged by that refactor. */
  private val table: Seq[(String, String, String, Int)] = Seq(
    ("ranking", "row_number() OVER (ORDER BY id)", "GlobalRowNumberExec", 4),
    ("ranking", "cume_dist() OVER (PARTITION BY k ORDER BY id)", "GlobalRowNumberExec", 4),
    ("offset", "lag(v, 2) OVER (ORDER BY id)", "GlobalOffsetWindowExec", 4),
    ("offset", "lead(v) OVER (PARTITION BY k ORDER BY id)", "GlobalOffsetWindowExec", 4),
    ("offset ignore nulls", "lag(v, 1) IGNORE NULLS OVER (ORDER BY id)",
      "GlobalOffsetWindowExec", 4),
    ("offset ignore nulls", "lead(v, 2) IGNORE NULLS OVER (PARTITION BY k ORDER BY id)",
      "GlobalOffsetWindowExec", 4),
    // both null modes in one node plan one exec: one edge-summary job
    ("offset mixed", "lag(v, 1) OVER (ORDER BY id) AS a, " +
      "lag(v, 2) IGNORE NULLS OVER (ORDER BY id)", "GlobalOffsetWindowExec", 4),
    ("running", "SUM(v) OVER (ORDER BY id)", "GlobalRunningAggExec", 4),
    ("running", "MIN(v) OVER (PARTITION BY k ORDER BY id)", "GlobalRunningAggExec", 4),
    ("suffix", "SUM(v) OVER (ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)",
      "GlobalRunningAggExec", 4),
    ("suffix", "MAX(v) OVER (PARTITION BY k ORDER BY id " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)", "GlobalRunningAggExec", 4),
    ("sliding", "AVG(v) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING)",
      "GlobalSlidingAggExec", 4),
    ("sliding", "SUM(v) OVER (PARTITION BY k ORDER BY id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
      "GlobalSlidingAggExec", 4),
    ("constant", "SUM(v) OVER ()", "GlobalConstantAggExec", 2),
    ("constant", "SUM(v) OVER (PARTITION BY k)", "GlobalConstantAggExec", 4),
    ("range frame", "SUM(v) OVER (ORDER BY ts " +
      "RANGE BETWEEN INTERVAL 5 MINUTES PRECEDING AND CURRENT ROW)", "GlobalRangeFrameExec", 4),
    ("range frame", "COUNT(v) OVER (PARTITION BY k ORDER BY ts " +
      "RANGE BETWEEN CURRENT ROW AND INTERVAL 30 MINUTES FOLLOWING)", "GlobalRangeFrameExec", 4),
    ("nth value", "nth_value(v, 5) OVER (ORDER BY id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", "GlobalNthValueExec", 4),
    ("nth value", "nth_value(v, 2) OVER (PARTITION BY k ORDER BY id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", "GlobalNthValueExec", 4))

  /** How an exec shows in a plan string: its node name and a space. */
  private def node(exec: String) = exec.stripSuffix("Exec") + " "

  private def input(view: String): Unit =
    spark.range(0, 3000).selectExpr("id", "id % 13 AS k",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE (id * 37) % 101 END AS v",
      "TIMESTAMP_SECONDS(id * 60) AS ts").createOrReplaceTempView(view)

  test("every family's global and PARTITION BY shape starts the committed job count") {
    input("wjc_t")
    val measured = table.map { case (family, expr, exec, jobs) =>
      val (n, plan) = jobsOf(s"SELECT id, $expr AS w FROM wjc_t")
      assert(plan.contains(node(exec)), s"$family `$expr` must plan $exec:\n$plan")
      (family, expr, n, jobs)
    }
    val wrong = measured.filter { case (_, _, n, jobs) => n != jobs }
    assert(wrong.isEmpty, wrong.map { case (f, e, n, jobs) =>
      s"$f `$e`: $n jobs, table says $jobs" }.mkString("\n"))
  }

  test("nth_value past the head cap adds exactly the targeted fetch job") {
    input("wjc_t2")
    val sql = "SELECT id, nth_value(v, 5) OVER (ORDER BY id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w FROM wjc_t2"
    val (capped, plan) = withConf(GlobalNthValueStrategy.MaxNKey, "2")(jobsOf(sql))
    assert(plan.contains(node("GlobalNthValueExec")), plan)
    val (uncapped, _) = jobsOf(sql)
    assert((capped, uncapped) == ((5, 4)))
  }
}
