package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** GlobalWindowSplit: a single Window node mixing frame families over
  * one ORDER BY must split so every family plans its rescue exec —
  * values identical to the unsplit built-in. */
class GlobalWindowSplitSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  private def tied = (0 until 10000)
    .map(i => ((i % 97).toLong, ((i * 2654435761L) % 1000).toLong, i.toLong))
    .toDF("k", "v", "id").repartition(7)

  test("running + suffix + rank + lag over ONE order spec: all four rescued") {
    tied.createOrReplaceTempView("gws_t")
    // identical (empty, ORDER BY k, id) spec → ONE analyzed Window node
    def out = spark.sql(
      """SELECT id,
           SUM(v) OVER (ORDER BY k, id) AS run_sum,
           SUM(v) OVER (ORDER BY k, id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rem_sum,
           rank() OVER (ORDER BY k, id) AS rnk,
           lag(v, 1) OVER (ORDER BY k, id) AS prev_v
         FROM gws_t""")
    val p = out.queryExecution.executedPlan.toString
    assert("GlobalRunningAgg".r.findAllIn(p).length >= 2,
      s"expected running AND suffix GlobalRunningAggExec nodes:\n$p")
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(p.contains("GlobalOffsetWindow"), s"expected GlobalOffsetWindowExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no single-task WindowExec may survive the split:\n$p")
    assertMatchesBuiltIn("running + suffix + rank + lag", 4)(out)
  }

  test("unclaimed family splits out alone and keeps the built-in, others rescue") {
    tied.createOrReplaceTempView("gws_t2")
    // collect_list is deliberately unclaimed (its value IS the
    // enumeration order); the split must leave it (and only it) on the
    // built-in path while the running sum rescues. (nth_value past the
    // head cap — this test's previous unclaimed example — now fetches
    // its value with a targeted second job instead of falling back.)
    def out = spark.sql(
      """SELECT id,
           SUM(v) OVER (ORDER BY k, id) AS run_sum,
           collect_list(v) OVER (ORDER BY k, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
         FROM gws_t2""")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRunningAgg"), s"running sum must still rescue:\n$p")
    assert(p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"collect_list keeps WindowExec:\n$p")
    assertMatchesBuiltIn("running sum beside an unclaimed collect_list", 4,
      Seq("GlobalRunningAgg"), whole = false)(out)
  }

  test("homogeneous nodes and partitioned windows are left untouched") {
    // single-category node: the strategy handles it directly, no split
    val one = tied.selectExpr("id", "SUM(v) OVER (ORDER BY k, id) AS s",
      "COUNT(v) OVER (ORDER BY k, id) AS c")
    assert(one.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.length == 1)
    // partitioned mixed node where EVERY family is partition-capable:
    // split, so each group reaches its rescue over ONE shared exchange
    def part = tied.selectExpr("id",
      "SUM(v) OVER (PARTITION BY k ORDER BY id) AS s",
      "rank() OVER (PARTITION BY k ORDER BY id) AS r")
    val pp = part.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalRunningAgg") && pp.contains("GlobalRowNumber"),
      s"partition-capable mixed node must split into both rescues:\n$pp")
    assertMatchesBuiltIn("per-key running sum + rank", 4)(part)
    // per-key whole-group last_value is now nth-rescuable: a mixed
    // running + whole-group node splits and BOTH rescue
    def lastPart = tied.selectExpr("id",
      "SUM(v) OVER (PARTITION BY k ORDER BY id) AS s",
      """last_value(v) OVER (PARTITION BY k ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv""")
    val lp = lastPart.queryExecution.executedPlan.toString
    assert(lp.contains("GlobalRunningAgg") && lp.contains("GlobalNthValue"),
      s"running + per-key whole-group last_value must both rescue:\n$lp")
    assertMatchesBuiltIn("per-key running sum + whole-group last_value", 4)(lastPart)
    // partitioned mixed node with a NON-capable family (nth_value past
    // the driver-head cap has no rescue): left whole — a partial split
    // would pay two exchanges and still keep the hot-key wall
    val mixedPart = tied.selectExpr("id",
      "SUM(v) OVER (PARTITION BY k ORDER BY id) AS s",
      """nth_value(v, 100000) OVER (PARTITION BY k ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv""")
    val wp = mixedPart.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wp.length == 1 && wp.head.windowExpressions.length == 2)
  }

  test("nth_value(x, 1) over a prefix frame plans as the running family, alone and beside rank()") {
    // both the running family (a prefix nth_value(x, 1) IS a running
    // first_value) and the nth-value family claim this expression; the
    // running family is first in the family order and must keep it
    tied.createOrReplaceTempView("gws_t4")
    def isWindowExec(line: String) = line.trim.stripPrefix("+- ").startsWith("Window [")
    for (over <- Seq("ORDER BY id", "PARTITION BY k ORDER BY id")) {
      val alone = spark.sql(s"SELECT id, nth_value(v, 1) OVER ($over) AS f FROM gws_t4")
      val pa = alone.queryExecution.executedPlan.toString
      assert(pa.contains("GlobalRunningAgg ") && !pa.contains("GlobalNthValue ") &&
        !pa.linesIterator.exists(isWindowExec), s"alone, OVER ($over):\n$pa")
      def mixed = spark.sql(s"""SELECT id, nth_value(v, 1) OVER ($over) AS f,
          rank() OVER ($over) AS r FROM gws_t4""")
      val pm = mixed.queryExecution.executedPlan.toString
      assert(pm.contains("GlobalRunningAgg ") && pm.contains("GlobalRowNumber ") &&
        !pm.contains("GlobalNthValue ") && !pm.linesIterator.exists(isWindowExec),
        s"beside rank(), OVER ($over):\n$pm")
      assertMatchesBuiltIn(s"nth_value(v, 1) beside rank(), OVER ($over)", 4)(mixed)
    }
  }

  test("opt-out leaves mixed nodes unsplit") {
    tied.createOrReplaceTempView("gws_t3")
    withConf(GlobalWindowStrategy.ConfKey, "false") {
      val out = spark.sql(
        """SELECT SUM(v) OVER (ORDER BY k, id) AS a,
             rank() OVER (ORDER BY k, id) AS b FROM gws_t3""")
      val ws = out.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(ws.length == 1 && ws.head.windowExpressions.length == 2)
    }
  }
}
