package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalSlidingAggStrategy: naive global moving aggregates
  * (`ROWS BETWEEN k PRECEDING AND CURRENT ROW`) must plan as the
  * boundary-stitch + frame-fold exec and match the built-in
  * single-task WindowExec exactly — including double sums, since each
  * value is the same sequential fold WindowExec performs. */
class GlobalSlidingAggSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  private def df = (0 until 10000)
    .map(i => ((i * 2654435761L) % 100000, ((i * 48271) % 1000).toDouble, i.toLong))
    .toDF("k", "v", "id").repartition(7)

  test("moving sum/avg/min over mixed widths match WindowExec bit-for-bit") {
    val w = Window.orderBy("k", "id")
    def out = df
      .withColumn("ms", sum("v").over(w.rowsBetween(-6, Window.currentRow)))
      .withColumn("ma", avg("v").over(w.rowsBetween(-3, Window.currentRow)))
      .withColumn("mm", min("id").over(w.rowsBetween(-9, Window.currentRow)))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalSlidingAgg"), s"expected GlobalSlidingAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("moving aggregates", 4, Seq("GlobalSlidingAgg")) {
      out.select("k", "id", "ms", "ma", "mm")
    }
  }

  test("frames wider than a partition stitch through multiple predecessors") {
    val tiny = (0 until 12).map(i => (i.toLong, i.toLong)).toDF("k", "id")
      .repartition(8)
    val out = tiny
      .withColumn("ms", sum("id").over(
        Window.orderBy("k").rowsBetween(-5, Window.currentRow)))
      .orderBy("k").select("k", "ms").as[(Long, Long)].collect().toSeq
    val expected = (0 until 12).map { i =>
      (i.toLong, (math.max(0, i - 5) to i).map(_.toLong).sum)
    }
    assert(out == expected)
  }

  test("SQL ROWS BETWEEN n PRECEDING AND CURRENT ROW rewrites too") {
    df.createOrReplaceTempView("gsa_t")
    val out = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k, id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ms FROM gsa_t""")
    assert(out.queryExecution.executedPlan.toString.contains("GlobalSlidingAgg"),
      s"SQL form must rewrite:\n${out.queryExecution.executedPlan}")
    assert(out.count() == 10000)
  }

  test("centered and lookahead frames match WindowExec bit-for-bit") {
    val w = Window.orderBy("k", "id")
    def out = df
      .withColumn("ctr", sum("v").over(w.rowsBetween(-3, 3)))
      .withColumn("ahead", max("id").over(w.rowsBetween(Window.currentRow, 5)))
      .withColumn("trail", sum("v").over(w.rowsBetween(-6, Window.currentRow)))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalSlidingAgg"), s"expected GlobalSlidingAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("centered and lookahead frames", 4, Seq("GlobalSlidingAgg")) {
      out.select("k", "id", "ctr", "ahead", "trail")
    }
  }

  test("lookahead frames wider than a partition stitch through successors") {
    val tiny = (0 until 12).map(i => (i.toLong, i.toLong)).toDF("k", "id")
      .repartition(8)
    val out = tiny
      .withColumn("ms", sum("id").over(
        Window.orderBy("k").rowsBetween(-1, 5)))
      .orderBy("k").select("k", "ms").as[(Long, Long)].collect().toSeq
    val expected = (0 until 12).map { i =>
      (i.toLong, (math.max(0, i - 1) to math.min(11, i + 5)).map(_.toLong).sum)
    }
    assert(out == expected)
  }

  test("falls back for current-row-excluding frames; partitioned frames rescue") {
    val w = Window.orderBy("k", "id")
    // a 5 PRECEDING .. 2 PRECEDING frame can be EMPTY near the table
    // start — empty-frame null semantics are left to the built-in
    val excl = df.withColumn("ms", sum("v").over(w.rowsBetween(-5, -2)))
    assert(!excl.queryExecution.executedPlan.toString.contains("GlobalSlidingAgg"))
    // per-key sliding frames now rescue: the global frame clipped at
    // the key boundary over a (key, order) range exchange
    def part = df.withColumn("ms", sum("v").over(
        Window.partitionBy(col("k") % 10).orderBy("id")
          .rowsBetween(-2, Window.currentRow)))
      .withColumn("mm", min("v").over(
        Window.partitionBy(col("k") % 10).orderBy("id").rowsBetween(-3, 1)))
    val pp = part.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalSlidingAgg"), s"per-key sliding must rescue:\n$pp")
    assertMatchesBuiltIn("per-key sliding frames", 4, Seq("GlobalSlidingAgg"))(part)
  }
}
