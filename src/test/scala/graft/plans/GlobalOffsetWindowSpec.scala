package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalOffsetWindowStrategy: naive `lag()/lead() OVER (ORDER BY ...)`
  * must plan as the range-shuffle + boundary-scan exec and produce
  * values identical to the built-in single-task WindowExec. */
class GlobalOffsetWindowSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // unique total order, scattered across 7 input partitions so every
  // shuffle partition boundary exercises the stitched neighbor rows
  private def df = (0 until 10000).map(i => ((i * 2654435761L) % 100000, i.toLong))
    .toDF("k", "id").repartition(7)

  test("lag/lead plan the offset exec and match WindowExec across boundaries") {
    val w = Window.orderBy("k", "id")
    def out = df
      .withColumn("lg", lag("id", 1).over(w))
      .withColumn("ld", lead("id", 3).over(w))
      .withColumn("lgd", lag("id", 5, -1L).over(w))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalOffsetWindow"), s"expected GlobalOffsetWindowExec:\n$p")
    // the built-in node prints as a standalone "Window [" (our exec name
    // ends in ...OffsetWindow, so match on the word boundary)
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("lag/lead across task edges", 4, Seq("GlobalOffsetWindow"))(out)
    // spot-check semantics: defaults at the table edges
    val byK = out.orderBy("k", "id")
      .select("id", "lg", "ld", "lgd").collect()
    assert(byK.head.isNullAt(1), "first row has no lag")
    assert(byK.head.getLong(3) == -1L, "lag default fills the head")
    assert(byK.last.isNullAt(2), "last row has no lead(3)")
  }

  test("offsets larger than a partition walk through it") {
    // 10 rows over up to 8 shuffle partitions: lead(4)/lag(4) must cross
    // several single-row partitions
    val tiny = (0 until 10).map(i => (i.toLong, i.toLong)).toDF("k", "id")
      .repartition(8)
    val w = Window.orderBy("k")
    val out = tiny
      .withColumn("lg", lag("id", 4).over(w))
      .withColumn("ld", lead("id", 4).over(w))
      .orderBy("k")
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) -99L else r.getLong(2),
        if (r.isNullAt(3)) -99L else r.getLong(3))).toSeq
    val expected = (0L until 10L).map(i =>
      (i, if (i >= 4) i - 4 else -99L, if (i <= 5) i + 4 else -99L))
    assert(out == expected)
  }

  test("ignoreNulls plans the same exec; partitioned specs rescue per key group") {
    val w = Window.orderBy("k", "id")
    // IGNORE NULLS is the same family and exec, every row a value
    assertMatchesBuiltIn("global lag IGNORE NULLS", 4, Seq("GlobalOffsetWindow")) {
      df.withColumn("lg", lag(when(col("id") % 3 === 0, col("id")), 1, null, true).over(w))
    }
    // per-key lag/lead rides the same exec over a (key, order) range
    // exchange: the walk chains only equal key groups
    def part = df.withColumn("lg",
        lag("id", 1, -7L).over(Window.partitionBy(col("k") % 10).orderBy("id")))
      .withColumn("ld",
        lead("id", 2).over(Window.partitionBy(col("k") % 10).orderBy("id")))
      .withColumn("l0",
        lag(col("k") + 1, 0).over(Window.partitionBy(col("k") % 10).orderBy("id")))
    val pp = part.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalOffsetWindow"), s"per-key lag must rescue:\n$pp")
    assert(pp.contains("rangepartitioning") && !pp.contains("hashpartitioning"),
      s"the exchange must be a range exchange, not a hash on the key:\n$pp")
    assertMatchesBuiltIn("per-key lag/lead", 4, Seq("GlobalOffsetWindow"))(part)
  }

  test("empty input and expression-valued lag inputs work") {
    val w = Window.orderBy("k", "id")
    val empty = df.filter(col("id") < 0)
      .withColumn("lg", lag("id", 1).over(w))
    assert(empty.count() == 0)
    assertMatchesBuiltIn("expression-valued lag", 4, Seq("GlobalOffsetWindow")) {
      df.withColumn("lg", lag(col("id") * 2 + col("k"), 2).over(w))
    }
  }
}
