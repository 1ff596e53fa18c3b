package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRunningAggStrategy: naive `SUM(x) OVER (ORDER BY ...)` and
  * friends must plan as the distributed prefix scan and produce values
  * identical to the built-in single-task WindowExec on exact types. */
class GlobalRunningAggSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // k = i % 97 gives ~103-deep tie runs; v exercises sums and extrema
  private def tied = (0 until 10000)
    .map(i => ((i % 97).toLong, ((i * 2654435761L) % 1000).toLong, i.toLong))
    .toDF("k", "v", "id").repartition(7)

  test("running sum/count/min/max/avg match WindowExec incl. RANGE tie peers") {
    // bare ORDER BY = RANGE frame: tied rows share the run-end value
    val w = Window.orderBy("k")
    def out = tied
      .withColumn("rs", sum("v").over(w))
      .withColumn("rc", count(lit(1)).over(w))
      .withColumn("rmin", min("v").over(w))
      .withColumn("rmax", max("v").over(w))
      .withColumn("ravg", avg(col("v").cast("decimal(20,4)")).over(w))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRunningAgg"), s"expected GlobalRunningAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("running aggregates over tied k", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "rs", "rc", "rmin", "rmax", "ravg")
    }
  }

  test("explicit ROWS frame: strict per-row prefix, mixed with RANGE in one query") {
    val rows = Window.orderBy("k", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val range = Window.orderBy("k", "id")
    def out = tied
      .withColumn("rows_sum", sum("v").over(rows))
      .withColumn("range_sum", sum("v").over(range))
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    val got = assertMatchesBuiltIn("ROWS and RANGE prefixes", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "rows_sum", "range_sum")
    }
    // (k, id) is a unique order, so here ROWS == RANGE row-for-row
    assert(got.forall(r => r.getLong(2) == r.getLong(3)))
  }

  test("first_value/last_value run distributed and match WindowExec") {
    val w = Window.orderBy("k", "id")
    def out = tied
      .withColumn("fv", first("v").over(w))
      .withColumn("lv", last("v").over(w))
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    val got = assertMatchesBuiltIn("first_value/last_value", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "fv", "lv")
    }
    // first_value over the default frame is the globally-first value
    val firstV = got.minBy(r => (r.getLong(0), r.getLong(1))).getLong(2)
    assert(got.forall(_.getLong(2) == firstV))
  }

  test("falls back for unsupported shapes; partitioned windows rescue") {
    // partitioned running windows now RIDE the group-aware prefix scan
    // over a RANGE exchange — a hot key spans tasks instead of pinning
    // one (min/max included: resets at key boundaries need no inverse)
    def part = tied.withColumn("rs",
        sum("v").over(Window.partitionBy(col("k") % 10).orderBy("id")))
      .withColumn("rmin",
        min("v").over(Window.partitionBy(col("k") % 10).orderBy("id")))
    val pp = part.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalRunningAgg"), s"per-key running must rescue:\n$pp")
    assert(pp.contains("rangepartitioning") && !pp.contains("hashpartitioning"),
      s"the exchange must be a range exchange, not a hash on the key:\n$pp")
    assertMatchesBuiltIn("per-key running aggregates", 4, Seq("GlobalRunningAgg")) {
      part.select("k", "id", "rs", "rmin")
    }
    // sliding frames are not a prefix scan
    val sliding = tied.withColumn("rs", sum("v").over(
      Window.orderBy("k", "id").rowsBetween(-3, Window.currentRow)))
    assert(!sliding.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    // (distinct window aggregates are rejected by the analyzer itself,
    // so the isDistinct=false guard can never see one)
  }

  test("suffix frames: remaining sum/count/extrema match WindowExec, ROWS and RANGE") {
    // ROWS on a unique order (deterministic) + RANGE with tie peers
    val rows = Window.orderBy("k", "id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val range = Window.orderBy("k")
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    def out = tied
      .withColumn("rem_sum", sum("v").over(rows))
      .withColumn("rem_n", count(lit(1)).over(rows))
      .withColumn("rem_min", min("v").over(rows))
      .withColumn("ge_n", count(lit(1)).over(range))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRunningAgg"), s"expected GlobalRunningAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    val got = assertMatchesBuiltIn("suffix frames", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "rem_sum", "rem_n", "rem_min", "ge_n")
    }
    // last row's remaining set is just itself
    val lastRow = got.maxBy(r => (r.getLong(0), r.getLong(1)))
    assert(lastRow.getLong(3) == 1L)
  }

  test("suffix first_value/last_value swap correctly, incl. ignoreNulls") {
    val rows = Window.orderBy("k", "id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // null out ~1/3 of v so ignoreNulls has gaps to skip
    val withNulls = tied.withColumn("vn",
      when(col("id") % 3 === 0, lit(null).cast("long")).otherwise(col("v")))
    def out = withNulls
      .withColumn("fv", first("vn").over(rows))
      .withColumn("lv", last("vn").over(rows))
      .withColumn("fvi", first("vn", ignoreNulls = true).over(rows))
      .withColumn("lvi", last("vn", ignoreNulls = true).over(rows))
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    val got = assertMatchesBuiltIn("suffix first/last_value", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "fv", "lv", "fvi", "lvi")
    }
    // first_value of [current, end) is the current row's own value
    val byId = withNulls.select("k", "id", "vn").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), Option(r.get(2)))).toMap
    assert(got.forall(r => Option(r.get(2)) == byId((r.getLong(0), r.getLong(1)))))
  }

  test("descending order: running and suffix frames both rescue and match") {
    val w = Window.orderBy(col("k").desc, col("id").desc)
    def out = tied
      .withColumn("rs", sum("v").over(w))
      .withColumn("rem", sum("v").over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val p = out.queryExecution.executedPlan.toString
    assert("GlobalRunningAgg".r.findAllIn(p).length >= 2,
      s"DESC running and suffix must both rescue:\n$p")
    assertMatchesBuiltIn("DESC running and suffix", 4, Seq("GlobalRunningAgg")) {
      out.select("k", "id", "rs", "rem")
    }
  }

  test("empty input and single rows") {
    val w = Window.orderBy("k")
    val empty = tied.filter(col("id") < 0).withColumn("rs", sum("v").over(w))
    assert(empty.count() == 0)
    val one = tied.filter(col("id") === 5L).withColumn("rs", sum("v").over(w))
    assert(one.select("rs").as[Long].collect().toSeq ==
      Seq((5L * 2654435761L) % 1000))
  }

  test("SQL cumulative revenue survives a downstream filter") {
    tied.createOrReplaceTempView("gra_t")
    val out = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k, id) AS cum FROM gra_t""")
      .filter(col("cum") > 100L)
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
    val got = out.orderBy("id").limit(5).collect()
    assert(got.nonEmpty)
  }
}
