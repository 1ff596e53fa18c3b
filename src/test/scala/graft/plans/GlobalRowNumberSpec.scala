package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRowNumberStrategy: the naive `row_number() OVER (ORDER BY ...)`
  * must plan as the two-pass GlobalRowNumberExec (range shuffle +
  * zipWithIndex) and produce numbers identical to the built-in
  * single-task WindowExec on any unique total order. */
class GlobalRowNumberSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  private def df = (0 until 10000).map(i => ((i * 2654435761L) % 100000, i.toLong))
    .toDF("k", "id").repartition(7)

  test("plans GlobalRowNumberExec for the unpartitioned row_number window") {
    val out = df.withColumn("rn", row_number().over(Window.orderBy("k", "id")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(!p.contains("Window "), s"built-in WindowExec should be replaced:\n$p")
  }

  test("numbers match the built-in WindowExec on a unique order") {
    assertMatchesBuiltIn("row_number over (k, id)", 4, Seq("GlobalRowNumber")) {
      df.withColumn("rn", row_number().over(Window.orderBy("k", "id")))
    }
  }

  test("falls back to WindowExec when disabled, and for partitioned/other windows") {
    withConf(GlobalWindowStrategy.ConfKey, "false") {
      val p = df.withColumn("rn", row_number().over(Window.orderBy("k", "id")))
        .queryExecution.executedPlan.toString
      assert(p.contains("Window "), s"disabled flag must restore WindowExec:\n$p")
    }
    // per-key ranking (ALL six functions) rides the group-chain exec
    // over a (key, order) range exchange; group totals for
    // percent_rank/cume_dist/ntile come from the driver segment merge
    def partitioned = df.withColumn("rn",
        row_number().over(Window.partitionBy(col("k") % 10).orderBy("id")))
      .withColumn("rk", // ties on id % 7: peers must share their rank
        rank().over(Window.partitionBy(col("k") % 10).orderBy(col("id") % 7)))
    val pp = partitioned.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalRowNumber"), s"per-key ranks must rescue:\n$pp")
    assertMatchesBuiltIn("per-key rank", 4, Seq("GlobalRowNumber")) {
      partitioned.select("k", "id", "rk")
    }
    // group-total functions per key: buffered-group path + segment merge
    def ntilePart = df.withColumn("nt",
        ntile(3).over(Window.partitionBy(col("k") % 10).orderBy("id")))
      .withColumn("pr", // ties: deterministic, safe to compare
        percent_rank().over(Window.partitionBy(col("k") % 10).orderBy(col("id") % 7)))
      .withColumn("cd",
        cume_dist().over(Window.partitionBy(col("k") % 10).orderBy(col("id") % 7)))
    val np = ntilePart.queryExecution.executedPlan.toString
    assert(np.contains("GlobalRowNumber"),
      s"per-key ntile/percent_rank/cume_dist must rescue:\n$np")
    assertMatchesBuiltIn("per-key group-total ranks", 4, Seq("GlobalRowNumber")) {
      ntilePart.select("k", "id", "nt", "pr", "cd")
    }
    // a mixed rank+lag node no longer opts the node out: GlobalWindowSplit
    // separates the families so each plans its own rescue exec
    val mixed = df.withColumn("r", rank().over(Window.orderBy("k")))
      .withColumn("l", lag("id", 1).over(Window.orderBy("k")))
    val mp = mixed.queryExecution.executedPlan.toString
    assert(mp.contains("GlobalRowNumber") && mp.contains("GlobalOffsetWindow"),
      s"mixed node must split into both rescue execs:\n$mp")
  }

  test("rank and dense_rank plan the two-pass exec and match WindowExec on ties") {
    // k = i % 97 gives ~103-deep tie runs — boundary-spanning ties are
    // the regression this guards (range partitioner must co-locate them)
    val tied = (0 until 10000).map(i => ((i % 97).toLong, i.toLong))
      .toDF("k", "id").repartition(7)
    def out = tied
      .withColumn("rk", rank().over(Window.orderBy("k")))
      .withColumn("drk", dense_rank().over(Window.orderBy("k")))
      .withColumn("rn", row_number().over(Window.orderBy("k")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(!p.contains("Window "), s"built-in WindowExec should be replaced:\n$p")
    // rank/dense_rank are deterministic under ties; compare those exactly
    assertMatchesBuiltIn("rank/dense_rank over tied k", 4, Seq("GlobalRowNumber")) {
      out.select("k", "id", "rk", "drk")
    }
    // row_number stays a permutation within each tie class
    assert(out.select("rn").as[Int].collect().sorted.toSeq == (1 to 10000))
  }

  test("percent_rank, cume_dist and ntile match WindowExec, incl. ties") {
    val tied = (0 until 10000).map(i => ((i % 97).toLong, i.toLong))
      .toDF("k", "id").repartition(7)
    def out = tied
      .withColumn("pr", percent_rank().over(Window.orderBy("k")))
      .withColumn("cd", cume_dist().over(Window.orderBy("k")))
      .withColumn("nt", ntile(7).over(Window.orderBy("k", "id")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(!p.contains("Window "), s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("percent_rank/cume_dist/ntile", 4, Seq("GlobalRowNumber"))(out)
    // uneven ntile: 100 rows into 7 buckets — first 2 buckets get 15
    val small = (0 until 100).map(i => (i.toLong, i.toLong)).toDF("k", "id")
      .withColumn("nt", ntile(7).over(Window.orderBy("k")))
    val sizes = small.groupBy("nt").count().orderBy("nt")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(sizes == Seq((1, 15L), (2, 15L), (3, 14L), (4, 14L), (5, 14L), (6, 14L), (7, 14L)))
  }

  test("empty and single-row inputs number correctly") {
    val empty = df.filter(col("id") < 0)
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    assert(empty.count() == 0)
    val one = df.filter(col("id") === 5L)
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    assert(one.select("rn").as[Int].collect().toSeq == Seq(1))
  }

  test("SQL form rewrites too and survives a downstream filter") {
    df.createOrReplaceTempView("grn_t")
    val out = spark.sql(
      "SELECT id, row_number() OVER (ORDER BY k, id) AS rn FROM grn_t")
      .filter(col("rn") <= 100)
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRowNumber"))
    val got = out.orderBy("rn").select("rn").as[Int].collect()
    assert(got.toSeq == (1 to 100))
  }
}
