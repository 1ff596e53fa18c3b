package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalConstantAggStrategy: naive `SUM(x) OVER ()` (the share-of-total
  * query) must plan as the shuffle-free partial+merge+attach exec and
  * produce values identical to the built-in single-task WindowExec. */
class GlobalConstantAggSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  private def df = (0 until 10000)
    .map(i => (i.toLong, ((i * 2654435761L) % 1000).toLong))
    .toDF("id", "v").repartition(7)

  test("whole-table sum/count/min/max/avg match WindowExec, zero exchanges") {
    val w = Window.partitionBy()
    def out = df
      .withColumn("ts", sum("v").over(w))
      .withColumn("tc", count(lit(1)).over(w))
      .withColumn("tmin", min("v").over(w))
      .withColumn("tmax", max("v").over(w))
      .withColumn("tavg", avg(col("v").cast("decimal(20,4)")).over(w))
      .withColumn("share", col("v").cast("double") / col("ts").cast("double"))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalConstantAgg"), s"expected GlobalConstantAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    // the only Exchange is the test's own repartition(7); the rescue
    // itself must add none — above all not the built-in's SinglePartition
    assert(!p.contains("Exchange SinglePartition"),
      s"the whole-table rescue must not funnel into one task:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"the whole-table rescue must not add a shuffle:\n$p")
    assertMatchesBuiltIn("whole-table constants", 4, Seq("GlobalConstantAgg")) {
      out.select("id", "ts", "tc", "tmin", "tmax", "tavg", "share")
    }
  }

  test("SQL OVER () — explicit unbounded frame and empty table edge") {
    df.createOrReplaceTempView("const_agg_v")
    val out = spark.sql(
      """SELECT id, v,
           SUM(v) OVER () AS total,
           SUM(v) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS total2
         FROM const_agg_v""")
    assert(out.queryExecution.executedPlan.toString.contains("GlobalConstantAgg"))
    val rows = out.collect()
    assert(rows.length == 10000)
    assert(rows.forall(r => r.getLong(2) == rows.head.getLong(2)))
    assert(rows.forall(r => r.getLong(2) == r.getLong(3)))
    // empty input: no rows out, no crash (merged buffer = initial values)
    val empty = df.filter(col("v") < 0)
      .withColumn("t", sum("v").over(Window.partitionBy()))
    assert(empty.count() == 0)
    // a child with no partitions at all: no task summarizes anything
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      df.schema).withColumn("t", sum("v").over(Window.partitionBy()))
    assert(none.queryExecution.executedPlan.toString.contains("GlobalConstantAgg"))
    assert(none.collect().isEmpty)
  }

  test("ORDER BY with an explicit whole-table frame is still a constant — rescued") {
    df.createOrReplaceTempView("const_agg_ord_v")
    def out = spark.sql(
      """SELECT id, v,
           SUM(v) OVER (ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS total,
           MAX(v) OVER (ORDER BY id
             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vmax
         FROM const_agg_ord_v""")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalConstantAgg"), s"expected GlobalConstantAggExec:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    assertMatchesBuiltIn("ordered whole-table frames", 4, Seq("GlobalConstantAgg"))(out)
    // order-SENSITIVE functions must NOT take the orderless constant
    // path: first_value is optimizer-rewritten to the rescued
    // nth_value(x, 1); last_value rides GlobalNthValue's from-end mode
    val fv = spark.sql(
      """SELECT first_value(v) OVER (ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS f
         FROM const_agg_ord_v""")
    val fp = fv.queryExecution.executedPlan.toString
    assert(!fp.contains("GlobalConstantAgg") && fp.contains("GlobalNthValue"), fp)
    val lv = spark.sql(
      """SELECT id, last_value(v) OVER (ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l
         FROM const_agg_ord_v""")
    val lp = lv.queryExecution.executedPlan.toString
    assert(!lp.contains("GlobalConstantAgg") && lp.contains("GlobalNthValue"), lp)
    assert(!lp.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"ordered last_value must not keep the single-task built-in:\n$lp")
    // and the rescued value is the true ordered last
    assert(lv.orderBy(col("id")).limit(1).collect()(0).getLong(1) ==
      df.orderBy(col("id").desc).limit(1).collect()(0).getLong(1))
  }

  test("null-heavy input: sum over all-null column is null, count skips nulls") {
    val d = (0 until 100).map(i => (i.toLong, Option.empty[java.lang.Long]))
      .toDF("id", "v").repartition(3)
    val out = d
      .withColumn("t", sum("v").over(Window.partitionBy()))
      .withColumn("c", count(col("v")).over(Window.partitionBy()))
    assert(out.queryExecution.executedPlan.toString.contains("GlobalConstantAgg"))
    val r = out.head()
    assert(r.isNullAt(2) && r.getLong(3) == 0L)
  }

  test("per-key group constants: edge merge + local interior evaluation") {
    // skewed: key 0 holds ~3/4 of rows and spans several range
    // partitions — its constant comes from the driver's segment merge;
    // small keys are interior groups evaluated locally
    val keyed = (0 until 9000).map { i =>
      val k = if (i % 4 != 3) 0L else (i % 19).toLong
      (k, ((i * 2654435761L) % 1000), i.toLong)
    }.toDF("k", "v", "id").repartition(7)
    // bare OVER (PARTITION BY k): spread = the aggregates' input column v
    def out = keyed
      .withColumn("t", sum("v").over(Window.partitionBy("k")))
      .withColumn("c", count(lit(1)).over(Window.partitionBy("k")))
      .withColumn("m", max("v").over(Window.partitionBy("k")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalConstantAgg"), s"per-key constants must rescue:\n$p")
    assert(!p.contains("hashpartitioning(k"),
      s"a hash exchange on k would pin the hot key to one task:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assertMatchesBuiltIn("per-key group constants", 4, Seq("GlobalConstantAgg"))(out)
    // ORDER BY + explicit whole-group frame: spread = the order key
    keyed.createOrReplaceTempView("const_keyed")
    assertMatchesBuiltIn("per-key ordered whole-group frames", 4,
        Seq("GlobalConstantAgg")) {
      spark.sql(
        """SELECT k, id, CAST(SUM(v) OVER (PARTITION BY k ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS t
           FROM const_keyed""")
    }
    // COUNT(*) alone: no agg input, but any other child column spreads
    // (count(*) spreads on any orderable child column)
    assertMatchesBuiltIn("per-key count(*)", 4, Seq("GlobalConstantAgg")) {
      keyed.withColumn("c", count(lit(1)).over(Window.partitionBy("k")))
    }
    // a table with NOTHING but the partition column has no spread
    // dimension at all: left to the built-in
    val only = keyed.select("k")
      .withColumn("c", count(lit(1)).over(Window.partitionBy("k")))
    assert(!only.queryExecution.executedPlan.toString.contains("GlobalConstantAgg"),
      "no spread dimension → decline (built-in hash window)")
  }

  test("imperative sketch windows: approx_count_distinct / count_min_sketch") {
    // HLL++ merges by register-wise max and count-min by counter adds —
    // both structurally order-independent, so the partial-then-merge
    // sketch is IDENTICAL to the built-in's sequential one
    val keyed = (0 until 9000).map { i =>
      val k = if (i % 4 != 3) 0L else (i % 19).toLong
      (k, ((i * 2654435761L) % 700), i.toLong)
    }.toDF("k", "v", "id").repartition(7)
    keyed.createOrReplaceTempView("sk_keyed")
    val q = """SELECT k, id,
        approx_count_distinct(v) OVER () AS gd,
        approx_count_distinct(v) OVER (PARTITION BY k) AS kd,
        hex(count_min_sketch(v, 0.01d, 0.95d, 42) OVER (PARTITION BY k)) AS cms
      FROM sk_keyed"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalConstantAgg"),
      s"sketch windows must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(k"),
      s"a hash exchange on k would pin the hot key to one task:\n$p")
    assertMatchesBuiltIn("sketch windows", 4, Seq("GlobalConstantAgg"))(spark.sql(q))
    // approx_percentile claims too: the merged QuantileSummaries is a
    // valid ε-summary of the union (the same merge stock's partial+
    // final groupBy performs), so the assertion is the sketch's OWN
    // contract — within ε of the requested rank — against the exact
    // percentile band, not bit-parity with one arbitrary build order
    val pct = spark.sql(
      """SELECT id, k, v, percentile_approx(v, 0.5d) OVER () AS m,
           percentile_approx(v, 0.5d) OVER (PARTITION BY k) AS mk
         FROM sk_keyed""")
    val pp = pct.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalConstantAgg"),
      s"approx_percentile windows must rescue:\n$pp")
    val rows = pct.collect()
    val all = rows.map(_.getLong(2)).sorted
    def band(vs: Array[Long], lo: Double, hi: Double): (Long, Long) =
      (vs(math.max(0, (lo * (vs.length - 1)).toInt)),
        vs(math.min(vs.length - 1, math.ceil(hi * (vs.length - 1)).toInt)))
    val (glo, ghi) = band(all, 0.48, 0.52)
    assert(rows.forall { r => val m = r.getLong(3); m >= glo && m <= ghi },
      s"global approx median must sit in the exact p48..p52 band [$glo,$ghi]")
    val byK = rows.groupBy(_.get(1))
    byK.foreach { case (k, rs) =>
      val vs = rs.map(_.getLong(2)).sorted
      val (lo, hi) = band(vs, 0.45, 0.55)
      assert(rs.forall { r => val m = r.getLong(4); m >= lo && m <= hi },
        s"per-key approx median for k=$k must sit in the exact p45..p55 band")
    }
  }

  test("sorted collect_list: rescued per-key and global, bit-equal to the built-in") {
    // total order key (id unique) — the only shape where ANY plan pins
    // the list order; ties are an enumeration artifact in every plan
    def q = df
      .withColumn("pk", concat_ws(",", collect_list("v").over(
        Window.partitionBy(col("id") % 5).orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
      .withColumn("gl", concat_ws(",", collect_list("v").over(
        Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GlobalConstantAgg"), s"sorted collect must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec expected:\n$p")
    assertMatchesBuiltIn("sorted collect_list", 4, Seq("GlobalConstantAgg")) {
      q.select("id", "pk", "gl")
    }
  }

  test("unordered collect_list stays declined (its value IS the order)") {
    def q = df.withColumn("l",
      collect_list("v").over(Window.partitionBy(col("id") % 5)))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("GlobalConstantAgg"),
      s"bare unordered collect must keep the built-in:\n$p")
    assert(p.contains("Window"), s"built-in WindowExec expected:\n$p")
    // collect_set: order is an insertion artifact — declined even ordered
    def qs = df.withColumn("s", collect_set("v").over(
      Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val ps = qs.queryExecution.executedPlan.toString
    assert(!ps.contains("GlobalConstantAgg"),
      s"collect_set must stay declined:\n$ps")
  }

  test("opt-out restores the built-in plan") {
    val out = df.withColumn("t", sum("v").over(Window.partitionBy()))
    withConf(GlobalWindowStrategy.ConfKey, "false") {
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("GlobalConstantAgg"))
      assert(p.contains("Window"), s"built-in WindowExec expected:\n$p")
    }
  }
}
