package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** GlobalOffsetWindowStrategy, IGNORE NULLS: naive global lag/lead
  * IGNORE NULLS must plan as the offset exec and match the built-in
  * single-task WindowExec exactly, including long null runs spanning
  * partitions. */
class GlobalOffsetIgnoreNullsSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // ~70% nulls with long runs: i in a run of 37 keeps only multiples of 3
  private def df = (0 until 10000)
    .map { i =>
      val v = if ((i / 37) % 3 == 0 && i % 3 == 0) Some(((i * 48271) % 1000).toLong)
              else None
      (i.toLong, v)
    }
    .toDF("id", "v").repartition(7)

  test("lag/lead IGNORE NULLS with mixed offsets match WindowExec") {
    df.createOrReplaceTempView("ign_t")
    val q = """SELECT id, v,
                 lag(v, 1) IGNORE NULLS OVER (ORDER BY id) AS prev_nn,
                 lag(v, 3) IGNORE NULLS OVER (ORDER BY id) AS prev3_nn,
                 lead(v, 1) IGNORE NULLS OVER (ORDER BY id) AS next_nn,
                 lead(v, 2, -1) IGNORE NULLS OVER (ORDER BY id) AS next2_nn
               FROM ign_t"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalOffsetWindow"),
      s"expected GlobalOffsetWindowExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"built-in WindowExec should be replaced:\n$p")
    assertMatchesBuiltIn("IGNORE NULLS offsets", 4, Seq("GlobalOffsetWindow")) {
      spark.sql(q)
    }
  }

  test("null runs longer than a partition stitch values across partitions") {
    // only ids 0 and 99 are non-null; 8 partitions of ~12 rows each
    val tiny = (0 until 100)
      .map(i => (i.toLong, if (i == 0 || i == 99) Some(i.toLong) else None))
      .toDF("id", "v").repartition(8)
    tiny.createOrReplaceTempView("ign_tiny")
    val out = spark.sql(
      """SELECT id,
           lag(v, 1) IGNORE NULLS OVER (ORDER BY id) AS p,
           lead(v, 1) IGNORE NULLS OVER (ORDER BY id) AS n
         FROM ign_tiny""")
    assert(out.queryExecution.executedPlan.toString.contains("GlobalOffsetWindow"))
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    // every row after 0 sees 0 as its previous non-null (except row 99
    // which sees 0 too — wait: 99's previous non-null IS 0); every row
    // before 99 sees 99 as next non-null; row 0 has no predecessor.
    assert(rows(0) == (0L, -1L, 99L))
    assert(rows(50) == (50L, 0L, 99L))
    assert(rows(99) == (99L, 0L, -1L))
  }

  test("per-key lag/lead IGNORE NULLS: group-aware stitch matches the built-in") {
    // skewed: key 0 holds ~3/4 of rows (spans several range partitions);
    // nulls in long runs so stitches cross partitions WITHIN the hot key
    val keyed = (0 until 8000)
      .map { i =>
        val k = if (i % 4 != 3) 0L else (i % 23).toLong
        val v = if ((i / 29) % 3 == 0 && i % 2 == 0) Some(((i * 48271) % 1000).toLong)
                else None
        (k, i.toLong, v)
      }
      .toDF("k", "id", "v").repartition(7)
    keyed.createOrReplaceTempView("ign_keyed")
    val q = """SELECT k, id, v,
                 lag(v, 1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS prev_nn,
                 lag(v, 2) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS prev2_nn,
                 lead(v, 1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS next_nn,
                 lead(v, 3, -1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS next3_nn,
                 lag(v, 0, -1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS cur
               FROM ign_keyed"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalOffsetWindow"),
      s"per-key IGNORE NULLS offsets must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(k"),
      s"a hash exchange on k would pin the hot key to one task:\n$p")
    assertMatchesBuiltIn("per-key IGNORE NULLS offsets", 4,
      Seq("GlobalOffsetWindow"))(spark.sql(q))
  }

  test("both null modes and offset 0 in one node plan one offset exec") {
    df.createOrReplaceTempView("ign_t2")
    // mixed IGNORE/RESPECT NULLS in one OVER spec: one exec, one
    // boundary job, values still match the built-in
    def mixed = spark.sql(
      """SELECT id, lag(v, 1) OVER (ORDER BY id) AS a,
           lag(v, 1) IGNORE NULLS OVER (ORDER BY id) AS b,
           lead(v, 2) OVER (ORDER BY id) AS c,
           lead(v, 3, -1) IGNORE NULLS OVER (ORDER BY id) AS d,
           lag(v, 0) OVER (ORDER BY id) AS e,
           lead(v, 0, -1) IGNORE NULLS OVER (ORDER BY id) AS f
         FROM ign_t2""")
    val execs = rescues(mixed)
    assert(execs.length == 1 && execs.head.isInstanceOf[GlobalOffsetWindowExec],
      s"a mixed node must plan one offset exec:\n${mixed.queryExecution.executedPlan}")
    assertMatchesBuiltIn("mixed IGNORE/RESPECT NULLS", 4, Seq("GlobalOffsetWindow"))(mixed)
  }
}
