package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalNthValueStrategy: naive global `nth_value(x, n)` must plan as
  * the constant-lookup + eligibility exec and match the single-task
  * built-in — ROWS and RANGE prefixes, whole-table frames, IGNORE
  * NULLS, ties, short tables. */
class GlobalNthValueSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // tie runs on k (~103 deep); v null every 5th row; vk is a function
  // of k alone, so a RANGE nth_value over the ties-only order stays
  // deterministic (any row of the run yields the same value)
  private def tied = (0 until 10000).map { i =>
    val v: java.lang.Long = if (i % 5 == 0) null else ((i * 2654435761L) % 1000)
    ((i % 97).toLong, v, (i % 97).toLong * 31, i.toLong)
  }.toDF("k", "v", "vk", "id").repartition(7)

  test("prefix frames: ROWS per-row, RANGE through the tie-run end, IGNORE NULLS") {
    tied.createOrReplaceTempView("nth_t")
    val q = """SELECT k, id,
        nth_value(v, 3) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rows3,
        nth_value(vk, 40) OVER (ORDER BY k) AS range40,
        nth_value(v, 7) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ign7
      FROM nth_t"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalNthValue"), s"expected GlobalNthValueExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for nth_value:\n$p")
    assertMatchesBuiltIn("prefix nth_value", 4, Seq("GlobalNthValue"))(spark.sql(q))
  }

  test("whole-table frame: one constant everywhere, null when too short") {
    tied.createOrReplaceTempView("nth_t2")
    val q = """SELECT id,
        nth_value(v, 123) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth,
        nth_value(v, 999999) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS beyond
      FROM nth_t2"""
    val out = spark.sql(q)
    assert(out.queryExecution.executedPlan.toString.contains("GlobalNthValue"))
    assertMatchesBuiltIn("whole-table nth_value", 4, Seq("GlobalNthValue"))(spark.sql(q))
    // beyond the table: null everywhere
    assert(out.select("beyond").distinct().collect().map(_.isNullAt(0)).toSeq == Seq(true))
  }

  test("short tables, n = 1 edge, and mixed node with a running sum splits") {
    val tiny = (0 until 3).map(i => (i.toLong, i.toLong)).toDF("k", "id")
    tiny.createOrReplaceTempView("nth_t3")
    val q = """SELECT id,
        nth_value(k, 1) OVER (ORDER BY id) AS first_k,
        nth_value(k, 5) OVER (ORDER BY id) AS missing
      FROM nth_t3"""
    assertMatchesBuiltIn("short table", 4, Seq("GlobalNthValue"))(spark.sql(q))
    // mixed with a running aggregate over the same spec: the split rule
    // sends each family to its own exec
    tied.createOrReplaceTempView("nth_t4")
    def mixed = spark.sql("""SELECT id,
        nth_value(v, 3) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n3,
        SUM(v) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
      FROM nth_t4""")
    val mp = mixed.queryExecution.executedPlan.toString
    assert(mp.contains("GlobalNthValue") && mp.contains("GlobalRunningAgg"),
      s"mixed node must split into both rescue execs:\n$mp")
    assertMatchesBuiltIn("nth_value beside a running sum", 4,
      Seq("GlobalNthValue", "GlobalRunningAgg"))(mixed)
  }

  test("ordered first/last_value over whole-table frames: nth from either end") {
    tied.createOrReplaceTempView("nth_t5")
    // v is null every 5th row and id 9999 % 5 != 0... make both branches
    // matter: plain last_value picks the final row's v (null or not),
    // IGNORE NULLS picks the final non-null v — tail rings differ
    val q = """SELECT k, id,
        first_value(v) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS f,
        first_value(v) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fn,
        last_value(v) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l,
        last_value(v) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ln
      FROM nth_t5"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalNthValue"),
      s"ordered first/last over full frames must ride the nth exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive:\n$p")
    assertMatchesBuiltIn("ordered first/last_value", 4, Seq("GlobalNthValue"))(spark.sql(q))
    // all-null column: IGNORE NULLS has no candidate anywhere → NULL out
    val allNull = (0 until 100).map(i => (i.toLong, null: java.lang.Long))
      .toDF("id", "x").repartition(4)
    allNull.createOrReplaceTempView("nth_t6")
    val nn = spark.sql("""SELECT id, last_value(x) IGNORE NULLS OVER (ORDER BY id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM nth_t6""")
    assert(nn.queryExecution.executedPlan.toString.contains("GlobalNthValue"))
    assert(nn.collect().forall(_.isNullAt(1)))
  }

  test("per-key prefix nth_value: seeded group heads match the built-in") {
    // skewed: key 0 holds most rows and spans several range partitions;
    // ties on (id % 11) exercise the per-group RANGE run buffering
    val keyed = (0 until 9000).map { i =>
      val k = if (i % 4 != 3) 0L else (i % 17).toLong
      val v: java.lang.Long = if (i % 5 == 0) null else ((i * 2654435761L) % 1000)
      (k, v, i.toLong)
    }.toDF("k", "v", "id").repartition(7)
    keyed.createOrReplaceTempView("nth_keyed")
    val q = """SELECT k, id, v,
                 nth_value(v, 3) OVER (PARTITION BY k ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n3,
                 nth_value(v, 2) IGNORE NULLS OVER (PARTITION BY k ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2nn,
                 nth_value((id % 11) * 7, 4) OVER (PARTITION BY k ORDER BY id % 11
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r4
               FROM nth_keyed"""
    val out = spark.sql(q)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GlobalNthValue"),
      s"per-key prefix nth_value must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(k"),
      s"a hash exchange on k would pin the hot key to one task:\n$p")
    // r4's input is a function of the ORDER key, so which run global
    // position 4 lands in — and hence the value — is deterministic
    // even though intra-run order is not
    assertMatchesBuiltIn("per-key prefix nth_value", 4, Seq("GlobalNthValue"))(spark.sql(q))
    // whole-GROUP frames per key: driver-merged chain candidates for
    // edge groups, local slices for interior ones — first/last/nth
    val fullQ = """SELECT k, id, v,
        nth_value(v, 2) OVER (PARTITION BY k ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nf,
        first_value(v) OVER (PARTITION BY k ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
        last_value(v) OVER (PARTITION BY k ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
        last_value(v) IGNORE NULLS OVER (PARTITION BY k ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lvnn
      FROM nth_keyed"""
    val full = spark.sql(fullQ)
    val fp = full.queryExecution.executedPlan.toString
    assert(fp.contains("GlobalNthValue"),
      s"per-key whole-group first/last/nth must rescue:\n$fp")
    assert(!fp.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$fp")
    assertMatchesBuiltIn("per-key whole-group frames", 4, Seq("GlobalNthValue")) {
      spark.sql(fullQ)
    }
  }

  test("n beyond the head cap: global fetches the one value; per-key falls back") {
    tied.createOrReplaceTempView("nth_cap")
    // every shape family through the fetch path: ROWS prefix, IGNORE
    // NULLS, bare-ORDER-BY RANGE, and fromEnd (ordered last_value)
    val q = """SELECT k, id,
        nth_value(v, 9) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n9,
        nth_value(v, 11) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ig11,
        nth_value(vk, 40) OVER (ORDER BY k) AS r40,
        last_value(v) OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
        last_value(v) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lvnn,
        nth_value(v, 13) IGNORE NULLS OVER (ORDER BY k, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS full13
      FROM nth_cap"""
    // cap 0: pass 1 collects NO candidates — every present value must
    // come from the targeted second job, for all four families; the
    // global path has no n cap, so it must still claim
    withConf(GlobalNthValueStrategy.MaxNKey, "0") {
      assertMatchesBuiltIn("values fetched past the cap", 4, Seq("GlobalNthValue")) {
        spark.sql(q)
      }
      // per-key: the cap IS a claiming bound (per-group heads are
      // executor-resident) — past it the built-in must survive
      val pk = spark.sql("""SELECT id, nth_value(v, 3) OVER (PARTITION BY k
          ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        FROM nth_cap""")
      assert(!pk.queryExecution.executedPlan.toString.contains("GlobalNthValue"),
        "per-key n above the cap must keep the spillable built-in")
    }
    // default cap: a giant n still claims globally (fetch, not fallback)
    val big = spark.sql("""SELECT id, nth_value(v, 100000) OVER (ORDER BY k, id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n FROM nth_cap""")
    assert(big.queryExecution.executedPlan.toString.contains("GlobalNthValue"),
      "global n above the cap must claim — the fetch bounds memory, not a fallback")
  }
}
