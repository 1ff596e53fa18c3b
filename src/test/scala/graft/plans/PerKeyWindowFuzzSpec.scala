package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded differential over the PARTITION BY window rescues: round r
  * checks draw r of nine — the eight families of [[GlobalWindowStrategy]],
  * lag/lead drawn once per null mode — on a random
  * input with one hot key holding 40–80 % of the rows (plus a drawn
  * share of null keys, null values and value ties), at 16 and at 61
  * uncoalesced shuffle partitions over a range exchange, so the hot key
  * spans tasks and every family reaches its edge chains whatever the
  * draw. The rescued plan
  * must collect the same rows as Spark's built-in hash-partitioned
  * WindowExec. A fixed profile, 20k rows with one key holding half of
  * them, runs every family. Seed fixed — failures reproduce. */
class PerKeyWindowFuzzSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // override for deep soaks: -Dgraft.fuzz.seed=… -Dgraft.fuzz.rounds=…
  private val rnd = new scala.util.Random(
    sys.props.getOrElse("graft.fuzz.seed", "8132026").toLong)
  private val rounds = sys.props.getOrElse("graft.fuzz.rounds", "9").toInt

  private def randomDf(): DataFrame = {
    val n = 500 + rnd.nextInt(4000)
    val nKeys = 1 + rnd.nextInt(40)
    val hot = rnd.nextInt(nKeys)
    // mostly-null keys in one draw of three
    val nullKeyPct = if (rnd.nextInt(3) == 2) 40 + rnd.nextInt(40) else rnd.nextInt(10)
    val hotPct = 40 + rnd.nextInt(40)
    val nullValPct = rnd.nextInt(30)
    // few distinct values give long peer runs for the value orders
    val valSpread = Seq(5, 50, 500)(rnd.nextInt(3))
    (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(100) < nullKeyPct) null
        else if (rnd.nextInt(100) < hotPct) hot.toLong
        else rnd.nextInt(nKeys).toLong
      val v: java.lang.Long =
        if (rnd.nextInt(100) < nullValPct) null else rnd.nextInt(valSpread).toLong
      (k, v, i.toLong)
    }.toDF("k", "v", "id").repartition(2 + rnd.nextInt(8)) // one partition needs no exchange
  }

  // key 7 owns ~half the rows — the hot user; some null keys and values
  private lazy val hotKey = (0 until 20000).map { i =>
    val k: java.lang.Long =
      if (i % 31 == 0) null else if (i % 2 == 0) 7L else (i % 13).toLong
    val v: java.lang.Long =
      if (i % 11 == 0) null else ((i * 2654435761L) % 1000)
    (k, v, i.toLong)
  }.toDF("k", "v", "id").repartition(9)

  /** The tie-free per-key order (`id`) in a random direction. */
  private def byId() = Window.partitionBy("k")
    .orderBy(if (rnd.nextBoolean()) col("id").asc else col("id").desc)

  /** The per-key value order (`v`, ties and nulls) in a random direction. */
  private def byV() = Window.partitionBy("k")
    .orderBy(if (rnd.nextBoolean()) col("v").asc_nulls_first else col("v").desc_nulls_last)

  /** The families in [[GlobalWindowStrategy.families]] order, lag/lead
    * once per null mode: a name, the exec the rescue must plan, and a
    * draw of window columns
    * whose values are deterministic (position-based frames order by the
    * unique `id`; the value order `v` only feeds peer-inclusive shapes). */
  private val families: IndexedSeq[(String, String, () => Seq[(String, Column)])] =
    IndexedSeq(
      ("ranking", "GlobalRowNumber", () => {
        val wd = byId(); val wv = byV()
        Seq("rn" -> row_number().over(wd), "nt" -> ntile(1 + rnd.nextInt(5)).over(wd),
          "rnk" -> rank().over(wv), "drnk" -> dense_rank().over(wv),
          "prk" -> percent_rank().over(wv), "cd" -> cume_dist().over(wv))
      }),
      ("lag/lead", "GlobalOffsetWindow", () => {
        val w = byId()
        Seq("a" -> lag("v", 1 + rnd.nextInt(5), -1L).over(w),
          "b" -> lead("v", 1 + rnd.nextInt(5)).over(w))
      }),
      ("lag/lead IGNORE NULLS", "GlobalOffsetWindow", () => {
        val w = byId()
        Seq("a" -> lag(col("v"), 1 + rnd.nextInt(3), null, true).over(w),
          "b" -> lead(col("v"), 1 + rnd.nextInt(4), -1L, true).over(w))
      }),
      ("running", "GlobalRunningAgg", () => {
        val w =
          if (rnd.nextBoolean()) byV() // RANGE: peers share the run-end value
          else byId().rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Seq("mn" -> min("v").over(w), "mx" -> max("v").over(w),
          "s" -> sum("v").over(w), "c" -> count("v").over(w))
      }),
      ("suffix", "GlobalRunningAgg", () => {
        val w =
          if (rnd.nextBoolean())
            byV().rangeBetween(Window.currentRow, Window.unboundedFollowing)
          else byId().rowsBetween(Window.currentRow, Window.unboundedFollowing)
        Seq("mx" -> max("v").over(w), "s" -> sum("v").over(w),
          "c" -> count(lit(1)).over(w))
      }),
      ("sliding", "GlobalSlidingAgg", () => {
        val w = byId().rowsBetween(-(1 + rnd.nextInt(8)), rnd.nextInt(5))
        Seq("s" -> sum("v").over(w), "mn" -> min("v").over(w),
          "c" -> count(lit(1)).over(w), "a" -> avg("v").over(w))
      }),
      ("group constant", "GlobalConstantAgg", () => {
        val w = Window.partitionBy("k")
        Seq("s" -> sum("v").over(w), "c" -> count("v").over(w),
          "mn" -> min("v").over(w), "mx" -> max("v").over(w))
      }),
      ("RANGE frame", "GlobalRangeFrame", () => {
        val x = rnd.nextInt(40); val y = rnd.nextInt(40)
        val w = Window.partitionBy("k").orderBy("v")
          .rangeBetween(if (x + y == 0) -1 else -x, y)
        Seq("c" -> count(lit(1)).over(w), "s" -> sum("v").over(w))
      }),
      ("nth_value", "GlobalNthValue", () => {
        val w = byId()
        val prefix = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Seq("nv" -> nth_value(col("v"), 1 + rnd.nextInt(6)).over(prefix),
          "nvnn" -> nth_value(col("v"), 1 + rnd.nextInt(4), true).over(prefix),
          "lv" -> last_value(col("v")).over(full),
          "fvnn" -> first_value(col("v"), lit(true)).over(full))
      }))

  /** Uncoalesced shuffle partitions for the hot-key profile: from one
    * task to more tasks than most keys span. */
  private def parts() = Seq(1, 4, 16, 61)(rnd.nextInt(4))

  private def check(what: String, df: DataFrame, family: Int, parts: Int): Unit = {
    val (_, exec, draw) = families(family)
    val cols = draw()
    assertMatchesBuiltIn(s"$what over ${cols.map(_._2).mkString(", ")}", parts,
        Seq(exec, "rangepartitioning")) {
      cols.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
    }
  }

  (0 until rounds).foreach { round =>
    val family = round % families.length
    test(s"fuzz round $round: per-key ${families(family)._1} matches the built-in") {
      val df = randomDf()
      Seq(16, 61).foreach(p => check(s"round $round", df, family, p))
    }
  }

  test("a hot key holding half of 20k rows: every per-key family matches the built-in") {
    families.indices.foreach(f => check(s"hot key, ${families(f)._1}", hotKey, f, parts()))
  }
}
