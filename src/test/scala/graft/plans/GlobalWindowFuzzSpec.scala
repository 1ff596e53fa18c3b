package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded fuzz over the WHOLE rescued global-window family: random
  * data (key ties, null keys, null values, random partitioning) and
  * random frames from every family must produce values identical to
  * the built-in single-task WindowExec, round after round. Catches
  * edge interactions no hand-written case enumerates (boundary stitch
  * × null runs × tiny partitions × mixed widths). Seed is fixed —
  * failures reproduce. */
class GlobalWindowFuzzSpec extends SparkSuite with WindowDifferential {
  import spark.implicits._

  // override for deep soaks: -Dgraft.fuzz.seed=… -Dgraft.fuzz.rounds=…
  private val rnd = new scala.util.Random(
    sys.props.getOrElse("graft.fuzz.seed", "20260812").toLong)
  private val rounds = sys.props.getOrElse("graft.fuzz.rounds", "6").toInt

  private def randomDf(): DataFrame = {
    val n = 300 + rnd.nextInt(3000)
    val keySpread = 1 + rnd.nextInt(200)
    val nullKeyPct = rnd.nextInt(15)
    val nullValPct = rnd.nextInt(25)
    val rows = (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(100) < nullKeyPct) null else (rnd.nextInt(keySpread) * 3).toLong
      // second order key, heavy ties — composite (k, k2) runs exercise
      // multi-key tie-run equality in every rescue that sees it
      val k2: java.lang.Long =
        if (rnd.nextInt(100) < nullKeyPct) null else rnd.nextInt(7).toLong
      val v: java.lang.Long =
        if (rnd.nextInt(100) < nullValPct) null else rnd.nextInt(1000).toLong
      (k, k2, v, i.toLong)
    }
    rows.toDF("k", "k2", "v", "id").repartition(1 + rnd.nextInt(11))
  }

  /** One random rescued-family window column. Deterministic by
    * construction: unique (k, id) order for position-based frames,
    * peer-inclusive value frames for the ties-only order. */
  private def randomColumn(i: Int): (String, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.expressions.Window
    val unique = Window.orderBy("k", "id")
    val byK = Window.orderBy("k")
    // COMPOSITE key with ties at the (k, k2) grain — deterministic only
    // for peer-inclusive functions (rank family, RANGE-to-current /
    // suffix-RANGE aggregates); position-based frames need `unique`
    val byKK = Window.orderBy("k", "k2")
    val unique3 = Window.orderBy("k", "k2", "id")
    rnd.nextInt(13) match {
      case 0 => // running
        s"c$i" -> sum("v").over(unique.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      case 1 => // suffix
        s"c$i" -> count(lit(1)).over(unique.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      case 2 => // sliding, random bounds containing current row
        val lo = -(1 + rnd.nextInt(9)); val hi = rnd.nextInt(7)
        s"c$i" -> sum("v").over(unique.rowsBetween(lo, hi))
      case 3 => // RANGE value window, random widths each side
        val x = rnd.nextInt(30); val y = rnd.nextInt(30)
        if (x + y == 0) s"c$i" -> max("v").over(byK.rangeBetween(-1, 0))
        else s"c$i" -> count(lit(1)).over(byK.rangeBetween(-x, y))
      case 4 => // whole-table constant
        s"c$i" -> min("v").over(Window.partitionBy())
      case 5 => // ranking (ties fine for rank/dense_rank/percent_rank)
        Seq(s"c$i" -> rank().over(byK), s"c$i" -> dense_rank().over(byK),
          s"c$i" -> percent_rank().over(byK))(rnd.nextInt(3))
      case 6 => // lag/lead
        val off = 1 + rnd.nextInt(4)
        if (rnd.nextBoolean()) s"c$i" -> lag("v", off).over(unique)
        else s"c$i" -> lead("v", off, -7L).over(unique)
      case 7 => // lag/lead IGNORE NULLS
        val off = 1 + rnd.nextInt(3)
        if (rnd.nextBoolean())
          s"c$i" -> lag(col("v"), off, null, true).over(unique)
        else s"c$i" -> lead(col("v"), off, null, true).over(unique)
      case 8 => // nth_value, random n / ignoreNulls / frame
        val n = 1 + rnd.nextInt(500)
        val ign = rnd.nextBoolean()
        val frame =
          if (rnd.nextBoolean())
            unique.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          else unique.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        s"c$i" -> nth_value(col("v"), n, ign).over(frame)
      case 9 => // ordered first/last over the whole-table frame
        val full = unique.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        val ign = rnd.nextBoolean()
        if (rnd.nextBoolean()) s"c$i" -> last_value(col("v"), lit(ign)).over(full)
        else s"c$i" -> first_value(col("v"), lit(ign)).over(full)
      case 10 => // composite (k, k2) ORDER BY, ties at the composite grain:
        // peer-inclusive shapes only (their value is tie-run invariant)
        Seq(
          s"c$i" -> rank().over(byKK),
          s"c$i" -> dense_rank().over(byKK),
          s"c$i" -> sum("v").over(byKK), // bare = RANGE UNBOUNDED..CURRENT, peers share
          s"c$i" -> count(lit(1)).over(
            byKK.rangeBetween(Window.currentRow, Window.unboundedFollowing))
        )(rnd.nextInt(4))
      case 12 => // sorted whole-frame collect_list (ordered constant-agg
        // rescue): unique total order — the only shape whose list order
        // ANY plan pins. Rendered as a joined string for stable compare.
        val base = if (rnd.nextBoolean()) unique else unique3
        s"c$i" -> concat_ws(",",
          collect_list(coalesce(col("v").cast("string"), lit("null"))).over(
            base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      case 11 => // composite 3-key UNIQUE order: position-based frames
        val off = 1 + rnd.nextInt(4)
        Seq(
          s"c$i" -> row_number().over(unique3),
          s"c$i" -> lag("v", off).over(unique3),
          s"c$i" -> sum("v").over(
            unique3.rowsBetween(-(1 + rnd.nextInt(5)), rnd.nextInt(4))),
          s"c$i" -> nth_value(col("v"), 1 + rnd.nextInt(99)).over(
            unique3.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        )(rnd.nextInt(4))
    }
  }

  (0 until rounds).foreach { round =>
    test(s"fuzz round $round: random frames match the built-in bit-for-bit") {
      val df = randomDf()
      val cols = (0 until 2 + rnd.nextInt(3)).map(randomColumn)
      // uncoalesced range partitions, from one task to more tasks than
      // most key groups span: edge chains and stitched rows get reached
      val parts = Seq(1, 4, 16, 61)(rnd.nextInt(4))
      assertMatchesBuiltIn(s"round $round over ${cols.map(_._2).mkString(", ")}", parts) {
        cols.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
      }
    }
  }
}
