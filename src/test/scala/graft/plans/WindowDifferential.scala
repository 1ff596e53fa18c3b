package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The differential the window specs share: a frame planned with the
  * rescues must collect the same rows as the same frame planned as
  * Spark's built-in WindowExec (`spark.graft.globalRowNumber.enabled=
  * false`), over uncoalesced shuffle partitions. */
trait WindowDifferential { self: SparkSuite =>

  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Rows as sorted strings, nulls spelled out. */
  def show(rows: Array[Row]): Seq[String] = rows
    .map(r => (0 until r.length).map(j =>
      Option(r.get(j)).map(_.toString).getOrElse("null")).mkString("|"))
    .sorted.toSeq

  /** The rows of `d` as sorted strings. */
  def snap(d: DataFrame): Seq[String] = show(d.collect())

  /** Whether `d`'s executed plan keeps a built-in WindowExec. */
  def plansBuiltIn(d: DataFrame): Boolean = d.queryExecution.executedPlan.toString
    .linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window ["))

  /** The window rescue execs in `d`'s executed plan, inside AQE stages
    * too. */
  def rescues(d: DataFrame): Seq[GlobalWindowExec] =
    WindowDifferential.collect(d.queryExecution.executedPlan) {
      case g: GlobalWindowExec => g
    }

  /** Whether `d`'s executed plan holds a window rescue exec. */
  def plansRescue(d: DataFrame): Boolean = rescues(d).nonEmpty

  /** Builds `frame` once per side, since a Dataset keeps its first
    * executed plan: the rescued side must plan every node named in
    * `execs` and, when `whole`, no WindowExec; the opt-out side must plan
    * no rescue, and a WindowExec wherever the rescued side planned one
    * (the optimizer drops a window over an empty relation on both
    * sides); both must collect the same rows. `parts` is the shuffle
    * partition count; `what` names the case in failure messages.
    * Returns the rescued side's rows for further checks. */
  def assertMatchesBuiltIn(what: => String, parts: Int, execs: Seq[String] = Nil,
      whole: Boolean = true)(frame: => DataFrame): Array[Row] =
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      withConf("spark.sql.shuffle.partitions", parts.toString) {
        val rescued = frame
        val plan = rescued.queryExecution.executedPlan.toString
        if (whole) assert(!plansBuiltIn(rescued), s"$what: a frame escaped the rescue:\n$plan")
        execs.foreach(e => assert(plan.contains(e), s"$what: expected $e:\n$plan"))
        val rows = rescued.collect()
        val got = show(rows)
        val expected = withConf(GlobalWindowStrategy.ConfKey, "false") {
          val stock = frame
          assert(!plansRescue(stock) && (plansBuiltIn(stock) || !plansRescue(rescued)),
            s"$what: the opt-out still plans a rescue:\n" + stock.queryExecution.executedPlan)
          snap(stock)
        }
        if (got != expected) fail(s"$what diverged from the built-in at $parts " +
          s"shuffle partitions; rescued ${got.diff(expected).take(3)}, " +
          s"built-in ${expected.diff(got).take(3)}")
        rows
      }
    }
}

/** Plan-tree walks that look inside AQE stages. */
private object WindowDifferential extends AdaptiveSparkPlanHelper
