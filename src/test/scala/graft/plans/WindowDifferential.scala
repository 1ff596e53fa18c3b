package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** The differential the window fuzz specs share: a frame planned with
  * the rescues must collect the same rows as the same frame planned as
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

  /** The rows of `d` as sorted strings, nulls spelled out. */
  def snap(d: DataFrame): Seq[String] = d.collect()
    .map(r => (0 until r.length).map(j =>
      Option(r.get(j)).map(_.toString).getOrElse("null")).mkString("|"))
    .sorted.toSeq

  /** Whether `d`'s executed plan keeps a built-in WindowExec. */
  def plansBuiltIn(d: DataFrame): Boolean = d.queryExecution.executedPlan.toString
    .linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window ["))

  /** Builds `frame` once per side, since a Dataset keeps its first
    * executed plan: the rescued side must plan no WindowExec and every
    * node named in `execs`, the opt-out side must plan a WindowExec, and
    * both must collect the same rows. `parts` is the shuffle partition
    * count; `what` names the case in failure messages. */
  def assertMatchesBuiltIn(what: => String, parts: Int, execs: Seq[String] = Nil)(
      frame: => DataFrame): Unit =
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      withConf("spark.sql.shuffle.partitions", parts.toString) {
        val rescued = frame
        val plan = rescued.queryExecution.executedPlan.toString
        assert(!plansBuiltIn(rescued), s"$what: a frame escaped the rescue:\n$plan")
        execs.foreach(e => assert(plan.contains(e), s"$what: expected $e:\n$plan"))
        val got = snap(rescued)
        val expected = withConf(GlobalRowNumberStrategy.ConfKey, "false") {
          val stock = frame
          assert(plansBuiltIn(stock), s"$what: the opt-out still plans a rescue:\n" +
            stock.queryExecution.executedPlan)
          snap(stock)
        }
        if (got != expected) fail(s"$what diverged from the built-in at $parts " +
          s"shuffle partitions; rescued ${got.diff(expected).take(3)}, " +
          s"built-in ${expected.diff(got).take(3)}")
      }
    }
}
