package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the salted ordered range scan (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.queries("q_range_scan_ordered")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefQueries.queries ++ AnalyticQueries.queries ++ PipelineQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RefQueries.oracle ++ AnalyticQueries.oracle ++ PipelineQueries.oracle
  /** Queries backed by a persisted index built once per process —
    * Bench warms these untimed (see PipelineQueries.indexBacked). */
  def indexBackedQueries: Seq[String] = PipelineQueries.indexBacked
  /** The q_skew_* queries exist to DEMONSTRATE the skew-safe per-key
    * window rescue, so Verify/Bench pin the size gate
    * ([[graft.plans.GlobalWindowGate]]) open around them — on test-scale
    * data the gate would otherwise (correctly) choose the stock plan
    * and the demos would demo nothing. Everything else runs the
    * production default: stock hash-partition windows below
    * `spark.graft.perKeyWindow.minChildBytes`, the rescue above it. */
  def pinsRescueGate(name: String): Boolean =
    name.startsWith("q_skew_") || name == "q_collect_window"
  /** Run `body` with the size gate pinned open when query `name` needs
    * it ([[pinsRescueGate]]), then restore the session's previous value.
    * The pin must span the action, not just the build: planning is lazy. */
  def withRescueGate[T](spark: SparkSession, name: String)(body: => T): T =
    if (!pinsRescueGate(name)) body
    else {
      val key = graft.plans.GlobalWindowGate.MinBytesKey
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "0")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
}
