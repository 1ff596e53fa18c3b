package graft.queries

import graft.{SparkEntry, SparkSuite}
import java.io.File
import org.apache.spark.sql.SparkSession

/** The query workspace: one-off builds that fail start over, the
  * workspace dies with `releaseCaches()` and with its SparkContext, and
  * only the queries listed in `indexBacked` create state in it. */
class WorkspaceSpec extends SparkSuite {

  private def wsDir(s: SparkSession) = new File(Workspace.dir(s))

  test("a once build that throws leaves no marker and runs again on the next call") {
    val root = Workspace.root(spark, "/workspace-spec/input", "once_probe")
    var runs = 0
    intercept[IllegalStateException](Workspace.once(spark, root) {
      runs += 1
      assert(new File(root, "partial").mkdirs())
      throw new IllegalStateException("build failed half way")
    })
    Workspace.once(spark, root) {
      runs += 1
      assert(!new File(root).exists(), "a retried build must start on an emptied root")
      assert(new File(root, "whole").mkdirs())
    }
    Workspace.once(spark, root)(runs += 1)
    assert(runs == 2, "the failed build must run again, the finished one never")
    assert(new File(root, "whole").isDirectory)
  }

  test("releaseCaches() removes the workspace dir; the next query rebuilds its root") {
    val q = SparkEntry.queries("q_text_prefix")
    val first = q(spark, sf()).collect().toSeq
    assert(wsDir(spark).isDirectory)
    PipelineQueries.releaseCaches()
    assert(!wsDir(spark).exists())
    assert(q(spark, sf()).collect().toSeq == first)
    assert(wsDir(spark).isDirectory)
  }

  // Built in one loop from an emptied workspace with no listed query in
  // between: a name-sorted walk over ALL queries would let a listed query
  // create a shared root (q_text_bm25's text index) before an unlisted
  // one that builds the same root (q_text_prefix) is checked.
  test("no query outside indexBacked creates a workspace root") {
    PipelineQueries.releaseCaches()
    val listed = SparkEntry.indexBackedQueries.toSet
    val creators = SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => listed(q._1))
      .flatMap { case (name, fn) =>
        fn(spark, sf())
        val made = Option(wsDir(spark).list()).toSeq.flatten
        Workspace.clear()
        if (made.isEmpty) None else Some(s"$name: ${made.sorted.mkString(", ")}")
      }
    assert(creators.isEmpty,
      s"unlisted queries built workspace state:\n${creators.mkString("\n")}")
  }

  test("stopping the SparkContext removes its workspace dir") {
    // one SparkContext per JVM: the shared suite session gives way to a
    // private one (later suites' getOrCreate starts a fresh session);
    // its registered frames are released first so none outlives it
    PipelineQueries.releaseCaches()
    spark.stop()
    val p = SparkSession.builder().master("local[1]").appName("WorkspaceSpec-private")
      .config("spark.ui.enabled", "false").getOrCreate()
    val ws = wsDir(p)
    try {
      val root = Workspace.root(p, sf(), "stop_probe")
      Workspace.once(p, root)(assert(new File(root).mkdirs()))
      assert(ws.isDirectory)
    } finally p.stop()
    assert(!ws.exists(), s"$ws survived its SparkContext")
  }
}
