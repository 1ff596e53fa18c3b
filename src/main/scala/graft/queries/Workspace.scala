package graft.queries

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Where the queries' on-disk state lives and when it is freed. An
  * index-backed query persists a store or an index that the session's
  * later queries reuse; each such root sits in one directory per
  * application, `<java.io.tmpdir>/graft_ws_<applicationId>`, which is
  * deleted when the SparkContext stops and by
  * [[PipelineQueries.releaseCaches]]. [[once]] makes a root's one-off
  * build idempotent. */
object Workspace {
  /** Workspace directories whose SparkContext has not stopped. */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The session's workspace directory (it may not exist yet). */
  def dir(s: SparkSession): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ws_${s.sparkContext.applicationId}"

  /** The root of state `name` built from input directory `dir`. The
    * first call of an application arranges the workspace's deletion at
    * context stop, so a session that never asks for a root pays nothing. */
  def root(s: SparkSession, dir: String, name: String): String = {
    val ws = this.dir(s)
    if (live.add(ws)) s.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        live.remove(ws)
        FileUtil.fullyDelete(new java.io.File(ws))
      }
    })
    s"$ws/${name}_${Integer.toHexString(dir.hashCode)}"
  }

  /** Run `build` on an emptied `root` unless its done-marker stands. The
    * marker is written only after `build` returns, so a build that
    * throws starts over on the next call instead of leaving a half-built
    * root that later calls accept. */
  def once(s: SparkSession, root: String)(build: => Unit): Unit = {
    val marker = new Path(root, "_DONE")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      fs.delete(new Path(root), true)
      build
      fs.createNewFile(marker)
    }
  }

  /** Delete every live workspace; the frames read from it must already
    * be released. Later roots are rebuilt on first use. */
  private[queries] def clear(): Unit =
    live.forEach(ws => FileUtil.fullyDelete(new java.io.File(ws)))
}
