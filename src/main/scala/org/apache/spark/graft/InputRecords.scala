package org.apache.spark.graft

import org.apache.spark.TaskContext

/** The running task's records-read input metric, for graft execs that
  * read files themselves (Spark's file scan RDD updates it for its own
  * reads; the counter is private to Spark's packages). */
object InputRecords {
  /** Adds to the current task's records read; a no-op off a task. */
  def counter(): Long => Unit = Option(TaskContext.get()) match {
    case Some(t) =>
      val m = t.taskMetrics().inputMetrics
      n => m.incRecordsRead(n)
    case None => _ => ()
  }
}
