package perfbench

import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JSON text of the run record, written with Jackson and its Scala
  * module from Spark's own jars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  /** CPU time of the whole process (all threads), in milliseconds. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6
  /** Time spent in garbage collection so far, in milliseconds. */
  def gcMs(): Double = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t.toDouble }
}

/** Spark listener that records every job with the benchmark operation
  * and span it ran under, and every stage with its task counters. It is
  * registered in every run: the job count per operation is an end-to-end
  * metric, so it is never switched off. */
final class JobLog extends SparkListener {
  import JobLog._
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time.toDouble,
      "end" -> e.time.toDouble, "op" -> Option(prop(OpKey)).map(_.toLong).getOrElse(-1L),
      "span" -> Option(prop(SpanKey)).map(_.toLong).getOrElse(-1L),
      "label" -> prop("spark.job.description"), "ok" -> false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stages.getOrElseUpdate(info.stageId, mutable.Map[String, Any](
      "id" -> info.stageId, "job" -> stageJob.getOrElse(info.stageId, -1),
      "callsite" -> info.details.linesIterator.take(40).mkString("\n"),
      "task_ms" -> 0L, "shuffle_read" -> 0L, "shuffle_write" -> 0L,
      "spill" -> 0L, "records_read" -> 0L, "bytes_read" -> 0L, "tasks" -> 0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
      add("tasks", 1)
      add("task_ms", m.executorRunTime)
      add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("records_read", m.inputMetrics.recordsRead)
      add("bytes_read", m.inputMetrics.bytesRead)
    }
  }

  /** Jobs and stages recorded so far, once every posted event is delivered. */
  def records(sc: SparkContext): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized((jobs.values.map(_.toMap).toSeq, stages.values.map(_.toMap).toSeq))
  }
}

object JobLog {
  /** Local properties that tag each job with the operation and the
    * innermost span that submitted it (inherited by Spark's own
    * execution threads, so broadcast and subquery jobs are tagged too). */
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Spans around each call into a layer of the program. With tracing off
  * `span` only runs its body, so untraced runs pay nothing but the call.
  * Spans are kept in memory and written out when the run ends. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var op = -1L

  /** Starts operation `id`: every job until the next call is tagged with it. */
  def beginOp(id: Long): Unit = {
    op = id
    sc.setLocalProperty(JobLog.OpKey, id.toString)
  }

  /** Runs `body` as span `name`. `attrs` is evaluated after the body, so
    * it can report counters the body measured. */
  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1L)
      stack.push(id)
      sc.setLocalProperty(JobLog.SpanKey, id.toString)
      val t0 = Clock.ms()
      try body
      finally {
        val t1 = Clock.ms()
        stack.pop()
        sc.setLocalProperty(JobLog.SpanKey, stack.headOption.map(_.toString).orNull)
        spans.synchronized {
          spans += Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
            "start" -> t0, "end" -> t1) ++ attrs
        }
      }
    }

  def records: Seq[Map[String, Any]] = spans.synchronized(spans.toSeq)
}
