package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts: a listener counts job starts
  * per job group, the block runs in its own group, and a one-task
  * sentinel job in a second group marks the end of the block's events
  * on the listener bus (the bus delivers events in posting order). */
trait JobCounting { self: SparkSuite =>

  /** `SparkContext.SPARK_JOB_GROUP_ID` (private to Spark). */
  private val JobGroupKey = "spark.jobGroup.id"
  private val starts = new ConcurrentHashMap[String, AtomicInteger]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty(JobGroupKey))).foreach { g =>
          starts.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** `body`'s result and the number of jobs it started. */
  def countingJobs[T](body: => T): (T, Int) = {
    listener
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val out = inGroup(group)(body)
    val sentinel = s"$group-end"
    inGroup(sentinel)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!starts.containsKey(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(starts.containsKey(sentinel), "listener bus did not deliver the sentinel job")
    (out, Option(starts.get(group)).map(_.get).getOrElse(0))
  }
}
