package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev profiler: run queries with a job-level listener and print, per
  * pass, wall seconds plus per-job wall/task time keyed by the job's
  * call site. Attribution tool for the r19 optimization round — answers
  * "which action/checkpoint owns this query's seconds" without the UI
  * (disabled in this sandbox). Not part of any driver contract.
  *
  *   tools/run_main.sh graft.ProfStages q_refresh_e2e [reps]
  */
object ProfStages {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val topN = sys.env.getOrElse("PROF_TOP", "24").toInt
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    // PROF_CONF="k=v;k=v" — extra confs for config A/B experiments
    sys.env.get("PROF_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    final case class JobAgg(site: String, var t0: Long = 0, var t1: Long = 0,
      var taskSec: Double = 0, var nTasks: Int = 0, var nStages: Int = 0)
    final case class StageAgg(name: String, taskSec: Double, nTasks: Int,
      shuffleReadMB: Double, shuffleWriteMB: Double)
    val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[StageAgg]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
        jobs(j.jobId) = JobAgg(site, j.time)
        j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(j.jobId).foreach(_.t1 = j.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        stageJob.get(si.stageId).flatMap(jobs.get).foreach { a =>
          a.taskSec += si.taskMetrics.executorRunTime / 1e3
          a.nTasks += si.numTasks
          a.nStages += 1
        }
        // prefer the first graft frame in the stage's submission stack —
        // SQLExecution futures (broadcast builds, checkpoint jobs) all
        // share the same uninformative callsite name otherwise
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfStages"))
          .map(_.trim.stripPrefix("at ").take(90))
        stages += StageAgg(graftFrame.getOrElse(si.name.linesIterator.next().take(90)),
          si.taskMetrics.executorRunTime / 1e3, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    }

    // session + index warmup exactly like Bench (untimed)
    s.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    val qname = args(0)
    if (SparkEntry.indexBackedQueries.contains(qname))
      try SparkEntry.queries(qname)(s, dir).count() catch { case _: Throwable => () }

    val fn = SparkEntry.queries(qname)
    SparkEntry.withRescueGate(s, qname)(for (r <- 1 to reps) {
      jobs.clear(); stageJob.clear(); stages.clear()
      s.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(s, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      s.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      val all = jobs.values.toSeq
      println(f"\n=== $qname pass $r: wall $wall%.2f s, rows=$n, jobs=${all.size}, " +
        f"job-wall sum ${all.map(a => (a.t1 - a.t0) / 1e3).sum}%.1f s, " +
        f"task-sec total ${all.map(_.taskSec).sum}%.1f ===")
      // group by call site: total job wall, count — the fixed-overhead view
      val bySite = all.groupBy(_.site).map { case (site, as) =>
        (site, as.map(a => (a.t1 - a.t0) / 1e3).sum, as.map(_.taskSec).sum,
          as.size, as.map(_.nTasks).sum)
      }.toSeq.sortBy(-_._2)
      bySite.take(topN).foreach { case (site, w, ts, nj, nt) =>
        println(f"  jobs $nj%3d  wall $w%7.2f s  task $ts%8.1f s  tasks $nt%5d  $site")
      }
      // per-stage view (grouped by stage name = last action call site):
      // the "which operator owns the CPU" answer when jobs are unlabeled
      val byStage = stages.groupBy(_.name).map { case (n, ss) =>
        (n, ss.map(_.taskSec).sum, ss.map(_.nTasks).sum, ss.size,
          ss.map(_.shuffleReadMB).sum, ss.map(_.shuffleWriteMB).sum)
      }.toSeq.sortBy(-_._2)
      println("  -- top stages by task-sec --")
      byStage.take(topN).foreach { case (n, ts, nt, ns, srd, swr) =>
        println(f"  stages $ns%3d  task $ts%8.1f s  tasks $nt%5d  shufR ${srd}%7.1f MB  shufW ${swr}%7.1f MB  $n")
      }
    })
    s.stop()
  }
}
