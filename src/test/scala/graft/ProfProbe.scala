package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev profiler for the gram containment probe (the r19 optimization
  * round's hottest shared core): wires probeContainment's stageTimer and
  * reports per-stage seconds — dfs_prefix (the prefix-rank shuffle),
  * cand_postings (postings read + candidate cut), and the remainder
  * (profiles read + verify join + output sort) — plus the batch
  * shingling build. Not part of any driver contract.
  *
  *   tools/run_main.sh graft.ProfProbe [reps]
  */
object ProfProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    // build index + batch exactly like q_containment_incremental
    val name = "q_containment_incremental"
    SparkEntry.queries(name)(s, dir).count() // warm: index build + persists
    import graft.queries.PipelineQueries
    val base = graft.queries.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = graft.queries.Workspace.root(s, dir, "gramindex")
    val batchSets = graft.pipeline.TextAnalysis
      .shingleRows(PipelineQueries.containmentBatch(base))
      .withColumn("x", graft.pipeline.Dedup.baseHash32(col("s")))
      .select("doc_id", "x").distinct()
      .persist()
    println(s"batch set rows: ${batchSets.count()}")
    for (r <- 1 to reps) {
      val t = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      val out = graft.store.GramIndex.probeContainment(s, path, batchSets,
        stageTimer = (k, v) => t(k) = v)
      val tPlan = (System.nanoTime() - t0) / 1e9
      val n = out.count()
      val tAll = (System.nanoTime() - t0) / 1e9
      println(f"pass $r: total $tAll%.2f s (construction $tPlan%.2f s: " +
        t.map { case (k, v) => f"$k $v%.2f" }.mkString(", ") +
        f"), verify+action ${tAll - tPlan}%.2f s, rows=$n")
    }
    s.stop()
  }
}
