package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratch: mean recall@10 per method / probe width. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val r = SparkEntry.queries("q_knn_recall")(s, dir)
      .groupBy("method").agg(avg("recall_at_10").as("mean_recall"))
      .orderBy("method")
    r.show(50, false)
    // probe-width sweep on the persisted index
    import graft.pipeline.{Similarity, VectorIndex}
    val v = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cents = v.filter(col("vec_id").between(5, 4 + Similarity.IvfC)).orderBy("vec_id")
      .collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val path = graft.queries.Workspace.root(s, dir, "vindex_probe")
    VectorIndex.ensure(v.filter(col("vec_id") >= 5), col("v"), cents, path)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val brute = SparkEntry.queries("q_knn_cosine_brute")(s, dir).select("q_id", "vec_id")
    for (np <- Seq(8, 10, 12, 14)) {
      val appx = VectorIndex.probeSet(s, path, "vec_id", "v", q, "q_id", "qv",
        cents, np, 10).select("q_id", "vec_id")
      val rec = brute.join(appx, Seq("q_id", "vec_id")).count() / 50.0
      println(f"[recall] nProbe=$np%2d recall@10=$rec%.2f")
    }
    s.stop()
  }
}
