package graft.store

import graft.pipeline.{Dedup, TextAnalysis, TextIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted sharded index driven through its public lifecycle API.
  * Docs are (doc_id, text) pairs; `probe` CONSTRUCTS the index's probe
  * for a fixed batch that matches every doc carrying the text of doc 7
  * or doc 4 ([[IndexLifecycle.doc]]) — the text index's probe matches
  * every doc — and [[IndexLifecycle.answer]] executes it. `audit` reads
  * the index-specific state a lifecycle step must carry over, one row
  * per live doc with its id in `doc_id`: gram's probe answer, band's
  * per-doc verification sketches over the whole index, text's BM25
  * scores (which depend on the manifest's doc and token totals). */
final case class IndexUnderTest(
    name: String,
    layout: ShardedLayout,
    write: (Seq[(Long, String)], String, Int) => Unit,
    append: (Seq[(Long, String)], String) => Unit,
    delete: (Seq[Long], String) => Unit,
    compact: String => Unit,
    reshard: (String, Int) => Unit,
    storedShards: String => Option[Int],
    probe: String => DataFrame,
    audit: String => DataFrame)

/** The table the lifecycle specs (FoldAtomicSpec, ConcurrentFoldSpec,
  * ProbeRetrySpec, ReshardSpec) run over: every crash and concurrency
  * contract of [[ShardedLayout]] is checked once per index type. */
object IndexLifecycle {
  val Names = Seq("gram", "band", "text")

  def doc(i: Long): String =
    s"alpha bravo charlie delta echo token$i foxtrot golf hotel india$i"

  /** Doc ids `ids` carrying the text of `textOf(id)`. */
  def docs(ids: Seq[Long], textOf: Long => Long = identity): Seq[(Long, String)] =
    ids.map(i => (i, doc(textOf(i))))

  /** The probe's rows, sorted, duplicates kept: a row read from both
    * sides of a fold shows up twice. */
  def answer(df: DataFrame): List[String] =
    df.collect().map(_.toString).toList.sorted

  /** The doc ids an audit frame holds. */
  def auditIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  def apply(spark: SparkSession, name: String): IndexUnderTest = {
    import spark.implicits._
    def frame(d: Seq[(Long, String)]) = d.toDF("doc_id", "text")
    def sets(d: Seq[(Long, String)]) = TextAnalysis.shingleRows(frame(d))
      .withColumn("x", Dedup.baseHash32(col("s")))
      .select("doc_id", "x").distinct()
    val batch = Seq((9000L, doc(7)), (9001L, doc(4)))
    def gramProbe(p: String) = GramIndex.probeContainment(spark, p, sets(batch))
    name match {
      case "gram" => IndexUnderTest(name, GramIndex.layout,
        (d, p, n) => GramIndex.write(sets(d), p, n),
        (d, p) => GramIndex.append(sets(d), p),
        (ids, p) => GramIndex.delete(spark, p, ids),
        p => GramIndex.compact(spark, p),
        (p, n) => GramIndex.reshard(spark, p, n),
        p => GramIndex.storedShards(spark, p),
        gramProbe,
        p => gramProbe(p).select(col("b").as("doc_id"), col("a"), col("containment")))
      case "band" => IndexUnderTest(name, BandIndex.layout,
        (d, p, n) => BandIndex.write(Dedup.docSketch(frame(d)), p, n),
        (d, p) => BandIndex.append(Dedup.docSketch(frame(d)), p),
        (ids, p) => BandIndex.delete(spark, p, ids),
        p => BandIndex.compact(spark, p),
        (p, n) => BandIndex.reshard(spark, p, n),
        p => BandIndex.storedShards(spark, p),
        // candidates joined with their verification sketches: a doubled
        // band or sketch row surfaces as a doubled answer row
        p => {
          val cand = BandIndex.probeCandidates(spark, p,
            Dedup.bandRows(Dedup.docSketch(frame(batch)), "doc_id"), "doc_id")
          cand.join(BandIndex.sketchesFor(spark, p, cand.select("a"))
              .withColumnRenamed("doc_id", "a"), "a")
            .select(col("a"), col("b"), size(col("sh")))
        },
        p => BandIndex.sketches(spark, p))
      case "text" => IndexUnderTest(name, TextIndex.layout,
        (d, p, n) => TextIndex.write(frame(d), p, shards = n),
        (d, p) => TextIndex.write(frame(d), p, mode = "append"),
        (ids, p) => TextIndex.delete(spark, p, ids),
        p => TextIndex.compact(spark, p),
        (p, n) => TextIndex.reshard(spark, p, n),
        p => TextIndex.storedShards(spark, p),
        // every doc carries both terms once: a doubled posting doubles tf
        p => TextIndex.searchAll(spark, p, Seq("alpha", "bravo")),
        // b > 0: avgdl = tokens / docs enters every score
        p => TextIndex.searchRanked(spark, p, Seq("alpha", "bravo"), b = 0.75))
    }
  }

  /** Plant a fold that died after appending the live delta rows into
    * every sharded layer but before its manifest swap and `_folded`
    * mark: segment rows now sit on BOTH sides, fold marker standing. */
  def plantCrashedFold(spark: SparkSession, ix: IndexUnderTest, p: String): Unit = {
    val l = ix.layout
    val n = l.readMeta(spark, p).get
    val fs = fsOf(spark, p)
    val segs = DeltaSegments.liveSegs(fs, new Path(p, l.deltaDir))
    assert(segs.nonEmpty, "no live delta segment to fold")
    l.layers.foreach { layer =>
      spark.read.parquet(segs.map(s => l.layerPath(s.toString, layer)): _*)
        .withColumn("shard", l.shardOf(col(layer.shardCol), n))
        .repartition(col("shard"))
        .write.mode("append").partitionBy("shard").parquet(l.layerPath(p, layer))
    }
    fs.create(new Path(p, l.foldingMarker), true).close()
  }
}
